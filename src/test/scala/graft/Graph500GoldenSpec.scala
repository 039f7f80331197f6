package graft

import org.apache.spark.sql.functions._
import graft.gen.Kronecker
import graft.etl.EdgeOps
import graft.bfs.Bfs
import graft.validate.Validator

/**
 * End-to-end Graph500 pipeline against the reference's published golden
 * numbers: pf_nedge[SCALE] (reference mpi/utils.hpp:3663-3708) is the
 * traversed-edge count when the whole main component is reached — ef=16,
 * seeds (2,3). Hitting it proves the MRG port, the R-MAT descent, the
 * scramble hash, BFS, and the validator's counting semantics are all
 * bit-exact w.r.t. the reference.
 */
class Graph500GoldenSpec extends SparkSpec {

  val PfNedgeScale10 = 16383L

  test("scale-10 pipeline: BFS validates clean and hits pf_nedge[10]") {
    val raw = Kronecker.generate(spark, 10).cache()
    val clean = EdgeOps.cleanEdges(raw).cache()

    val vertSet = clean.select("src").distinct().collect().map(_.getLong(0)).toSet
    val roots = Kronecker.sampleRoots(4, 1L << 10, vertSet.contains)
    assert(roots.nonEmpty)

    for (root <- roots.take(2)) {
      val result = Bfs.bfsMinParent(spark, clean, root)
      val checks = Validator
        .validate(spark, raw, result.tree, root, 1L << 10)
        .head()
      val errorCols = Seq("range_errors", "root_errors", "self_parent_errors",
        "depth_presence_errors", "depth_chain_errors", "pred_edge_missing",
        "edge_depth_errors")
      for (c <- errorCols)
        assert(checks.getAs[Long](c) === 0L, s"check $c for root $root")
      assert(checks.getAs[Long]("edge_visit_count") === PfNedgeScale10,
        s"pf_nedge golden for root $root")
    }
    raw.unpersist(); clean.unpersist()
  }

  test("level sizes sum to reached vertex count") {
    val raw = Kronecker.generate(spark, 8)
    val clean = EdgeOps.cleanEdges(raw).cache()
    val root = clean.agg(min("src")).head().getLong(0)
    val result = Bfs.bfsMinParent(spark, clean, root)
    val reached = result.tree.filter(col("depth").isNotNull).count()
    assert(result.levelSizes.map(_._2).sum === reached)
    // the search's per-level counts are the tree's depth histogram
    val fromTree = result.tree.filter(col("depth").isNotNull)
      .groupBy("depth").count().collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1))).sortBy(_._1).toSeq
    assert(result.levelSizes === fromTree)
    clean.unpersist()
  }
}
