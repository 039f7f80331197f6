package graft.etl

import graft.SparkSpec
import graft.bfs.Bfs
import graft.validate.Validator
import org.apache.spark.sql.functions._

class EdgeOpsSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  /** triangle 1-2-3 with a duplicate edge, a self-loop, and isolated pair 8-9 */
  def tiny: DataFrame = {
    val implicits = spark.implicits
    import implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 2L), (4L, 4L), (8L, 9L))
      .toDF("src", "dst")
  }

  test("cleanEdges drops loops, symmetrizes, dedups; idempotent") {
    val clean = EdgeOps.cleanEdges(tiny).cache()
    val rows = clean.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L), (8L, 9L), (9L, 8L)))
    assert(EdgeOps.cleanEdges(clean).count() === clean.count())
    clean.unpersist()
  }

  test("sort-based dedups ≡ distinct() on random multigraphs (property)") {
    // cleanEdges and Validator.undirectedRawOf both replaced the
    // HashAggregate distinct with a streaming sort+lag dedup (round-7
    // spill fix); pin the set semantics against the naive plan on
    // random inputs heavy with duplicates, loops, and skewed sources.
    val implicits = spark.implicits
    import implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 3) {
      val n = 200 + rnd.nextInt(300)
      val edges = Seq.fill(n) {
        // skew: half the rows share a handful of sources
        val s = if (rnd.nextBoolean()) rnd.nextInt(3).toLong
                else rnd.nextInt(40).toLong
        val d = rnd.nextInt(40).toLong
        (s, d)
      }
      val raw = edges.toDF("src", "dst")
      val noLoops = raw.filter(col("src") =!= col("dst"))
      val naiveClean = noLoops
        .union(noLoops.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotClean = EdgeOps.cleanEdges(raw).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotClean === naiveClean, s"cleanEdges trial $trial")
      val naiveUndir = noLoops
        .select(least(col("src"), col("dst")).as("lo"),
          greatest(col("src"), col("dst")).as("hi"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotUndir = Validator.undirectedRawOf(raw).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotUndir === naiveUndir, s"undirectedRawOf trial $trial")
    }
  }

  test("degrees and graphCounts") {
    val clean = EdgeOps.cleanEdges(tiny)
    val deg = EdgeOps.degrees(clean).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg === Map(1L -> 2, 2L -> 2, 3L -> 2, 8L -> 1, 9L -> 1))
    val counts = EdgeOps.graphCounts(clean).head()
    assert(counts.getAs[Long]("non_isolated_vertices") === 5L)
    assert(counts.getAs[Long]("max_used_vertex") === 9L)
    assert(counts.getAs[Long]("undirected_edge_count") === 4L)
  }

  test("degreeHistogram: integer bit-length buckets, no FP edges") {
    val implicits = spark.implicits
    import implicits._
    // degrees 1,2,3,4,7,8 → buckets 0,1,1,2,2,3 (bit_length − 1)
    val deg = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 7L),
      (6L, 8L)).toDF("vertex", "degree")
    val out = EdgeOps.degreeHistogram(deg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(out.toSeq === Seq((0L, 1L, 1L, 1L, 1L), (1L, 2L, 5L, 2L, 3L),
      (2L, 2L, 11L, 4L, 7L), (3L, 1L, 8L, 8L, 8L)))
  }

  test("assortativityMoments: exact endpoint-degree sums on the path P3") {
    val implicits = spark.implicits
    import implicits._
    // path 1-2-3 symmetrized: degrees 1,2,1; directed entries
    // (1,2),(2,1),(2,3),(3,2) → ds: 1,2,2,1; ds*dd: 2,2,2,2
    val p3 = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = EdgeOps.assortativityMoments(EdgeOps.cleanEdges(p3)).head()
    assert(out.getLong(0) === 4L)   // n_edges
    assert(out.getLong(1) === 6L)   // sum_d
    assert(out.getLong(2) === 10L)  // sum_d2
    assert(out.getLong(3) === 8L)   // sum_dxdy
  }

  test("reorderMap modes produce dense ids; mode 2 is degree-descending") {
    val clean = EdgeOps.cleanEdges(tiny)
    for (mode <- Seq(0, 1, 2)) {
      val m = EdgeOps.reorderMap(clean, mode).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m.values.toSet === (0L until 5L).toSet, s"mode $mode dense ids")
    }
    val m2 = EdgeOps.reorderMap(clean, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // degree-2 vertices (1,2,3) before degree-1 (8,9); ties by vertex id
    assert(m2 === Map(1L -> 0, 2L -> 1, 3L -> 2, 8L -> 3, 9L -> 4))
  }

  test("reorderMapIsolatedLast: full universe, isolated take the dense " +
    "suffix; kernel twin identical") {
    val clean = EdgeOps.cleanEdges(tiny)
    // universe 0..9: non-isolated {1,2,3,8,9} first in id order, then
    // isolated {0,4,5,6,7} in id order
    val want = Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 8L -> 3L, 9L -> 4L,
      0L -> 5L, 4L -> 6L, 5L -> 7L, 6L -> 8L, 7L -> 9L)
    val dist = EdgeOps.reorderMapIsolatedLast(clean, 10L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === want)
    val csr = graft.bfs.LocalCsr.buildFromRawPairs(graft.bfs.LocalCsr.collectPairs(clean))
    val kern = csr.reorderIsolatedLastDf(spark, 10L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kern === want)
  }

  test("twoHopReach: distinct 2-hop set, hub excluded, k bounds hubs") {
    val implicits = spark.implicits
    import implicits._
    // path 1-2-3-4 plus hub 2-5; symmetrized
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    val clean = EdgeOps.cleanEdges(raw)
    val r = EdgeOps.twoHopReach(clean, 2).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
    // degrees: 2→3, 3→2, others 1 → hubs = {2 (deg 3), 3 (deg 2)}
    // reach(2): 1,3,5 (hop1) + 4 (via 3) = 4; reach(3): 2,4 + 1,5 = 4
    assert(r.toSeq === Seq((2L, 3L, 4L), (3L, 2L, 4L)))
  }

  test("BFS on two components: unreached get pred=-1, depth NULL; validator passes") {
    val clean = EdgeOps.cleanEdges(tiny)
    val result = Bfs.bfsMinParent(spark, clean, 1L)
    val byVertex = result.tree.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(byVertex(1L) === ((1L, 0L)))
    assert(byVertex(2L) === ((1L, 1L)))
    assert(byVertex(3L) === ((1L, 1L)))
    assert(byVertex(8L) === ((-1L, -1L)))
    assert(byVertex(9L) === ((-1L, -1L)))

    val checks = Validator.validate(spark, tiny, result.tree, 1L, 10L).head()
    for (c <- Seq("range_errors", "root_errors", "self_parent_errors",
      "depth_presence_errors", "depth_chain_errors", "pred_edge_missing",
      "edge_depth_errors"))
      assert(checks.getAs[Long](c) === 0L, c)
    // triangle counted with the duplicate (1,2) plus the self-loop (4,4)?
    // No: 4 is unreached (isolated by loop removal), so loops at unreached
    // vertices are excluded, edges in reached component: (1,2)x2,(2,3),(3,1)
    assert(checks.getAs[Long]("edge_visit_count") === 4L)
  }

  test("validator flags a corrupted tree") {
    val implicits = spark.implicits
    import implicits._
    val clean = EdgeOps.cleanEdges(tiny)
    val result = Bfs.bfsMinParent(spark, clean, 1L)
    // Corrupt: claim vertex 3 hangs off vertex 8 (no such edge, wrong depth).
    val bad = result.tree.filter(col("vertex") =!= 3L)
      .union(Seq((3L, 8L, 5L)).toDF("vertex", "pred", "depth")
        .select(col("vertex"), col("pred"), col("depth").cast("long")))
    val checks = Validator.validate(spark, tiny, bad, 1L, 10L).head()
    assert(checks.getAs[Long]("depth_chain_errors") > 0L)
    assert(checks.getAs[Long]("pred_edge_missing") > 0L)
    assert(checks.getAs[Long]("edge_depth_errors") > 0L)
  }
}
