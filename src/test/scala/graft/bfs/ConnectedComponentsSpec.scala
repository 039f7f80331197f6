package graft.bfs

import graft.SparkSpec
import graft.etl.EdgeOps

class ConnectedComponentsSpec extends SparkSpec {

  test("components on a hand graph") {
    val s = spark; import s.implicits._
    val raw = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 7L), (8L, 9L), (9L, 8L))
      .toDF("src", "dst")
    val got = ConnectedComponents.components(spark, raw)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L),
      (8L, 8L), (9L, 8L)))
  }

  test("components match GraphX connectedComponents on sf0.001 subgraph") {
    val s = spark; import s.implicits._
    val sub = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .orderBy("l_orderkey", "l_linenumber").limit(500)
      .select((org.apache.spark.sql.functions.col("l_orderkey") * 2).as("src"),
        (org.apache.spark.sql.functions.col("l_partkey") * 2 + 1).as("dst"))
    val clean = EdgeOps.cleanEdges(sub)
    val ours = ConnectedComponents.components(spark, sub).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val edgeRdd = clean.as[(Long, Long)].rdd
      .map { case (a, b) => org.apache.spark.graphx.Edge(a, b, ()) }
    val gx = org.apache.spark.graphx.Graph.fromEdges(edgeRdd, ())
      .connectedComponents().vertices.collect().toMap
    assert(ours === gx.map { case (k, v) => (k, v) })
  }

  test("local union-find kernel equals distributed label propagation") {
    val s = spark; import s.implicits._
    for (seed <- 10L until 13L) {
      val rnd = new scala.util.Random(seed)
      // raw lists: self-loops, duplicate edges both ways, and vertex 1000
      // seen only in a self-loop
      val pairs = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      val raw = (pairs ++ pairs.take(20).map(_.swap) ++ pairs.take(10) ++
        Seq((1000L, 1000L), (5L, 5L))).toDF("src", "dst")
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val loc = labels(ConnectedComponents.components(spark, raw))
      val dist = graft.Gates.localBfsMaxEdges.withLimit(spark, 0L)(
        labels(ConnectedComponents.components(spark, raw)))
      assert(loc === dist, s"seed=$seed")
      val vertices = pairs.filter(p => p._1 != p._2).flatMap(p => Seq(p._1, p._2)).toSet
      assert(loc.keySet === vertices, s"seed=$seed: the non-loop endpoints")
      assert(!loc.contains(1000L))
    }
  }

  test("componentSizes: histogram over the labelling") {
    val s = spark; import s.implicits._
    // components: {1,2,3}, {10,11}, {20,21}, {30}
    val labels = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L),
      (30L, 30L)
    ).toDF("vertex", "component")
    val out = ConnectedComponents.componentSizes(labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out === Array((1L, 1L, 1L), (2L, 2L, 4L), (3L, 1L, 3L)))
  }

  test("components match union-find on random graphs (5 seeds)") {
    val s = spark; import s.implicits._
    for (seed <- 0L until 5L) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .toDF("src", "dst")
      val clean = EdgeOps.cleanEdges(raw)
      val edges = clean.collect().map(r => (r.getLong(0), r.getLong(1)))
      if (edges.nonEmpty) {
        // driver-side union-find
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(v => (v, find(v))).toMap
        val got = ConnectedComponents.components(spark, clean).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got === expected, s"seed=$seed")
      }
    }
  }
}
