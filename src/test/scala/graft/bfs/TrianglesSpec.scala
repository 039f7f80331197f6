package graft.bfs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Triangle counting: kernel ≡ distributed ≡ brute force on known and
  * randomized graphs. */
class TrianglesSpec extends SparkSpec {

  /** Brute-force reference: count triples {a,b,c} pairwise adjacent. */
  private def brute(pairs: Seq[(Long, Long)]): (Long, Long) = {
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
    pairs.foreach { case (a, b) =>
      if (a != b) {
        adj(a) = adj.getOrElse(a, Set.empty) + b
        adj(b) = adj.getOrElse(b, Set.empty) + a
      }
    }
    val deg = adj.map { case (v, ns) => v -> ns.size.toLong }
    def rank(v: Long) = (deg(v), v)
    implicit val ord: Ordering[(Long, Long)] = Ordering.Tuple2[Long, Long]
    var wedges = 0L
    var tris = 0L
    adj.foreach { case (a, ns) =>
      val out = ns.filter(w => ord.gt(rank(w), rank(a)))
      val od = out.size.toLong
      wedges += od * (od - 1) / 2
      for (b <- out; c <- out if ord.lt(rank(b), rank(c)))
        if (adj(b).contains(c)) tris += 1
    }
    (wedges, tris)
  }

  private def asDf(pairs: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    pairs.toDF("src", "dst")
  }

  test("K4: 4 triangles; kernel == distributed == brute") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val (bw, bt) = brute(pairs)
    assert(bt == 4)
    val kernel = Triangles.countCsr(
      LocalCsr.buildFromRawPairs(pairs.flatMap(p => Seq(p._1, p._2)).toArray))
    assert(kernel == (bw, bt))
    val dist = Triangles.countDistributed(graft.etl.EdgeOps.cleanEdges(asDf(pairs)))
      .head()
    assert((dist.getLong(0), dist.getLong(1)) == (bw, bt))
  }

  test("triangle-free bipartite graph counts zero") {
    val pairs = for (a <- 0L to 4L; b <- 10L to 13L) yield (a, b)
    val (bw, bt) = brute(pairs)
    assert(bt == 0L && bw > 0L)
    val kernel = Triangles.countCsr(
      LocalCsr.buildFromRawPairs(pairs.flatMap(p => Seq(p._1, p._2)).toArray))
    assert(kernel == (bw, bt))
  }

  test("random graphs: kernel == distributed == brute (incl. dup/loop input)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val n = 12 + trial * 7
      val m = n * 3
      // raw list with duplicates and loops — both paths must clean
      val pairs = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        Seq((1L, 1L), (0L, 1L), (0L, 1L))
      val (bw, bt) = brute(pairs)
      val noLoops = pairs.filter(p => p._1 != p._2)
      val kernel = Triangles.countCsr(
        LocalCsr.buildFromRawPairs(noLoops.flatMap(p => Seq(p._1, p._2)).toArray))
      assert(kernel == (bw, bt), s"kernel trial $trial")
      val dist = Triangles.countDistributed(graft.etl.EdgeOps.cleanEdges(asDf(pairs))).head()
      assert((dist.getLong(0), dist.getLong(1)) == (bw, bt), s"dist trial $trial")
    }
  }

  test("jaccardTop: hand graph edge scores, triangle edges only") {
    val s = spark; import s.implicits._
    val raw = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val clean = graft.etl.EdgeOps.cleanEdges(raw)
    val out = Triangles.jaccardTop(clean, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    // one triangle {1,2,3}: edge (1,2) J = 1/(2+2-2-1) = 1; edges
    // (1,3)/(2,3) J = 1/(2+3-2-1) = 0.5; edge (3,4) has no triangle
    assert(out === Array(
      (1L, 2L, 1L, 1.0), (1L, 3L, 1L, 0.5), (2L, 3L, 1L, 0.5)))
  }

  test("jaccardTopCsr ≡ jaccardTop on random graphs (4 seeds)") {
    val s = spark; import s.implicits._
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(500 + seed)
      val nV = 20 + rnd.nextInt(15)
      val pairs = Seq.fill(4 * nV)(
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
        .filter(p => p._1 != p._2)
      val clean = graft.etl.EdgeOps.cleanEdges(pairs.toDF("src", "dst"))
      val dist = Triangles.jaccardTop(clean, 8).collect()
        .map(_.toSeq.toVector).toSeq
      val csr = LocalCsr.buildFromRawPairs(
        pairs.flatMap(p => Seq(p._1, p._2)).toArray)
      val kernel = Triangles.jaccardTopCsr(spark, csr, 8).collect()
        .map(_.toSeq.toVector).toSeq
      assert(kernel === dist, s"seed=$seed")
    }
  }

  test("jaccardTop: K4 all edges J = 1; triangle-free graph is empty") {
    val s = spark; import s.implicits._
    val k4 = (for (i <- 1L to 4L; j <- 1L to 4L if i < j) yield (i, j))
      .toDF("src", "dst")
    val outK4 = Triangles.jaccardTop(graft.etl.EdgeOps.cleanEdges(k4), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(5)))
    assert(outK4.length === 6)
    outK4.foreach { case (_, _, c, j) => assert(c === 2L && j === 1.0) }
    val star = (1L to 5L).map(l => (0L, l)).toDF("src", "dst")
    assert(Triangles.jaccardTop(
      graft.etl.EdgeOps.cleanEdges(star), 10).count() === 0L)
  }

  test("run() gate dispatch: local and forced-distributed agree on sf0.001 co-purchase shape") {
    val s = spark; import s.implicits._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
    val local = Triangles.run(spark, pairs).as[(Long, Long)].head()
    val prev = spark.conf.getOption("spark.graft.localBfsMaxEdges")
    try {
      spark.conf.set("spark.graft.localBfsMaxEdges", "0")
      val dist = Triangles.run(spark, pairs).as[(Long, Long)].head()
      assert(local == dist)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.localBfsMaxEdges", v)
      case None => spark.conf.unset("spark.graft.localBfsMaxEdges")
    }
    // pinned against the DuckDB oracle + independent brute force
    assert(local == ((234314L, 125968L)))
  }

  test("runCoPurchase: fused kernel == run == forced-distributed on sf0.001") {
    val s = spark; import s.implicits._
    val gm = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").cast("long").as("dst"))
    val fused = Triangles.runCoPurchase(spark, gm).as[(Long, Long)].head()
    assert(fused == ((234314L, 125968L)))
    val prev = spark.conf.getOption("spark.graft.localBfsMaxEdges")
    try {
      spark.conf.set("spark.graft.localBfsMaxEdges", "0")
      val dist = Triangles.runCoPurchase(spark, gm).as[(Long, Long)].head()
      assert(dist == fused)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.localBfsMaxEdges", v)
      case None => spark.conf.unset("spark.graft.localBfsMaxEdges")
    }
  }

  /** Brute-force per-vertex triangle counts. */
  private def brutePerVertex(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
    pairs.foreach { case (a, b) =>
      if (a != b) {
        adj(a) = adj.getOrElse(a, Set.empty) + b
        adj(b) = adj.getOrElse(b, Set.empty) + a
      }
    }
    adj.map { case (v, ns) =>
      val t = ns.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }
      v -> (ns.size.toLong, t.toLong)
    }.toMap
  }

  test("localCcTop: kernel == distributed == brute, hand-checked cc") {
    // K3 plus a pendant at vertex 0: deg(0)=3, tri(0)=1, cc=1/3
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 9L))
    val exp = brutePerVertex(pairs)
    val kernel = Triangles.localCcTopCsr(spark,
        LocalCsr.buildFromRawPairs(pairs.flatMap(p => Seq(p._1, p._2)).toArray), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val dist = Triangles.localCcTopDistributed(
        graft.etl.EdgeOps.cleanEdges(asDf(pairs)), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(kernel.toSeq === dist.toSeq)
    // top order: deg desc, id asc → 0 first
    assert(kernel.head === ((0L, 3L, 1L, 0.333333)))
    kernel.foreach { case (v, d, t, _) => assert(exp(v) === ((d, t)), s"v=$v") }
  }

  test("localCcTop: random graphs kernel == distributed, k truncates") {
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 3) {
      val n = 15 + trial * 8
      val pairs = Seq.fill(n * 3)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val exp = brutePerVertex(pairs)
      val k = 7
      val kernel = Triangles.localCcTopCsr(spark,
          LocalCsr.buildFromRawPairs(pairs.flatMap(p => Seq(p._1, p._2)).toArray), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val dist = Triangles.localCcTopDistributed(
          graft.etl.EdgeOps.cleanEdges(asDf(pairs)), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(kernel.toSeq === dist.toSeq, s"trial $trial")
      assert(kernel.length === math.min(k, exp.size), s"trial $trial")
      kernel.foreach { case (v, d, t, _) =>
        assert(exp(v) === ((d, t)), s"trial $trial v=$v") }
      // deterministic ordering
      assert(kernel.map(r => (-r._2, r._1)).toSeq ===
        kernel.map(r => (-r._2, r._1)).sorted.toSeq, s"trial $trial")
    }
  }

  test("localCcCoPurchase: gate dispatch agrees on sf0.001") {
    val s = spark; import s.implicits._
    val gm = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").cast("long").as("dst"))
    val fused = Triangles.localCcCoPurchase(spark, gm, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(fused.length === 20)
    val prev = spark.conf.getOption("spark.graft.localBfsMaxEdges")
    try {
      spark.conf.set("spark.graft.localBfsMaxEdges", "0")
      val dist = Triangles.localCcCoPurchase(spark, gm, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(dist.toSeq === fused.toSeq)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.localBfsMaxEdges", v)
      case None => spark.conf.unset("spark.graft.localBfsMaxEdges")
    }
  }

  test("runCoPurchase handles duplicate group members and unpackable keys") {
    val s = spark; import s.implicits._
    // duplicate (group, member) rows and a within-group dup member:
    // group 1 = {10, 20, 20}, group 2 = {10, 20, 30}
    val gm = Seq((1L, 10L), (1L, 20L), (1L, 20L), (2L, 10L), (2L, 20L),
      (2L, 30L)).toDF("src", "dst")
    val r = Triangles.runCoPurchase(spark, gm).as[(Long, Long)].head()
    // co-purchase graph: edges {10-20, 10-30, 20-30} → one triangle
    assert(r._2 == 1L)
    // unpackable group key (negative) falls back to distributed, same result
    val gm2 = Seq((-1L, 10L), (-1L, 20L), (-1L, 30L)).toDF("src", "dst")
    val r2 = Triangles.runCoPurchase(spark, gm2).as[(Long, Long)].head()
    assert(r2 == ((1L, 1L))) // one oriented wedge at the min-rank vertex
  }

  test("run: a gate past Int range (3000000000) equals the unset gate") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31L)
    val pairs = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val gate = graft.Gates.localBfsMaxEdges
    val prior = spark.conf.getOption(gate.conf)
    spark.conf.unset(gate.conf)
    try {
      val unset = Triangles.run(spark, asDf(pairs)).as[(Long, Long)].head()
      // (gate + 1).toInt wrapped negative here and Spark rejected the limit
      val huge = gate.withLimit(spark, 3000000000L) {
        Triangles.run(spark, asDf(pairs)).as[(Long, Long)].head()
      }
      assert(huge == unset)
      assert(unset == brute(pairs))
    } finally prior.foreach(spark.conf.set(gate.conf, _))
  }
}
