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

  /** The distributed family tables over a raw pair list. */
  private def tables(pairs: Seq[(Long, Long)]): Triangles.TriangleTables =
    Triangles.triangleTables(graft.etl.EdgeOps.cleanEdges(asDf(pairs)))

  private def countRow(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.head(); (r.getLong(0), r.getLong(1))
  }

  /** (count, local cc, jaccard) rows of the co-purchase graph of `gm`
    * through [[Triangles.coPurchase]]'s kernel or distributed form. */
  private def family(gm: org.apache.spark.sql.DataFrame)
      : ((Long, Long), Seq[Seq[Any]], Seq[Seq[Any]]) =
    Triangles.coPurchase(gm) match {
      case Left(csr) => (Triangles.countCsr(csr),
        Triangles.localCcTopCsr(spark, csr, 20).collect().map(_.toSeq).toSeq,
        Triangles.jaccardTopCsr(spark, csr, 20).collect().map(_.toSeq).toSeq)
      case Right(t) =>
        try (countRow(Triangles.countFromTables(spark, t)),
          Triangles.localCcFromTables(spark, t, 20).collect().map(_.toSeq).toSeq,
          Triangles.jaccardFromTables(t, 20).collect().map(_.toSeq).toSeq)
        finally Seq(t.deg, t.ori, t.tri).foreach(_.unpersist(blocking = false))
    }

  private def sf0001Gm = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    .select(col("l_orderkey").as("src"), col("l_partkey").cast("long").as("dst"))

  test("K4: 4 triangles; kernel == distributed == brute") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val (bw, bt) = brute(pairs)
    assert(bt == 4)
    val kernel = Triangles.countCsr(
      LocalCsr.buildFromRawPairs(pairs.flatMap(p => Seq(p._1, p._2)).toArray))
    assert(kernel == (bw, bt))
    assert(countRow(Triangles.countFromTables(spark, tables(pairs))) == (bw, bt))
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
      assert(countRow(Triangles.countFromTables(spark, tables(pairs))) == (bw, bt),
        s"dist trial $trial")
    }
  }

  test("jaccardTop: hand graph edge scores, triangle edges only") {
    val out = Triangles.jaccardFromTables(
        tables(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    // one triangle {1,2,3}: edge (1,2) J = 1/(2+2-2-1) = 1; edges
    // (1,3)/(2,3) J = 1/(2+3-2-1) = 0.5; edge (3,4) has no triangle
    assert(out === Array(
      (1L, 2L, 1L, 1.0), (1L, 3L, 1L, 0.5), (2L, 3L, 1L, 0.5)))
  }

  test("jaccardTopCsr ≡ jaccardTop on random graphs (4 seeds)") {
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(500 + seed)
      val nV = 20 + rnd.nextInt(15)
      val pairs = Seq.fill(4 * nV)(
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
        .filter(p => p._1 != p._2)
      val dist = Triangles.jaccardFromTables(tables(pairs), 8).collect()
        .map(_.toSeq.toVector).toSeq
      val csr = LocalCsr.buildFromRawPairs(
        pairs.flatMap(p => Seq(p._1, p._2)).toArray)
      val kernel = Triangles.jaccardTopCsr(spark, csr, 8).collect()
        .map(_.toSeq.toVector).toSeq
      assert(kernel === dist, s"seed=$seed")
    }
  }

  test("jaccardTop: K4 all edges J = 1; triangle-free graph is empty") {
    val k4 = for (i <- 1L to 4L; j <- 1L to 4L if i < j) yield (i, j)
    val outK4 = Triangles.jaccardFromTables(tables(k4), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(5)))
    assert(outK4.length === 6)
    outK4.foreach { case (_, _, c, j) => assert(c === 2L && j === 1.0) }
    val star = (1L to 5L).map(l => (0L, l))
    assert(Triangles.jaccardFromTables(tables(star), 10).count() === 0L)
  }

  /** The sf0.001 co-purchase family through [[Triangles.coPurchase]] at
    * the default gate and with the graph gate at 0, computed once for
    * the sf0.001 cases below. */
  private lazy val sf0001Family = {
    val kernel = family(sf0001Gm)
    (kernel, graft.Gates.localBfsMaxEdges.withLimit(spark, 0L)(family(sf0001Gm)))
  }

  test("run() gate dispatch: local and forced-distributed agree on sf0.001 co-purchase shape") {
    // the co-purchase graph handed over as an explicit pair list
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
    val local = Triangles.countCsr(
      LocalCsr.buildFromRawPairs(LocalCsr.collectPairs(pairs)))
    val dist = countRow(Triangles.countFromTables(spark,
      Triangles.triangleTables(graft.etl.EdgeOps.cleanEdges(pairs))))
    assert(local == dist)
    // pinned against the DuckDB oracle + independent brute force
    assert(local == ((234314L, 125968L)))
  }

  test("runCoPurchase: fused kernel == run == forced-distributed on sf0.001") {
    val (kernel, dist) = sf0001Family
    // the same pinned count as the explicit pair list above
    assert(kernel._1 == ((234314L, 125968L)))
    assert(dist._1 == kernel._1)
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
    val dist = Triangles.localCcFromTables(spark, tables(pairs), 10)
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
      val dist = Triangles.localCcFromTables(spark, tables(pairs), k)
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
    val (kernel, dist) = sf0001Family
    assert(kernel._2.length === 20 && kernel._3.length === 20)
    assert(dist._2 === kernel._2)
    assert(dist._3 === kernel._3)
  }

  test("coPurchase handles duplicate group members and unpackable keys") {
    // duplicate (group, member) rows and a within-group dup member:
    // group 1 = {10, 20, 20}, group 2 = {10, 20, 30}
    val gm = asDf(Seq((1L, 10L), (1L, 20L), (1L, 20L), (2L, 10L), (2L, 20L),
      (2L, 30L)))
    assert(Triangles.coPurchase(gm).isLeft)
    // co-purchase graph: edges {10-20, 10-30, 20-30} → one triangle
    assert(family(gm)._1._2 == 1L)
    // unpackable group key (negative) falls back to distributed, same result
    val gm2 = asDf(Seq((-1L, 10L), (-1L, 20L), (-1L, 30L)))
    val t = Triangles.coPurchase(gm2)
    assert(t.isRight)
    t.foreach(t => Seq(t.deg, t.ori, t.tri).foreach(_.unpersist(blocking = false)))
    assert(family(gm2)._1 == ((1L, 1L))) // one oriented wedge at the min-rank vertex
  }

  test("coPurchase: a gate past Int range (3000000000) equals the unset gate") {
    val rnd = new scala.util.Random(31L)
    // 12 groups of random members: the co-purchase graph is the union of
    // each group's clique
    val gm = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(40).toLong))
    val pairs = gm.groupBy(_._1).values.toSeq.flatMap { g =>
      val ms = g.map(_._2).distinct
      for (a <- ms; b <- ms if a < b) yield (a, b)
    }
    val gate = graft.Gates.localBfsMaxEdges
    val prior = spark.conf.getOption(gate.conf)
    spark.conf.unset(gate.conf)
    try {
      val unset = family(asDf(gm))
      // (gate + 1).toInt wrapped negative here and Spark rejected the limit
      val huge = gate.withLimit(spark, 3000000000L)(family(asDf(gm)))
      assert(huge == unset)
      assert(unset._1 == brute(pairs))
    } finally prior.foreach(spark.conf.set(gate.conf, _))
  }
}
