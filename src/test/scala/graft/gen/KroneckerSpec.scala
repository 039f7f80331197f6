package graft.gen

import graft.SparkSpec

class KroneckerSpec extends SparkSpec {

  test("scramble is a permutation of [0, 2^scale)") {
    val scale = 10
    val (v0, v1) = Kronecker.scrambleVals(2, 3)
    val imgs = (0L until (1L << scale)).map(Kronecker.scramble(_, scale, v0, v1))
    assert(imgs.forall(v => v >= 0 && v < (1L << scale)))
    assert(imgs.toSet.size === (1 << scale))
  }

  test("generate: edge count, endpoint range, determinism") {
    val df = Kronecker.generate(spark, 10).cache()
    assert(df.count() === 16L * 1024)
    import org.apache.spark.sql.functions._
    val bad = df.filter(col("src") < 0 || col("src") >= 1024 ||
      col("dst") < 0 || col("dst") >= 1024).count()
    assert(bad === 0)
    // Same (scale, seeds) → identical multiset of edges.
    val h1 = df.selectExpr("sum(hash(src, dst))").head().getLong(0)
    val h2 = Kronecker.generate(spark, 10).selectExpr("sum(hash(src, dst))")
      .head().getLong(0)
    assert(h1 === h2)
    df.unpersist()
  }

  test("edge generation is index-addressable (partitioning-independent)") {
    val (v0, v1) = Kronecker.scrambleVals(2, 3)
    val e5a = Kronecker.makeEdge(10, 5L, 2, 3, v0, v1)
    val e5b = Kronecker.makeEdge(10, 5L, 2, 3, v0, v1)
    assert(e5a === e5b)
    val edges = Kronecker.generate(spark, 10).collect()
    // Row i of the range-partitioned scan is edge i.
    assert((edges(5).getLong(0), edges(5).getLong(1)) === e5a)
  }

  test("root sampling: deterministic, rejects non-edge vertices, no dups") {
    val has: Long => Boolean = v => v % 3 != 0
    val r1 = Kronecker.sampleRoots(16, 1024, has)
    val r2 = Kronecker.sampleRoots(16, 1024, has)
    assert(r1.sameElements(r2))
    assert(r1.length === 16)
    assert(r1.forall(has))
    assert(r1.toSet.size === 16)
  }

  test("distributed root sampling ≡ exact-set sampling, no vertex collect") {
    import spark.implicits._
    // sparse vertex universe (non-multiples of 3 under 4096, with dups as
    // a symmetrized src column would have)
    val verts = (0L until 4096L).filter(_ % 3 != 0)
    val vertDf = (verts ++ verts.reverse).toDF("v")
    val exactSet = verts.toSet
    val exact = Kronecker.sampleRoots(16, 4096, exactSet)
    val dist = Kronecker.sampleRootsDistributed(vertDf, "v", 16, 4096)
    assert(dist.sameElements(exact))
    // degenerate: universe smaller than requested roots → counter cap
    val tiny = Seq(1L, 2L, 4L).toDF("v")
    val dTiny = Kronecker.sampleRootsDistributed(tiny, "v", 16, 8)
    val eTiny = Kronecker.sampleRoots(16, 8, Set(1L, 2L, 4L))
    assert(dTiny.sameElements(eTiny))
  }

  test("generate equals makeEdge at every index, across 7 partitions") {
    val (v0, v1) = Kronecker.scrambleVals(2, 3)
    val session = spark.newSession()
    session.conf.set("spark.sql.leafNodeDefaultParallelism", "7")
    for (scale <- Seq(10, 12)) {
      val df = Kronecker.generate(session, scale)
      assert(df.rdd.getNumPartitions === 7)
      val edges = df.collect()
      assert(edges.length === 16 << scale)
      for (i <- edges.indices) {
        val e = (edges(i).getLong(0), edges(i).getLong(1))
        if (e != Kronecker.makeEdge(scale, i, 2, 3, v0, v1))
          fail(s"scale $scale edge $i: $e")
      }
    }
  }

  test("uniform and weighted generators equal their per-index streams, across 7 partitions") {
    import graft.rng.Mrg
    val (v0, v1) = Kronecker.scrambleVals(2, 3)
    val session = spark.newSession()
    session.conf.set("spark.sql.leafNodeDefaultParallelism", "7")
    val scale = 10
    val mask = (1L << scale) - 1
    // each row's streams skipped from the seed, as the generators did
    // before they streamed
    def uniform(i: Long): (Long, Long) = {
      val st = Mrg.makeSeed(2, 3)
      st.skip(0L, i, 0L)
      (Kronecker.scramble(st.nextUint() & mask, scale, v0, v1),
        Kronecker.scramble(st.nextUint() & mask, scale, v0, v1))
    }
    def weight(i: Long, maxWeight: Int): Int = {
      val st = Mrg.makeSeed(2, 3)
      st.skip(30L, 46L, i)
      ((st.nextUint() % maxWeight) + 1).toInt
    }
    val u = Kronecker.generateUniform(session, scale)
    assert(u.rdd.getNumPartitions === 7)
    val us = u.collect()
    assert(us.length === 16 << scale)
    for (i <- us.indices) {
      val e = (us(i).getLong(0), us(i).getLong(1))
      if (e != uniform(i)) fail(s"uniform edge $i: $e")
    }
    for (maxWeight <- Seq(255, 7)) {
      val w = Kronecker.generateWeighted(session, scale, maxWeight)
      assert(w.rdd.getNumPartitions === 7)
      val ws = w.collect()
      assert(ws.length === 16 << scale)
      for (i <- ws.indices) {
        val e = (ws(i).getLong(0), ws(i).getLong(1), ws(i).getInt(2))
        val (s, d) = Kronecker.makeEdge(scale, i, 2, 3, v0, v1)
        if (e != ((s, d, weight(i, maxWeight))))
          fail(s"weighted edge $i (maxWeight $maxWeight): $e")
      }
    }
  }

  test("all three scans equal their per-index streams when a partition " +
    "spans several fill blocks") {
    import graft.rng.Mrg
    // SCALE 15 at 7 partitions: 74,898-74,899 edges per partition, two
    // blocks each, and an edge count that does not split evenly
    val scale = 15
    val n = 16 << scale
    assert(n / 7 > Kronecker.BlockEdges && n % 7 != 0)
    val (v0, v1) = Kronecker.scrambleVals(2, 3)
    val mask = (1L << scale) - 1
    val session = spark.newSession()
    session.conf.set("spark.sql.leafNodeDefaultParallelism", "7")
    def stream(high: Long, mid: Long, low: Long): Mrg.State = {
      val st = Mrg.makeSeed(2, 3)
      st.skip(high, mid, low)
      st
    }
    def rows(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
      assert(df.rdd.getNumPartitions === 7)
      val r = df.collect()
      assert(r.length === n)
      r
    }
    val kron = rows(Kronecker.generate(session, scale))
    val uniform = rows(Kronecker.generateUniform(session, scale))
    val weighted = rows(Kronecker.generateWeighted(session, scale, 100))
    for (i <- 0 until n) {
      val e = Kronecker.makeEdge(scale, i, 2, 3, v0, v1)
      if ((kron(i).getLong(0), kron(i).getLong(1)) != e) fail(s"edge $i: ${kron(i)}")
      val st = stream(0L, i, 0L)
      val u = (Kronecker.scramble(st.nextUint() & mask, scale, v0, v1),
        Kronecker.scramble(st.nextUint() & mask, scale, v0, v1))
      if ((uniform(i).getLong(0), uniform(i).getLong(1)) != u)
        fail(s"uniform edge $i: ${uniform(i)}")
      val w = ((stream(30L, 46L, i).nextUint() % 100) + 1).toInt
      if ((weighted(i).getLong(0), weighted(i).getLong(1), weighted(i).getInt(2)) !=
          ((e._1, e._2, w)))
        fail(s"weighted edge $i: ${weighted(i)}")
    }
  }

  test("the streamed source equals makeEdge on random-order indices") {
    val (v0, v1) = Kronecker.scrambleVals(7, 9)
    val src = new Kronecker.Source(14, 7, 9, v0, v1)
    val rnd = new scala.util.Random(14)
    // jumps, repeats, runs of consecutive indices, and index 0 after others
    val idx = Seq.fill(300)(rnd.nextInt(1 << 18).toLong).flatMap { i =>
      if (rnd.nextInt(4) == 0) (i until i + 1 + rnd.nextInt(5)) else Seq(i)
    } ++ Seq(0L, 0L, 1L, 5L, 5L)
    for (i <- idx)
      assert(src.edge(i) === Kronecker.makeEdge(14, i, 7, 9, v0, v1), s"i=$i")
  }
}
