package graft.etl

import graft.SparkSpec
import graft.functions.BitsetDistinct
import graft.ops.OrderStats
import org.apache.spark.sql.functions._

/** Round-11 optimization equivalence pins: the bitset-distinct 2-hop
  * aggregation ≡ the distinct() plan, pass-1-fused selectRanks stats ≡
  * a naive reduce, and the Tungsten dense-id assignment ≡ the previous
  * zipWithIndex semantics (dense 0-based ids in sort order). */
class R11OptimizationSpec extends SparkSpec {

  test("bitset_distinct ≡ countDistinct per group; trimmed partials merge") {
    val implicits = spark.implicits
    import implicits._
    val rnd = new scala.util.Random(20260818L)
    val rows = Seq.fill(5000)(
      (rnd.nextInt(7).toLong, rnd.nextInt(400).toLong))
    // many partitions → partial buffers of different trimmed widths merge
    val df = spark.createDataset(rows).repartition(13).toDF("g", "v")
    val got = df.groupBy("g")
      .agg(BitsetDistinct.of(col("v"), 400L).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy("g").agg(countDistinct(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("bitset_distinct rejects out-of-domain values loudly") {
    val implicits = spark.implicits
    import implicits._
    val df = Seq((1L, 5L), (1L, 64L)).toDF("g", "v")
    val e = intercept[Exception] {
      df.groupBy("g").agg(BitsetDistinct.of(col("v"), 64L)).collect()
    }
    assert(e.getMessage != null)
  }

  test("twoHopReach: bitset plan ≡ distinct plan on random graphs") {
    val implicits = spark.implicits
    import implicits._
    val rnd = new scala.util.Random(20260819L)
    for (_ <- 1 to 3) {
      val n = 300 + rnd.nextInt(200)
      val edges = Seq.fill(n)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .toDF("src", "dst")
      val clean = EdgeOps.cleanEdges(edges).localCheckpoint(true)
      val maxV = clean.agg(max(greatest(col("src"), col("dst"))))
        .head().getLong(0)
      val bit = EdgeOps.twoHopReach(clean, 5, None, Some(maxV)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val dis = EdgeOps.twoHopReach(clean, 5, None, None).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(bit.toSeq === dis.toSeq)
    }
  }

  test("twoHopReach falls back to distinct plan above the bitset budget") {
    val implicits = spark.implicits
    import implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    val clean = EdgeOps.cleanEdges(edges)
    val prev = spark.conf.getOption("spark.graft.twoHopBitsetMaxBits")
    spark.conf.set("spark.graft.twoHopBitsetMaxBits", "4")
    try {
      val r = EdgeOps.twoHopReach(clean, 2, None, Some(5L)).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
      assert(r.toSeq === Seq((2L, 3L, 4L), (3L, 2L, 4L)))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.twoHopBitsetMaxBits", v)
      case None => spark.conf.unset("spark.graft.twoHopBitsetMaxBits")
    }
  }

  test("twoHopReach: the bitset budget is shared by concurrent tasks") {
    val implicits = spark.implicits
    import implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    val clean = EdgeOps.cleanEdges(edges)
    // k·(mv+1) = 12 bits per task; the budget covers every task at once
    val tasks = spark.sparkContext.defaultParallelism
    def plan(budget: Long): (Boolean, Seq[(Long, Long, Long)]) = {
      val prev = spark.conf.getOption("spark.graft.twoHopBitsetMaxBits")
      spark.conf.set("spark.graft.twoHopBitsetMaxBits", budget.toString)
      try {
        val r = EdgeOps.twoHopReach(clean, 2, None, Some(5L))
        (r.queryExecution.optimizedPlan.toString.contains("bitset_distinct"),
          r.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
            .sortBy(_._1).toSeq)
      } finally prev match {
        case Some(v) => spark.conf.set("spark.graft.twoHopBitsetMaxBits", v)
        case None => spark.conf.unset("spark.graft.twoHopBitsetMaxBits")
      }
    }
    val want = Seq((2L, 3L, 4L), (3L, 2L, 4L))
    // one bit short of 12 per task: the distinct() plan, though the
    // whole budget is 12·tasks − 1 ≥ 12
    assert(plan(12L * tasks - 1) === ((false, want)))
    assert(plan(12L * tasks) === ((true, want)))
  }

  test("twoHopReach: a huge bitset budget cannot pick a maxBits above 2^36") {
    val implicits = spark.implicits
    import implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    val clean = EdgeOps.cleanEdges(edges)
    val want = EdgeOps.twoHopReach(clean, 2, None, None).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
    val prev = spark.conf.getOption("spark.graft.twoHopBitsetMaxBits")
    spark.conf.set("spark.graft.twoHopBitsetMaxBits", Long.MaxValue.toString)
    try {
      // (mv+1)·k exceeds 2^36·k (the old gate passed and BitsetDistinct
      // threw), and at Long.MaxValue the product overflows
      for (mv <- Seq(1L << 40, Long.MaxValue)) {
        val r = EdgeOps.twoHopReach(clean, 2, None, Some(mv)).collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
        assert(r.toSeq === want.toSeq, s"maxVertex=$mv")
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.twoHopBitsetMaxBits", v)
      case None => spark.conf.unset("spark.graft.twoHopBitsetMaxBits")
    }
  }

  test("selectRanksWithStats: stats ≡ naive per-key n/min/max/sum, " +
    "ranks ≡ selectRanks") {
    val rnd = new scala.util.Random(20260820L)
    val data = Seq.fill(4000)(
      (s"k${rnd.nextInt(5)}", rnd.nextInt(100000).toLong - 50000L))
    val rdd = spark.sparkContext.parallelize(data, 11)
    val targets = (n: Long) => Seq((n - 1) / 2, n / 2)
    val (sel, stats) = OrderStats.selectRanksWithStats(spark, rdd, targets)
    val selOld = OrderStats.selectRanks[Long](spark, rdd, targets)
    val a = sel.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).sortBy(x => (x._1, x._2))
    val b = selOld.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).sortBy(x => (x._1, x._2))
    assert(a.toSeq === b.toSeq)
    val naive = data.groupBy(_._1).map { case (k, vs) =>
      val v = vs.map(_._2)
      k -> OrderStats.KeyStats(v.size.toLong, v.min, v.max, v.sum)
    }
    assert(stats === naive)
  }

  test("denseIds ≡ zipWithIndex semantics: dense 0-based ids in sort order") {
    val implicits = spark.implicits
    import implicits._
    val rnd = new scala.util.Random(20260821L)
    val vs = Seq.fill(500)(rnd.nextInt(100000).toLong).distinct
    val df = vs.toDF("vertex").repartition(9)
    val got = EdgeOps.denseIds(df.orderBy(col("vertex").asc)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = vs.sorted.zipWithIndex
      .map { case (v, i) => v -> i.toLong }.toMap
    assert(got === want)
  }
}
