package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

class TepsSpec extends SparkSpec {

  /** The stat block as Spark aggregates — the Column block `statBlock`
    * computed before it moved to the driver, kept verbatim as the
    * reference its rows must equal bit for bit. */
  private def referenceBlock(runStats: DataFrame): DataFrame = {
    def block(x: Column, prefix: String): Seq[Column] = Seq(
      round(min(x), 6).as(s"${prefix}_min"),
      round(expr(s"percentile(${x.toString}, 0.25)"), 6).as(s"${prefix}_q1"),
      round(expr(s"percentile(${x.toString}, 0.5)"), 6).as(s"${prefix}_median"),
      round(expr(s"percentile(${x.toString}, 0.75)"), 6).as(s"${prefix}_q3"),
      round(max(x), 6).as(s"${prefix}_max"),
      round(avg(x), 6).as(s"${prefix}_mean"),
      round(stddev_samp(x), 6).as(s"${prefix}_stddev"))
    val cols =
      block(col("bfs_time"), "time") ++
        block(col("nedge"), "nedge") :+
        round(lit(1.0) / avg(col("bfs_time") / col("nedge")), 6)
          .as("harmonic_mean_teps")
    runStats.coalesce(1).agg(cols.head, cols.tail: _*)
  }

  /** A row's cells as raw bits (None for NULL): Double `==` would equate
    * 0.0 with -0.0 and never NaN with itself. */
  private def bits(r: Row): Seq[Option[Long]] = r.toSeq.map {
    case null => None
    case d: Double => Some(java.lang.Double.doubleToRawLongBits(d))
  }

  private def runsDf(times: Seq[Double], nedges: Seq[Double]): DataFrame = {
    val implicits = spark.implicits
    import implicits._
    times.zip(nedges).zipWithIndex.map { case ((t, ne), i) => (i.toLong, t, 0.0, ne) }
      .toDF("run", "bfs_time", "validate_time", "nedge")
  }

  /** Both blocks' outcome on `rs`: the row's bits, or the exception's
    * class when evaluating the block fails. */
  private def outcome(block: DataFrame => DataFrame, rs: DataFrame)
      : Either[Class[_], Seq[Option[Long]]] =
    scala.util.Try(bits(block(rs).head())).toEither.left.map(_.getClass)

  test("driver-side block equals the Spark aggregates bit for bit, ties included") {
    val rnd = new scala.util.Random(5)
    for (n <- Seq(0, 1, 2, 3, 64, 1000); rep <- 0 until 3) {
      // draws from a small value set, so that quartile neighbours tie
      val pool = Array.fill(if (rep == 0) 4 else 50)(rnd.nextDouble() * 10)
      val times = Seq.fill(n)(pool(rnd.nextInt(pool.length)))
      val nedges = Seq.fill(n)(math.floor(rnd.nextDouble() * 1e6) + 1 +
        (if (rep == 2) 0.5 else 0.0))
      val rs = runsDf(times, nedges)
      val mine = Teps.statBlock(rs)
      val ref = referenceBlock(rs)
      assert(mine.schema === ref.schema)
      assert(bits(mine.head()) === bits(ref.head()), s"n=$n rep=$rep")
    }
  }

  test("a run with nedge = 0 gives the Spark aggregates' outcome, ANSI on and off") {
    val rs = runsDf(Seq(1.0, 2.0, 3.0), Seq(100.0, 0.0, 300.0))
    val zeroOnly = runsDf(Seq(1.0), Seq(0.0))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      for (mode <- Seq("true", "false")) {
        spark.conf.set("spark.sql.ansi.enabled", mode)
        for (in <- Seq(rs, zeroOnly)) {
          val mine = outcome(Teps.statBlock, in)
          val ref = outcome(referenceBlock, in)
          assert(mine.isLeft === ref.isLeft, s"ansi=$mode: $mine vs $ref")
          if (mode == "true")
            assert(mine.left.exists(classOf[ArithmeticException].isAssignableFrom), mine)
          else assert(mine === ref, s"ansi=$mode")
        }
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("a driver-resident input runs no Spark job") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    val rs = runsDf(Seq.tabulate(64)(i => 1.0 + i % 7), Seq.tabulate(64)(i => 1e5 + i))
    spark.sparkContext.addSparkListener(listener)
    try {
      Teps.statBlock(rs).head()
      // listener events arrive in order: once the sentinel job's start is
      // seen, every job the block started has been seen too
      val sc = spark.sparkContext
      sc.setJobGroup("teps-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("teps-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("teps-sentinel"))
      assert(groups.size === 1, s"jobs started: $groups")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an input above MaxRuns fails and names the count") {
    val n = Teps.MaxRuns
    assert(Teps.statBlock(runsDf(Seq.fill(n)(1.0), Seq.fill(n)(2.0)))
      .head().getAs[Double]("harmonic_mean_teps") === 2.0)
    val e = intercept[IllegalArgumentException] {
      Teps.statBlock(runsDf(Seq.fill(n + 1)(1.0), Seq.fill(n + 1)(2.0)))
    }
    assert(e.getMessage.contains(s"more than $n rows"), e.getMessage)
  }

  test("stat block matches hand-computed values incl. harmonic-mean TEPS") {
    val implicits = spark.implicits
    import implicits._
    // times 1,2,3,4 ; nedge constant 100
    val rs = Seq(
      (1L, 1.0, 0.0, 100.0), (2L, 2.0, 0.0, 100.0),
      (3L, 3.0, 0.0, 100.0), (4L, 4.0, 0.0, 100.0)
    ).toDF("run", "bfs_time", "validate_time", "nedge")
    val r = Teps.statBlock(rs).head()
    assert(r.getAs[Double]("time_min") === 1.0)
    assert(r.getAs[Double]("time_q1") === 1.75)
    assert(r.getAs[Double]("time_median") === 2.5)
    assert(r.getAs[Double]("time_q3") === 3.25)
    assert(r.getAs[Double]("time_max") === 4.0)
    assert(r.getAs[Double]("time_mean") === 2.5)
    assert(r.getAs[Double]("time_stddev") === 1.290994) // sqrt(5/3) @ 6dp
    // harmonic mean TEPS = 1 / mean(t_i / 100) = 100 / 2.5 = 40
    assert(r.getAs[Double]("harmonic_mean_teps") === 40.0)
    assert(r.getAs[Double]("nedge_mean") === 100.0)
  }

  test("stat block aggregates in one stage: no Exchange, hand-computed row") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val implicits = spark.implicits
    import implicits._
    // four input partitions: a plain global aggregate would plan partial
    // → Exchange SinglePartition → final
    val rs = spark.sparkContext.parallelize(Seq(
      (0L, 1.0, 0.0, 100.0), (1L, 2.0, 0.0, 400.0),
      (2L, 3.0, 0.0, 300.0), (3L, 4.0, 0.0, 200.0)), 4)
      .toDF("run", "bfs_time", "validate_time", "nedge")
    val block = Teps.statBlock(rs)
    val row = block.head()
    val plan = block.queryExecution.executedPlan
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty, plan.toString)
    // times 1..4 and nedge 100..400 (as sorted) share the quartile
    // formula; TEPS = 1 / mean(.01, .005, .01, .02) = 1 / .01125
    val expected = Seq(1.0, 1.75, 2.5, 3.25, 4.0, 2.5, 1.290994,
      100.0, 175.0, 250.0, 325.0, 400.0, 250.0, 129.099445, 88.888889)
    assert(row.toSeq === expected)
  }

  test("CLI result block mirrors the reference logfile format") {
    // reference get_statistics on [1,2,3,4]: quartiles use the
    // (x[(n-1)/4]+x[n/4])/2 indexing (mpi/logfile.h:36-40)
    val st = graft.bench.Main.stats(Seq(4.0, 2.0, 1.0, 3.0))
    assert(st(0) === 1.0)
    assert(st(1) === 1.5)  // (x[0]+x[1])/2
    assert(st(2) === 2.5)
    assert(st(3) === 3.5)
    assert(st(4) === 4.0)
    assert(st(5) === 2.5)
    assert(math.abs(st(6) - math.sqrt(5.0 / 3.0)) < 1e-12)

    val s = graft.bench.Graph500.Summary(10, 2, 0.5, 1.0,
      Seq(graft.bench.Graph500.RunStat(0, 3, 0.1, 0.2, 16383.0, 0),
        graft.bench.Graph500.RunStat(1, 5, 0.2, 0.3, 16383.0, 0)),
      109220.0, nedgeGoldenOk = true)
    val block = graft.bench.Main.resultBlock(s)
    for (k <- Seq("SCALE:", "edgefactor:", "NBFS:", "graph_generation:",
      "construction_time:", "min_time:", "firstquartile_nedge:",
      "harmonic_mean_TEPS:", "harmonic_stddev_TEPS:", "stddev_validate:"))
      assert(block.contains(k), s"missing $k in:\n$block")
    assert(block.contains("SCALE:                          10"))
  }
}
