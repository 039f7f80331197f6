package graft.stats

import graft.SparkSpec

class TepsSpec extends SparkSpec {

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
