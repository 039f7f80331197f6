package graft.validate

import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode

import graft.SparkSpec

/** The validation broadcast cap is auto-sized from the JVM heap (floored
  * at 20M vertices) so SCALE 25+ runs need no hand-set conf; the conf
  * remains an override. */
class BroadcastCapSpec extends SparkSpec {

  test("auto-sized cap: at least the floor, scales with heap") {
    val cap = Validator.broadcastVerts(spark)
    assert(cap >= Validator.BroadcastVertsFloor)
    val expected = math.max(Validator.BroadcastVertsFloor,
      Runtime.getRuntime.maxMemory / 16 / Validator.BroadcastBytesPerVertex)
    assert(cap === expected)
  }

  test("conf override wins over the derived default") {
    spark.conf.set("spark.graft.validateBroadcastVerts", "12345")
    try assert(Validator.broadcastVerts(spark) === 12345L)
    finally spark.conf.unset("spark.graft.validateBroadcastVerts")
  }

  test("treeRowsCap: the cap at one run, its bytes in two-key rows above") {
    assert(Validator.treeRowsCap(1600L, 1) === 1600L)
    assert(Validator.treeRowsCap(1600L, 2) === 320L)
    assert(Validator.treeRowsCap(1600L, 16) === 320L)
    // the byte budget is the same at both key shapes, and never overflows
    assert(Validator.treeRowsCap(Long.MaxValue, 2) *
      Validator.BroadcastBytesPerRunVertex <= Long.MaxValue)
  }

  test("runsPerPass: one run past the two-key cap, its quotient under it") {
    assert(Validator.runsPerPass(1000L, 5000L) === 1)
    assert(Validator.runsPerPass(1000L, 200L) === 1)
    assert(Validator.runsPerPass(1600L, 100L) === 3)
    // SCALE 20 at the floor: 3 runs per pass; on a 48g heap the whole
    // 16-root batch in one pass
    assert(Validator.runsPerPass(Validator.BroadcastVertsFloor, 1L << 20) === 3)
    assert(Validator.runsPerPass(Validator.autoBroadcastVerts(48L << 30),
      1L << 20) >= 16)
    // no vertices or a vast cap: an Int, never zero or negative
    assert(Validator.runsPerPass(1600L, 0L) === 320)
    assert(Validator.runsPerPass(Long.MaxValue, 1L) === Int.MaxValue)
  }

  test("tree-side broadcasts: one long key at one run, (run, vertex) above") {
    val sp = spark
    import sp.implicits._
    // persisted, as the protocols' inputs are: a projection over an
    // in-line local relation would be evaluated into it, literals included
    val raw = Seq((0L, 1L), (1L, 2L), (2L, 2L)).toDF("src", "dst").persist()
    val trees = Seq(3L, 7L).flatMap(run =>
      Seq((run, 0L, 0L, 0L), (run, 1L, 0L, 1L), (run, 2L, 1L, 2L)))
      .toDF("run", "vertex", "pred", "depth").persist()
    val roots = (runs: Seq[Long]) => runs.map(_ -> 0L).toDF("run", "root")
    // AQE off and no size-based broadcast, so the executed plan shows the
    // hinted broadcasts; the tree side's carry a depth column
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    def keyCounts(df: org.apache.spark.sql.DataFrame): Set[Int] = {
      assert(df.collect().forall(r => r.getAs[Long]("edge_visit_count") === 3L))
      df.queryExecution.executedPlan.collect {
        case b: BroadcastExchangeExec
          if b.output.exists(a => Set("p_depth", "du", "dv")(a.name)) => b.mode
      }.collect { case HashedRelationBroadcastMode(keys, _) => keys.size }.toSet
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assert(keyCounts(Validator.validate(spark, raw,
        trees.filter($"run" === 7L).drop("run"), 0L, 3L)) === Set(1))
      assert(keyCounts(Validator.validateMulti(spark, raw, trees,
        roots(Seq(7L)), 3L)) === Set(1))
      assert(keyCounts(Validator.validateMulti(spark, raw, trees,
        roots(Seq(3L, 7L)), 3L)) === Set(2))
    } finally {
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      raw.unpersist(); trees.unpersist()
    }
  }
}
