package graft.bench

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.bfs.Bfs
import graft.etl.EdgeOps

/** Edge-case behavior of the benchmark drivers and the hybrid BFS gate
  * (round-2 advice items): degenerate inputs must degrade gracefully,
  * and the local kernel must never change behavior vs its distributed
  * twin. */
class RobustnessSpec extends SparkSpec {

  test("finite: non-finite TEPS sanitize to 0.0 so the tail JSON stays parseable") {
    // bare NaN/Infinity literals are invalid JSON, and the compact tail
    // line is exactly what the driver parses
    assert(Json.finite(Double.NaN) === 0.0)
    assert(Json.finite(Double.PositiveInfinity) === 0.0)
    assert(Json.finite(Double.NegativeInfinity) === 0.0)
    assert(Json.finite(123.5) === 123.5)
    assert(Json.finite(0.0) === 0.0)
    assert(Json.string(Map("hm_teps" -> Double.NaN, "teps" -> Seq(
      Double.NegativeInfinity, 2.5))) === """{"hm_teps":0.0,"teps":[0.0,2.5]}""")
  }

  test("BENCH_FULL.json is written only by the main (default-cpus) run") {
    import graft.Bench.{DefaultCpus, writesLegacyCopy}
    assert(writesLegacyCopy(s"BENCH_FULL_c$DefaultCpus.json", DefaultCpus))
    // the scaling re-run at another core count leaves the main record be
    assert(!writesLegacyCopy("BENCH_FULL_c8.json", "8"))
    assert(!writesLegacyCopy("custom.json", "8"))
    // a run already writing the fixed name does not copy it onto itself
    assert(!writesLegacyCopy("BENCH_FULL.json", DefaultCpus))
  }

  test("runBounded: on timeout queued warm-up tasks never start") {
    import scala.concurrent.duration._
    val release = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val daemon = new java.util.concurrent.atomic.AtomicBoolean
    var timedOut = false
    // one thread: the first task hangs, the other three wait in the queue
    val hung: () => Unit = () => {
      started.incrementAndGet()
      daemon.set(Thread.currentThread.isDaemon)
      release.await()
    }
    val queued: () => Unit = () => { started.incrementAndGet(); () }
    graft.Bench.runBounded(Seq(hung, queued, queued, queued), 1,
      200.millis) { timedOut = true }
    assert(timedOut)
    // free the hung task too: had the queue survived the timeout, the
    // queued tasks would run now
    release.countDown()
    Thread.sleep(300)
    assert(started.get === 1)
    assert(daemon.get, "warm-up threads must not pin the JVM at exit")
    // and on success every task runs
    started.set(0)
    graft.Bench.runBounded(Seq(queued, queued), 2, 10.seconds)(fail())
    assert(started.get === 2)
  }

  test("stats: single run reports stddev 0, not NaN") {
    val st = Main.stats(Seq(0.125))
    assert(!st.exists(_.isNaN))
    assert(st(6) === 0.0)
    assert(st(0) === 0.125 && st(4) === 0.125 && st(5) === 0.125)
  }

  test("SPARK_GRAFT_CONF overrides: k=v pairs applied, empty segments ok") {
    Main.applyConfOverrides(spark,
      Some("spark.graft.testKnobA=1;;spark.graft.testKnobB = x ;"))
    assert(spark.conf.get("spark.graft.testKnobA") === "1")
    assert(spark.conf.get("spark.graft.testKnobB") === "x")
    spark.conf.unset("spark.graft.testKnobA")
    spark.conf.unset("spark.graft.testKnobB")
  }

  test("SPARK_GRAFT_CONF overrides: malformed segment names itself") {
    val e = intercept[IllegalArgumentException] {
      Main.applyConfOverrides(spark, Some("spark.graft.ok=1;oops-no-equals"))
    }
    assert(e.getMessage.contains("SPARK_GRAFT_CONF"))
    assert(e.getMessage.contains("oops-no-equals"))
    spark.conf.unset("spark.graft.ok")
  }

  test("hybrid gate: root with only self-loop edges matches distributed") {
    val s = spark
    import s.implicits._
    // raw min(src) = 0, but 0's only edge is a self-loop → absent from the
    // cleaned graph
    val raw = Seq((0L, 0L), (2L, 3L), (3L, 4L), (4L, 2L)).toDF("src", "dst")
    val local = Bfs.bfsMinParentRaw(spark, raw, 0L)
    val g = Bfs.prepare(EdgeOps.cleanEdges(raw))
    try {
      val dist = Bfs.bfsMinParentDistributed(spark, g, 0L)
      assert(local.tree.exceptAll(dist.tree).isEmpty &&
        dist.tree.exceptAll(local.tree).isEmpty,
        "missing-root local tree must equal the distributed loop's")
      assert(local.levelSizes === dist.levelSizes)
    } finally g.unpersist()
  }

  test("multi-root local gate falls back when a root is missing") {
    val s = spark
    import s.implicits._
    val raw = Seq((0L, 0L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val g = Bfs.prepareRaw(raw)
    try {
      // root 0 absent from the cleaned graph → distributed fallback, which
      // reports it all-unreached; root 2 traverses normally
      val multi = Bfs.bfsMinParentMulti(spark, g, Seq(0L, 2L))
      val run0 = multi.filter(col("run") === 0L)
      assert(run0.filter(col("pred") =!= -1L).count() === 0L)
      val run1 = multi.filter(col("run") === 1L && col("depth").isNotNull)
      assert(run1.count() === 3L)
    } finally g.unpersist()
  }

  test("validate=false with non-default edgefactor reports nonzero nedge") {
    val sum = Graph500.run(spark, scale = 8, nRoots = 2, validate = false,
      edgeFactor = 8L)
    assert(sum.runs.nonEmpty)
    assert(sum.runs.forall(_.nedge > 0.0), "nedge fallback must be nonzero")
    assert(sum.harmonicMeanTeps > 0.0 && !sum.harmonicMeanTeps.isInfinite)
    assert(sum.nedgeGoldenOk) // golden check is skipped for ef != 16
  }

  test("pure resume returns checkpoint runs unchanged") {
    val tmp = java.nio.file.Files.createTempFile("g500ckpt", ".txt")
    val runs = Seq(
      Graph500.RunStat(0, 5L, 0.01, 0.02, 100.0, 0),
      Graph500.RunStat(1, 9L, 0.03, 0.04, 100.0, 0))
    Graph500.writeCheckpoint(tmp.toString, runs, scale = 8,
      edgeFactor = graft.gen.Kronecker.DefaultEdgeFactor, nRoots = 2)
    val sum = Graph500.run(spark, scale = 8, nRoots = 2,
      checkpointPath = Some(tmp.toString))
    assert(sum.runs === runs)
    java.nio.file.Files.deleteIfExists(tmp)
  }
}
