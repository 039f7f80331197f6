package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * then runs the full Graph500 protocol (generate → construct → N
  * validated BFS runs → harmonic-mean TEPS) at SPARK_GRAFT_SCALE.
  *
  * Output contract (the driver captures only the LAST ~2000 chars of
  * stdout and parses a JSON line out of that tail):
  *  1. the COMPLETE result object — per-query map, cold pass, every
  *     protocol block, per-phase WORK metrics (spill/shuffle/CPU/GC
  *     from a task-metrics listener; on a steal-prone box wall time is
  *     the noisy channel, work metrics are a property of the plan) —
  *     is written to BENCH_FULL.json (SPARK_GRAFT_BENCH_OUT) and also
  *     printed in full for the log;
  *  2. the LAST line printed is a compact (<1900 char) summary — total,
  *     the 10 slowest queries, each protocol block's headline numbers,
  *     per-phase work — so the driver's truncated tail parses.
  * The reference's result block is likewise a complete machine-readable
  * record (mpi/logfile.h:46-107). */
object Bench {

  /** Cumulative task-metrics counters (cluster-wide totals since
    * registration). Wall clock on a shared box swings run-to-run; these
    * are a property of the executed plan. */
  final case class Work(tasks: Long, taskMs: Long, cpuNs: Long, gcMs: Long,
                        spillMem: Long, spillDisk: Long,
                        shufWrite: Long, shufRead: Long) {
    def -(o: Work): Work = Work(tasks - o.tasks, taskMs - o.taskMs,
      cpuNs - o.cpuNs, gcMs - o.gcMs, spillMem - o.spillMem,
      spillDisk - o.spillDisk, shufWrite - o.shufWrite, shufRead - o.shufRead)
    private def r(x: Double) = math.rint(x * 1000) / 1000
    def json: String =
      s"""{"tasks":$tasks,"task_s":${r(taskMs / 1e3)},""" +
        s""""cpu_s":${r(cpuNs / 1e9)},"gc_s":${r(gcMs / 1e3)},""" +
        s""""spill_mem_gb":${r(spillMem / 1e9)},""" +
        s""""spill_disk_gb":${r(spillDisk / 1e9)},""" +
        s""""shuf_write_gb":${r(shufWrite / 1e9)},""" +
        s""""shuf_read_gb":${r(shufRead / 1e9)}}"""
  }

  /** Core count of the main run (SPARK_GRAFT_CPUS unset). */
  val DefaultCpus = "32"

  /** Whether this run also copies its record to the legacy fixed name
    * `BENCH_FULL.json`, which old consumers read as the MAIN run's
    * record: only a run at [[DefaultCpus]] does, so the same code benched
    * again at another core count (the scaling re-run) never overwrites
    * it. */
  private[graft] def writesLegacyCopy(outPath: String, cpus: String): Boolean =
    outPath != "BENCH_FULL.json" && cpus == DefaultCpus

  /** NaN/Infinity → 0.0 (bare non-finite literals are invalid JSON). */
  private[graft] def finite(x: Double): Double =
    if (x.isNaN || x.isInfinite) 0.0 else x

  /** Host /proc/stat cpu counters (ticks): (busy = user+nice+system,
    * steal, total incl. idle/iowait). The STEAL channel is the one that
    * actually catches the inflation regime the round-9 band warnings
    * documented: measured here, a window with steal bursts at 23-31% of
    * busy ticks inflated Spark task cpu_s 4.4× while the cache-resident
    * calibrate() kernel read the SAME 13-14 cpu_s in both regimes —
    * hypervisor steal lands on sustained memory-heavy phases, not on a
    * 0.5 s in-cache sort. None on non-Linux. */
  private[graft] def procStat(): Option[(Long, Long, Long)] =
    try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      Some((l(0) + l(1) + l(2), if (l.length > 7) l(7) else 0L, l.sum))
    } catch { case _: Exception => None }

  /** Box-noise calibration sentinel. Round 9 documented a window where
    * task/cpu seconds inflated uniformly ~3.7× with wall flat — a
    * regime that poisons any single-window per-query cpu diff. This is
    * a FIXED pure-JVM micro-kernel (each of `threads` workers
    * xorshift-fills and sorts a private 2M-long array, `reps` times —
    * no Spark, no allocation churn beyond the arrays) timed with
    * per-thread CPU time: per-query cpu_s DIVIDED by the sentinel's
    * cpu_s compares across windows; the raw channel alone does not.
    * Returns (wall_s, total_cpu_s). */
  def calibrate(threads: Int, reps: Int = 2, n: Int = 2 << 20)
      : (Double, Double) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val cpu = new java.util.concurrent.atomic.AtomicLong
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    def pass(timed: Boolean): Double = {
      val t0 = System.nanoTime()
      val futs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val c0 = mx.getCurrentThreadCpuTime
            val a = new Array[Long](n)
            var rep = 0
            while (rep < reps) {
              var x = 0x9E3779B97F4A7C15L + t + rep.toLong * threads
              var i = 0
              while (i < n) {
                x ^= x << 13; x ^= x >>> 7; x ^= x << 17
                a(i) = x; i += 1
              }
              java.util.Arrays.sort(a)
              rep += 1
            }
            if (timed) cpu.addAndGet(mx.getCurrentThreadCpuTime - c0)
          }
        })
      }
      futs.foreach(_.get())
      (System.nanoTime() - t0) / 1e9
    }
    try {
      // untimed full warm pass: the FIRST calibrate() of a JVM otherwise
      // times its own JIT + pool spin-up (measured: pre 27.7 cpu_s vs
      // post 12.3 at equal regime) — the sentinel must measure the box,
      // not C2
      pass(timed = false)
      val wall = pass(timed = true)
      (wall, cpu.get / 1e9)
    } finally pool.shutdown()
  }

  final class WorkMeter(sc: org.apache.spark.SparkContext) {
    private val a = Array.fill(8)(new java.util.concurrent.atomic.AtomicLong)
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          a(0).incrementAndGet(); a(1).addAndGet(m.executorRunTime)
          a(2).addAndGet(m.executorCpuTime); a(3).addAndGet(m.jvmGCTime)
          a(4).addAndGet(m.memoryBytesSpilled); a(5).addAndGet(m.diskBytesSpilled)
          a(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
          a(7).addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    /** Drain the async listener bus, then read the counters. */
    def read(): Work = {
      Thread.sleep(1200)
      Work(a(0).get, a(1).get, a(2).get, a(3).get,
        a(4).get, a(5).get, a(6).get, a(7).get)
    }
  }

  /** Per-JOB-GROUP work attribution (the per-QUERY channel the per-phase
    * [[WorkMeter]] cannot give): the timed pass wraps each query in
    * `setJobGroup(tag, …)`; every job started under the group maps its
    * stages here, and task-end metrics accumulate per tag. Wall clock on
    * a contended box attributes scheduler WAIT to whichever query was
    * running; task/CPU/shuffle per query are properties of the executed
    * plan, so an r→r+1 regression is decidable per query even inside a
    * noisy window (the reference likewise times every run individually —
    * mpi/main.cc:39, mpi/logfile.h:109-124). Caveats: a stage shared
    * with (and executed by) an earlier un-grouped job is attributed to
    * that earlier job; shared lazy intermediates land on their first
    * consumer, exactly as wall time does. */
  final class GroupMeter(sc: org.apache.spark.SparkContext) {
    private val stageToGroup =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val acc = new java.util.concurrent.ConcurrentHashMap[
      String, Array[java.util.concurrent.atomic.AtomicLong]]()
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null && g.nonEmpty)
          j.stageIds.foreach(sid => stageToGroup.put(sid, g))
      }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val g = stageToGroup.get(e.stageId)
        val m = e.taskMetrics
        if (g != null && m != null) {
          val a = acc.computeIfAbsent(g, _ =>
            Array.fill(8)(new java.util.concurrent.atomic.AtomicLong))
          a(0).incrementAndGet(); a(1).addAndGet(m.executorRunTime)
          a(2).addAndGet(m.executorCpuTime); a(3).addAndGet(m.jvmGCTime)
          a(4).addAndGet(m.memoryBytesSpilled); a(5).addAndGet(m.diskBytesSpilled)
          a(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
          a(7).addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    /** Drain the async listener bus, then snapshot every group: poll
      * until two consecutive snapshots agree (bounded ~6 s) — a loaded
      * box can lag the bus past any fixed sleep, silently
      * under-attributing work. KNOWN GAP: broadcast-exchange jobs run
      * on Spark's shared exchange thread pool, whose threads may not
      * carry the caller's job group — those stages (small scalar
      * broadcast builds) attribute to no group. */
    def read(): Map[String, Work] = {
      import scala.jdk.CollectionConverters._
      def snap(): Map[String, Work] = acc.asScala.map { case (g, a) =>
        g -> Work(a(0).get, a(1).get, a(2).get, a(3).get,
          a(4).get, a(5).get, a(6).get, a(7).get)
      }.toMap
      var prev = snap()
      var polls = 0
      while (polls < 20) {
        Thread.sleep(300)
        val cur = snap()
        if (cur == prev) return cur
        prev = cur
        polls += 1
      }
      prev
    }
  }

  /** Runs `tasks` on `threads` daemon threads (a hung task cannot pin
    * the JVM at exit) and waits at most `timeout` for all of them. On
    * timeout the queued tasks are dropped and the running ones
    * interrupted BEFORE `onTimeout` runs, so no task starts new work
    * after it. */
  private[graft] def runBounded(tasks: Seq[() => Unit], threads: Int,
                                timeout: scala.concurrent.duration.FiniteDuration)
                               (onTimeout: => Unit): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futs = tasks.map(t => Future(t()))
    try Await.result(Future.sequence(futs), timeout)
    catch { case _: java.util.concurrent.TimeoutException =>
      pool.shutdownNow()
      onTimeout
    } finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", DefaultCpus)
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "18").toInt
    val nRoots = sys.env.getOrElse("SPARK_GRAFT_ROOTS", "16").toInt
    val g500On = sys.env.getOrElse("SPARK_GRAFT_G500", "1") != "0"
    val queriesOn = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "1") != "0"
    val adaptive = sys.env.getOrElse("SPARK_GRAFT_ADAPTIVE", "1") != "0"
    // hybrid-executor gate override (0 = force the distributed paths)
    val localMax = sys.env.get("SPARK_GRAFT_LOCAL_MAX")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // NOTE measured, not guessed: forcing size-based AQE coalescing
      // (parallelismFirst=false) or a 64 MB auto-broadcast threshold both
      // LOSE here — mid-size (~100 MB) join stages collapse to one task /
      // pay repeated broadcast builds. Defaults win; keep them.
      .config("spark.sql.adaptive.enabled", adaptive)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    localMax.foreach(v => Gates.localBfsMaxEdges.set(spark, v.toLong))
    // SPARK_GRAFT_FORCE_DISTRIBUTED=1: zero every hybrid gate (see Verify)
    if (sys.env.getOrElse("SPARK_GRAFT_FORCE_DISTRIBUTED", "0") == "1")
      Gates.forceDistributed(spark)
    // SPARK_GRAFT_BFS2D=RxC: time the 2D-grid distributed BFS layout
    sys.env.get("SPARK_GRAFT_BFS2D")
      .foreach(g => spark.conf.set("spark.graft.bfs2dGrid", g))
    // SPARK_GRAFT_CONF="k=v;k=v": arbitrary session-conf overrides
    bench.Main.applyConfOverrides(spark)

    // Per-phase work metrics (spill/shuffle/CPU/GC): `lap(tag)` closes
    // the phase that just ran and opens the next one.
    val meter = new WorkMeter(spark.sparkContext)
    val work = scala.collection.mutable.LinkedHashMap.empty[String, Work]
    var lastWork = meter.read()
    def lap(tag: String): Unit = {
      val now = meter.read()
      work(tag) = now - lastWork
      lastWork = now
    }

    // dev knob: SPARK_GRAFT_ONLY=q7_bfs,dd_minhash times just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }

    // Force a compacted, settled heap before a timed protocol phase —
    // the harmonic mean amplifies a single GC pause landing in one run.
    def gcSettle(): Unit = {
      System.gc(); Thread.sleep(400); System.gc(); Thread.sleep(100)
    }

    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    def g4(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.4g", Double.box(x))
    // headline TEPS fields must stay valid JSON even when a degenerate
    // protocol run yields NaN/Infinity (bare NaN is not JSON, and the
    // tail line is exactly what the driver parses) — same
    // non-finite-to-0.0 rule the stat_block fields already get
    def fin(x: Double): Double = Bench.finite(x)

    // One sequential (protocol-exact) Graph500 block: (full JSON object,
    // compact summary object for the tail-parseable line).
    // SPARK_GRAFT_CHECKPOINT=<path>: per-run resume file for the MAIN
    // sequential block only (S8 resume semantics, bench/Graph500.scala) —
    // long multi-root blocks at high SCALE (hours) survive a kill: a
    // re-invocation with the same path skips every completed run and a
    // lowered SPARK_GRAFT_ROOTS turns a partial file into a complete
    // smaller block. The isolated/spec64 blocks never checkpoint (they
    // exist to be timed whole).
    val checkpointEnv = sys.env.get("SPARK_GRAFT_CHECKPOINT").filter(_.nonEmpty)
    def seqProtocol(roots: Int, atScale: Int = scale,
                    checkpoint: Option[String] = None): (String, String) = {
      val t0 = System.nanoTime()
      try {
        val s = bench.Graph500.run(spark, atScale, roots,
          checkpointPath = checkpoint)
        val wall = (System.nanoTime() - t0) / 1e9
        val bfsTotal = s.runs.map(_.bfs_time).sum
        val valTotal = s.runs.map(_.validate_time).sum
        // full Graph500 result block (reference key set, mpi/logfile.h:59-100)
        val sb = bench.Graph500.statBlock(spark, s).head()
        val stat = sb.schema.fieldNames.zipWithIndex.map { case (f, i) =>
          // stddev_samp is NULL for a single run; NaN is not valid JSON
          val v = if (sb.isNullAt(i)) 0.0 else sb.getDouble(i)
          val safe = if (v.isNaN || v.isInfinite) 0.0 else v
          s""""$f":$safe"""
        }.mkString("{", ",", "}")
        val errs = s.runs.map(_.errors).sum
        val full = s"""{"scale":$atScale,"n_roots":$roots,"wall_sec":$wall,""" +
          s""""generation_sec":${s.generationTime},""" +
          s""""construction_sec":${s.constructionTime},""" +
          s""""bfs_total_sec":$bfsTotal,"validate_total_sec":$valTotal,""" +
          s""""harmonic_mean_teps":${fin(s.harmonicMeanTeps)},""" +
          s""""max_nedge":${s.runs.map(_.nedge.toLong).max},""" +
          s""""nedge_golden_ok":${s.nedgeGoldenOk},""" +
          s""""validation_errors":$errs,""" +
          s""""stat_block":$stat}"""
        val compact = s"""{"scale":$atScale,"hm_teps":${g4(fin(s.harmonicMeanTeps))},""" +
          s""""con_s":${r3(s.constructionTime)},"wall_s":${r3(wall)},""" +
          s""""ok":${s.nedgeGoldenOk},"err":$errs}"""
        (full, compact)
      } catch { case e: Throwable =>
        val err = s"""{"error":"${e.getClass.getSimpleName}"}"""
        (err, err)
      }
    }

    // Calibration sentinel PRE: fixed micro-kernel timed before any
    // Spark work — per-query cpu diffs across windows normalize by it
    // (see Bench.calibrate). A matching POST run brackets the suite so
    // a mid-run regime shift is visible in the artifact itself.
    val calThreads = cpus.toInt
    val calPre = Bench.calibrate(calThreads)
    val statPre = Bench.procStat()
    System.err.println(f"[bench] calibration pre: wall ${calPre._1}%.3f s" +
      f" cpu ${calPre._2}%.3f s ($calThreads threads)")

    // ISOLATED protocol: timed BEFORE the query surface touches the JVM
    // — the quiet-JVM number a SPARK_GRAFT_QUERIES=0 run would record,
    // in the same artifact as the full bench. A throwaway FULL-SCALE
    // protocol runs first, untimed: PRE_EXEC-style — the reference
    // warms the whole pipeline at benchmark scale before its timed
    // runs (mpi/main.cc:91-103); a smaller warm scale measurably
    // leaves ~1 s of JIT in the timed construction. Then the heap
    // settles and the timed protocol runs.
    val isolatedOn = g500On &&
      sys.env.getOrElse("SPARK_GRAFT_ISOLATED", "1") != "0"
    val g500iso = if (!isolatedOn) None else {
      // a failed throwaway warm run means the timed "isolated" block is
      // actually a cold-JVM number — surface that instead of hiding it
      try bench.Graph500.run(spark, scale, 8)
      catch { case e: Throwable =>
        System.err.println(s"[bench] isolated warm run failed: $e") }
      gcSettle()
      lap("g500_iso_warm")
      val r = Some(seqProtocol(nRoots))
      lap("g500_isolated")
      r
    }
    // PRE_EXEC-style warm-up (the reference warms the full pipeline before
    // its timed runs, mpi/main.cc:91-103): run every query once at the
    // smallest SF first. This JIT-compiles the whole Catalyst/codegen
    // stack and populates the janino cache with each plan shape, so timed
    // numbers measure the queries, not JVM start-up. Results are NOT
    // shared with the timed pass — per-SF intermediates are keyed by
    // directory, and the warm-up uses a different one.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val warmupOn = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0" &&
      queriesOn && warmDir != sfDir &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir))
    val warmupSec = if (!warmupOn) 0.0 else {
      val w0 = System.nanoTime()
      // warm-up queries run CONCURRENTLY — they are independent, the
      // SparkSession is thread-safe, the shared per-dir caches are
      // computeIfAbsent-atomic, and the point is JIT/codegen coverage,
      // not timing. Cuts ~15 s of sequential sf0.001 wall to ~5 s.
      // BOUNDED pool (not the global EC): launching all 163 queries at
      // once floods the scheduler with hundreds of concurrent jobs —
      // the r10 driver window recorded warmup task_s 5651 vs cpu_s 96
      // (tasks descheduled 59:1 under oversubscription). A few jobs in
      // flight fill the executor tail just as well (guide §2.6).
      // a failed warm-up is a diagnostic (its first real execution lands
      // in the timed number), and a hung one must not stall the bench —
      // log and bound, degrade to proceeding without full warm-up
      val tasks = selected.toSeq.map { case (name, fn) => () =>
        try { fn(spark, warmDir).count(); () } catch { case e: Throwable =>
          System.err.println(s"[bench] warm-up $name failed: $e")
        }
      }
      import scala.concurrent.duration._
      runBounded(tasks, 8, 10.minutes) {
        // kill the hung warm-up jobs too — left running they'd contend
        // with the timed pass and skew every recorded number
        spark.sparkContext.cancelAllJobs()
        System.err.println("[bench] warm-up timed out; proceeding unwarmed")
      }
      val w = (System.nanoTime() - w0) / 1e9
      lap("warmup")
      w
    }
    // Per-query time = min over SPARK_GRAFT_PASSES (default 2) timed
    // passes. One pass inherits whatever host-noise burst lands in it
    // (measured on a shared box: the same 0.25 s query recording 9 s when
    // a burst hits) and attributes shared-intermediate builds to their
    // first consumer; the min is the steady-state number the warm-up pass
    // exists to expose. Set SPARK_GRAFT_PASSES=1 for the round-3-style
    // single cold pass.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    // The st_* streaming twins are REPLAY-VERIFICATION harnesses: their
    // cost is dominated by the driver-side MemoryStream feed + per-batch
    // state-store churn, by construction (StreamVerify scaladoc), not by
    // the operators — production streams read Kafka/files. Timing them
    // into the headline would make `value` incomparable with the batch
    // surface band, so they are timed ONCE into their own field.
    val (streamSel, batchSel) = selected.partition(_._1.startsWith("st_"))
    // per-query work attribution rides job groups around each timed
    // query (tag = p<pass>:<query>); the timed passes are sequential on
    // this thread, so the group covers exactly that query's jobs
    val qMeter = new GroupMeter(spark.sparkContext)
    def grouped[A](tag: String)(body: => A): A = {
      spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
    }
    val passResults: Seq[Map[String, Double]] =
      if (!queriesOn) Seq.empty
      else (1 to passes).map { p =>
        val r = batchSel.map { case (name, fn) =>
          val t0 = System.nanoTime()
          grouped(s"p$p:$name") {
            try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
          }
          name -> (System.nanoTime() - t0) / 1e9
        }
        lap(s"queries_pass$p")
        r
      }
    val streamOn = queriesOn && streamSel.nonEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_STREAMING", "1") != "0"
    val streamResults: Map[String, Double] =
      if (!streamOn) Map.empty
      else {
        val r = streamSel.map { case (name, fn) =>
          val t0 = System.nanoTime()
          grouped(s"st:$name") {
            try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
          }
          name -> (System.nanoTime() - t0) / 1e9
        }
        lap("streaming")
        r
      }
    // Per-query WORK snapshot (one bus drain for all groups): the
    // steady-state channel is the LAST pass (shared intermediates
    // already built), the cold channel is pass 1 — same convention as
    // the wall-clock queries/queries_cold pair.
    val groupWork: Map[String, Work] =
      if (queriesOn) qMeter.read() else Map.empty
    def groupSlice(prefix: String): Map[String, Work] =
      groupWork.collect { case (tag, w) if tag.startsWith(prefix) =>
        tag.stripPrefix(prefix) -> w
      }
    val qWork = groupSlice(s"p$passes:")
    val qWorkCold = if (passes > 1) groupSlice("p1:") else Map.empty[String, Work]
    val stWork = groupSlice("st:")
    // Record BOTH the pass-1 (cold: shared-intermediate builds land on
    // their first consumer) and the min (steady-state) — so the
    // warm-cache min is never silently compared against cold baselines.
    val resultsCold =
      if (passResults.isEmpty) Map.empty[String, Double] else passResults.head
    val results =
      if (passResults.isEmpty) Map.empty[String, Double]
      else passResults.reduce { (a, b) =>
        a.map { case (k, v) => k -> math.min(v, b(k)) }
      }
    // Phase boundary: the query surface leaves persisted tables,
    // broadcasts and kernel arrays behind; at SCALE 18+ the protocol
    // phase then allocates multi-hundred-MB primitive arrays into a
    // fragmented old gen and its timed runs absorb the GC churn
    // (measured: batched throughput ~190 MTEPS after 54 queries vs
    // ~290 MTEPS in a fresh JVM). Drop the query phase's state and
    // compact before timing the protocol.
    if (queriesOn && g500On) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      gcSettle()
    }
    // SPARK_GRAFT_SEQ=0 skips the sequential protocol block alone — at
    // SCALE 26 a 12+-root sequential run disk-fills the 252 GB scratch
    // volume (~1 root/JVM of transients); the batched loop below is the
    // disk-safe multi-root plan there (all roots share one level loop's
    // shuffle files).
    val seqOn = g500On && sys.env.getOrElse("SPARK_GRAFT_SEQ", "1") != "0"
    val g500 = if (seqOn) {
      val r = Some(seqProtocol(nRoots, checkpoint = checkpointEnv))
      lap("g500_seq")
      r
    } else None
    // SPARK_GRAFT_BATCHED=0 skips the batched block alone — a pure-resume
    // finalize of a high-SCALE seq block has no use for a full batched
    // re-run of the same protocol (it re-generates and re-constructs).
    val batchedOn = g500On &&
      sys.env.getOrElse("SPARK_GRAFT_BATCHED", "1") != "0"
    val g500b: Option[(String, String)] = if (batchedOn) {
      val r = try {
        val b = bench.Graph500.runBatched(spark, scale, nRoots)
        // Per-root stat block from the batched run: nedge is EXACT per
        // root (validateMulti); time is the amortized wall/nRoots — the
        // batched loop shares one level loop across roots, so no honest
        // per-root time exists (field names follow the reference key
        // set, mpi/logfile.h:59-100, like the sequential block's).
        val perRoot = if (b.perRootNedge.isEmpty) "" else {
          val amort = b.bfsWall / b.nRoots
          val stats = bench.Graph500.statBlock(spark,
            bench.Graph500.Summary(scale, b.nRoots, b.generationTime,
              b.constructionTime,
              b.roots.zip(b.perRootNedge).zipWithIndex.map {
                case ((root, ne), i) => bench.Graph500.RunStat(i.toLong,
                  root, amort, b.validateWall / b.nRoots, ne.toDouble, 0L)
              },
              0.0, b.nedgeGoldenOk)).head()
          val stat = stats.schema.fieldNames.zipWithIndex.map { case (f, i) =>
            val v = if (stats.isNullAt(i)) 0.0 else stats.getDouble(i)
            s""""$f":${fin(v)}"""
          }.mkString("{", ",", "}")
          s""","per_root_nedge":${b.perRootNedge.mkString("[", ",", "]")},""" +
            s""""bfs_amortized_sec_per_root":${fin(b.bfsWall / b.nRoots)},""" +
            s""""stat_block_amortized":$stat"""
        }
        val full = s"""{"scale":$scale,"n_roots":$nRoots,""" +
          s""""generation_sec":${b.generationTime},""" +
          s""""construction_sec":${b.constructionTime},""" +
          s""""bfs_wall_sec":${b.bfsWall},""" +
          s""""validate_wall_sec":${b.validateWall},""" +
          s""""total_nedge":${b.totalNedge},""" +
          s""""throughput_teps":${fin(b.throughputTeps)},""" +
          s""""nedge_golden_ok":${b.nedgeGoldenOk},""" +
          s""""validation_errors":${b.errors}$perRoot}"""
        val compact = s"""{"scale":$scale,"teps":${g4(fin(b.throughputTeps))},""" +
          s""""ok":${b.nedgeGoldenOk},"err":${b.errors}}"""
        Some((full, compact))
      } catch { case e: Throwable =>
        val err = s"""{"error":"${e.getClass.getSimpleName}"}"""
        Some((err, err))
      }
      lap("g500_batched")
      r
    } else None
    // Spec-mode parity: the reference's published protocol validates 64
    // roots (REAL_BENCHMARK, mpi/parameters.h:156-161); record one
    // 64-root sequential run alongside the 16-root blocks.
    val spec64On = g500On &&
      sys.env.getOrElse("SPARK_GRAFT_SPEC64", "1") != "0"
    val g500spec = if (!spec64On) None else {
      gcSettle()
      val r = Some(seqProtocol(64))
      lap(s"g500_spec64_s$scale")
      r
    }
    // Second scale point for round-over-round comparison: the same
    // 64-root spec block at SCALE 20 (4× the default's edge count),
    // so the artifact carries spec64 at TWO scales every round. NOTE:
    // this is a complete extra protocol run (gen + construction + 64
    // BFS + validation, ~10-15 s at scale 20 on this box) on every
    // default bench invocation; set SPARK_GRAFT_SPEC64_SCALE2=0 to
    // skip it.
    val spec20Scale = {
      val s = sys.env.getOrElse("SPARK_GRAFT_SPEC64_SCALE2", "20")
      s.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_SPEC64_SCALE2: '$s' is not an integer"))
    }
    val spec20On = spec64On && spec20Scale > 0 && spec20Scale != scale
    val g500spec20 = if (!spec20On) None else {
      gcSettle()
      val r = Some(seqProtocol(64, spec20Scale))
      lap(s"g500_spec64_s$spec20Scale")
      r
    }
    // Calibration sentinel POST: same kernel after the last timed block.
    val calPost = Bench.calibrate(calThreads)
    val statPost = Bench.procStat()
    System.err.println(f"[bench] calibration post: wall ${calPost._1}%.3f s" +
      f" cpu ${calPost._2}%.3f s")
    def jmap(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val coldField = if (passes > 1 && resultsCold.nonEmpty)
      s""","queries_cold":${jmap(resultsCold)},"passes":$passes""" else ""
    val streamField = if (streamResults.nonEmpty)
      s""","queries_streaming":${jmap(streamResults)}""" +
        s""","streaming_total_sec":${streamResults.values.sum}""" else ""
    def blocks(pick: ((String, String)) => String): String =
      g500iso.map(j => s""","graph500_isolated":${pick(j)}""").getOrElse("") +
      g500.map(j => s""","graph500":${pick(j)}""").getOrElse("") +
      g500b.map(j => s""","graph500_batched":${pick(j)}""").getOrElse("") +
      g500spec.map(j => s""","graph500_spec64":${pick(j)}""").getOrElse("") +
      g500spec20.map(j =>
        s""","graph500_spec64_s$spec20Scale":${pick(j)}""").getOrElse("")
    val warmField = if (warmupOn) s""","warmup_sf":"$warmDir","warmup_sec":$warmupSec""" else ""
    val workField = if (work.isEmpty) "" else
      s""","work":${work.map { case (t, w) => s""""$t":${w.json}""" }
        .mkString("{", ",", "}")}"""
    def jwork(m: Map[String, Work]): String =
      m.toSeq.sortBy(_._1).map { case (k, w) => s""""$k":${w.json}""" }
        .mkString("{", ",", "}")
    val qWorkField =
      (if (qWork.nonEmpty) s""","queries_work":${jwork(qWork)}""" else "") +
      (if (qWorkCold.nonEmpty)
        s""","queries_work_cold":${jwork(qWorkCold)}""" else "") +
      (if (stWork.nonEmpty)
        s""","queries_streaming_work":${jwork(stWork)}""" else "")

    // 1. The COMPLETE result object: full per-query map, cold pass,
    //    streaming, every protocol block's stat record, per-phase work
    //    metrics. Printed for the log AND persisted to a file the round
    //    artifacts can carry (the driver's stdout capture truncates to
    //    the last ~2000 chars — a full 163-query record cannot fit).
    // host steal over the WHOLE bench window: the decisive regime gauge
    // (see Bench.procStat scaladoc) — steal_pct_of_busy ≳ 2-3% marks an
    // inflated window whose per-query cpu diffs must not be trusted
    val hostField = (statPre, statPost) match {
      case (Some((b0, s0, t0)), Some((b1, s1, t1))) =>
        val busy = b1 - b0; val steal = s1 - s0
        s""","host":{"busy_ticks":$busy,"steal_ticks":$steal,""" +
          s""""total_ticks":${t1 - t0},""" +
          s""""steal_pct_of_busy":${r3(100.0 * steal / math.max(busy, 1L))}}"""
      case _ => ""
    }
    val calField =
      s""","calibration":{"pre":{"wall_s":${r3(calPre._1)},"cpu_s":${r3(calPre._2)}},""" +
        s""""post":{"wall_s":${r3(calPost._1)},"cpu_s":${r3(calPost._2)}},""" +
        s""""threads":$calThreads,"kernel":"xorshift-fill+sort 2M longs x2"}""" +
        hostField
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qs,"sf":"$sfDir"$coldField$streamField$warmField""" +
      blocks(_._1) + workField + qWorkField + calField + "}"
    println(fullJson)
    // Default output name is PER-CORE-COUNT: the driver benches the same
    // code at two core counts back-to-back, and a fixed name lets the
    // second (scaling) run overwrite the first run's per-query record —
    // r10's scaling diff came back empty for exactly that reason. The
    // legacy fixed name is a copy of the main run only (writesLegacyCopy);
    // the compact tail line's "full" key names the authoritative file.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_FULL_c$cpus.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full result written to $outPath")
      if (writesLegacyCopy(outPath, cpus))
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
          fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }

    // 2. Compact tail line (< ~1900 chars), printed LAST so the driver's
    //    truncated capture parses: headline total, the slowest queries,
    //    each block's key numbers, per-phase work. Everything else is in
    //    BENCH_FULL.json ("full" key).
    val slowest = results.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    val compactWork = if (work.isEmpty) "" else
      s""","work":${work.map { case (t, w) =>
        s""""$t":{"task_s":${r3(w.taskMs / 1e3)},"cpu_s":${r3(w.cpuNs / 1e9)},""" +
          s""""spill_gb":${r3((w.spillMem + w.spillDisk) / 1e9)},""" +
          s""""shw_gb":${r3(w.shufWrite / 1e9)}}"""
      }.mkString("{", ",", "}")}"""
    val compactStream = if (streamResults.isEmpty) ""
      else s""","streaming_total_sec":${r3(streamResults.values.sum)}"""
    val compact = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""sf":"$sfDir","full":"$outPath","n_queries":${results.size},""" +
      s""""slowest":$slowest$compactStream""" +
      (if (warmupOn) s""","warmup_sec":${r3(warmupSec)}""" else "") +
      s""","cal_cpu_s":[${r3(calPre._2)},${r3(calPost._2)}]""" +
      ((statPre, statPost) match {
        case (Some((b0, s0, _)), Some((b1, s1, _))) =>
          s""","steal_pct":${r3(100.0 * (s1 - s0) / math.max(b1 - b0, 1L))}"""
        case _ => ""
      }) +
      blocks(_._2) + compactWork + "}"
    if (compact.length > 1950)
      System.err.println(s"[bench] WARNING compact line ${compact.length} chars" +
        " — may exceed the driver's tail capture")
    println(compact)
    spark.stop()
  }
}
