package graft
import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.bench.{Json, Recorder, Work}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * then runs the full Graph500 protocol (generate → construct → N
  * validated BFS runs → harmonic-mean TEPS) at SPARK_GRAFT_SCALE.
  *
  * Output contract (the driver captures only the LAST ~2000 chars of
  * stdout and parses a JSON line out of that tail):
  *  1. the COMPLETE result object — per-query map, cold pass, every
  *     protocol block, per-phase WORK metrics (spill/shuffle/CPU/GC
  *     from the span recorder, bench.Trace; on a steal-prone box wall
  *     time is the noisy channel, work metrics are a property of the
  *     plan) —
  *     is written to BENCH_FULL.json (SPARK_GRAFT_BENCH_OUT) and also
  *     printed in full for the log;
  *  2. the LAST line printed is a compact (<1900 char) summary — total,
  *     the 10 slowest queries, each protocol block's headline numbers,
  *     per-phase work — so the driver's truncated tail parses.
  * The reference's result block is likewise a complete machine-readable
  * record (mpi/logfile.h:46-107). */
object Bench {

  /** Core count of the main run (SPARK_GRAFT_CPUS unset). */
  val DefaultCpus = "32"

  /** Whether this run also copies its record to the legacy fixed name
    * `BENCH_FULL.json`, which old consumers read as the MAIN run's
    * record: only a run at [[DefaultCpus]] does, so the same code benched
    * again at another core count (the scaling re-run) never overwrites
    * it. */
  private[graft] def writesLegacyCopy(outPath: String, cpus: String): Boolean =
    outPath != "BENCH_FULL.json" && cpus == DefaultCpus

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

  /** One Graph500 block of the artifact: its full record and the summary
    * the compact line carries. */
  private[graft] final case class Block(full: ListMap[String, Any],
                                        compact: ListMap[String, Any])

  /** Everything a bench run measured; [[artifact]] and [[compactLine]]
    * render it. `queries` is the steady state (min over `passes`) and
    * `queriesCold` pass 1; a query that threw in any pass is only in
    * `failed` (name → `Class: message`). `work` is per phase in run order;
    * `host` is the /proc/stat (busy, steal, total) ticks over the run. */
  private[graft] final case class Outcome(
      sfDir: String, outPath: String, passes: Int,
      queries: ListMap[String, Double], queriesCold: ListMap[String, Double],
      streaming: ListMap[String, Double], failed: ListMap[String, String],
      warmup: Option[(String, Double)], blocks: Seq[(String, Block)],
      work: Seq[(String, Work)], queriesWork: Map[String, Work],
      queriesWorkCold: Map[String, Work], streamingWork: Map[String, Work],
      calPre: (Double, Double), calPost: (Double, Double), calThreads: Int,
      host: Option[(Long, Long, Long)])

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  private def stealPct(busy: Long, steal: Long): Double =
    r3(100.0 * steal / math.max(busy, 1L))

  private def when(c: Boolean)(kv: (String, Any)*): ListMap[String, Any] =
    if (c) ListMap(kv: _*) else ListMap.empty

  /** The complete result object written to the artifact file. */
  private[graft] def artifact(o: Outcome): ListMap[String, Any] = {
    def works(m: Map[String, Work]) =
      ListMap(m.toSeq.sortBy(_._1).map { case (k, w) => k -> w.fields }: _*)
    ListMap[String, Any]("metric" -> "total", "value" -> o.queries.values.sum,
      "unit" -> "sec", "queries" -> o.queries, "sf" -> o.sfDir) ++
      when(o.passes > 1 && o.queriesCold.nonEmpty)(
        "queries_cold" -> o.queriesCold, "passes" -> o.passes) ++
      when(o.streaming.nonEmpty)("queries_streaming" -> o.streaming,
        "streaming_total_sec" -> o.streaming.values.sum) ++
      ListMap("queries_failed" -> o.failed) ++
      o.warmup.toSeq.flatMap { case (dir, sec) =>
        Seq("warmup_sf" -> dir, "warmup_sec" -> sec) } ++
      o.blocks.map { case (k, b) => k -> b.full } ++
      when(o.work.nonEmpty)("work" ->
        ListMap(o.work.map { case (t, w) => t -> w.fields }: _*)) ++
      when(o.queriesWork.nonEmpty)("queries_work" -> works(o.queriesWork)) ++
      when(o.queriesWorkCold.nonEmpty)(
        "queries_work_cold" -> works(o.queriesWorkCold)) ++
      when(o.streamingWork.nonEmpty)(
        "queries_streaming_work" -> works(o.streamingWork)) ++
      ListMap("calibration" -> ListMap(
        "pre" -> ListMap("wall_s" -> r3(o.calPre._1), "cpu_s" -> r3(o.calPre._2)),
        "post" -> ListMap("wall_s" -> r3(o.calPost._1), "cpu_s" -> r3(o.calPost._2)),
        "threads" -> o.calThreads, "kernel" -> "xorshift-fill+sort 2M longs x2")) ++
      // host steal over the WHOLE bench window: the decisive regime gauge
      // (see procStat) — steal_pct_of_busy ≳ 2-3% marks an inflated
      // window whose per-query cpu diffs must not be trusted
      o.host.map { case (busy, steal, total) =>
        "host" -> ListMap("busy_ticks" -> busy, "steal_ticks" -> steal,
          "total_ticks" -> total, "steal_pct_of_busy" -> stealPct(busy, steal))
      }
  }

  /** The compact tail line (< ~1950 chars), printed LAST so that a
    * capture keeping only the last ~2000 chars of stdout still parses it:
    * headline total, the slowest queries, each block's key numbers,
    * per-phase work. Everything else is in the artifact file ("full"
    * key). */
  private[graft] def compactLine(o: Outcome): ListMap[String, Any] =
    ListMap[String, Any]("metric" -> "total", "value" -> r3(o.queries.values.sum),
      "unit" -> "sec", "sf" -> o.sfDir, "full" -> o.outPath,
      "n_queries" -> o.queries.size, "n_failed" -> o.failed.size,
      "slowest" -> ListMap(o.queries.toSeq.sortBy(-_._2).take(10)
        .map { case (k, v) => k -> r3(v) }: _*)) ++
      when(o.streaming.nonEmpty)(
        "streaming_total_sec" -> r3(o.streaming.values.sum)) ++
      o.warmup.map { case (_, sec) => "warmup_sec" -> r3(sec) } ++
      ListMap("cal_cpu_s" -> Seq(r3(o.calPre._2), r3(o.calPost._2))) ++
      o.host.map { case (busy, steal, _) => "steal_pct" -> stealPct(busy, steal) } ++
      o.blocks.map { case (k, b) => k -> b.compact } ++
      when(o.work.nonEmpty)("work" -> ListMap(o.work.map { case (t, w) =>
        t -> ListMap("task_s" -> r3(w.taskMs / 1e3), "cpu_s" -> r3(w.cpuNs / 1e9),
          "spill_gb" -> r3((w.spillMem + w.spillDisk) / 1e9),
          "shw_gb" -> r3(w.shufWrite / 1e9))
      }: _*))

  /** Times each query of `sel` once, each in a child span
    * `<tag>:<name>`. A query that throws is a failure, never a result:
    * its first error (`Class: message`) goes to `failed` and it gets no
    * time. */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
      rec: Recorder, tag: String,
      sel: Map[String, (SparkSession, String) => DataFrame],
      failed: mutable.Map[String, String]): ListMap[String, Double] =
    ListMap.from(sel.flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        rec.span(s"$tag:$name")(fn(spark, sfDir).count())
        Some(name -> (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        failed.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        None
      }
    })

  /** (steady state, cold) per-query times over the timed passes: the min
    * over passes, and pass 1 (shared-intermediate builds land on their
    * first consumer) — recorded both, so the warm-cache min is never
    * silently compared against cold baselines. A query that failed in
    * any pass is in neither. */
  private[graft] def steadyAndCold(passes: Seq[ListMap[String, Double]],
      failed: scala.collection.Map[String, String])
      : (ListMap[String, Double], ListMap[String, Double]) = {
    val cold = passes.headOption.getOrElse(ListMap.empty[String, Double])
      .filter(kv => !failed.contains(kv._1))
    (cold.map { case (q, t) => q -> passes.tail.map(_(q)).foldLeft(t)(math.min) },
      cold)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", DefaultCpus)
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "18").toInt
    val nRoots = sys.env.getOrElse("SPARK_GRAFT_ROOTS", "16").toInt
    val g500On = sys.env.getOrElse("SPARK_GRAFT_G500", "1") != "0"
    val queriesOn = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "1") != "0"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE and the broadcast threshold stay at Spark's defaults. NOTE
      // measured, not guessed: forcing size-based AQE coalescing
      // (parallelismFirst=false) or a 64 MB auto-broadcast threshold both
      // LOSE here — mid-size (~100 MB) join stages collapse to one task /
      // pay repeated broadcast builds. Defaults win; keep them.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_FORCE_DISTRIBUTED=1: zero every hybrid gate (see Verify)
    if (sys.env.getOrElse("SPARK_GRAFT_FORCE_DISTRIBUTED", "0") == "1")
      Gates.forceDistributed(spark)
    // SPARK_GRAFT_CONF="k=v;k=v": arbitrary session-conf overrides
    bench.Main.applyConfOverrides(spark)

    // Every phase is a top-level span, every timed query or replay a
    // child span (p<pass>:<query>, st:<query>); work is read from the
    // span totals after one bus drain at the end of the run.
    val rec = new Recorder(spark.sparkContext)

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

    def g4(x: Double): Double =
      BigDecimal(Json.finite(x)).round(new java.math.MathContext(4)).toDouble

    // full Graph500 result block (reference key set, mpi/logfile.h:59-100);
    // stddev_samp is NULL for a single run
    def statFields(s: bench.Graph500.Summary): ListMap[String, Any] = {
      val row = bench.Graph500.statBlock(spark, s).head()
      ListMap(row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
        f -> (if (row.isNullAt(i)) 0.0 else row.getDouble(i))
      }: _*)
    }

    // One sequential (protocol-exact) Graph500 block.
    // SPARK_GRAFT_CHECKPOINT=<path>: per-run resume file for the MAIN
    // sequential block only (S8 resume semantics, bench/Graph500.scala) —
    // long multi-root blocks at high SCALE (hours) survive a kill: a
    // re-invocation with the same path skips every completed run and a
    // lowered SPARK_GRAFT_ROOTS turns a partial file into a complete
    // smaller block. The isolated/spec64 blocks never checkpoint (they
    // exist to be timed whole).
    val checkpointEnv = sys.env.get("SPARK_GRAFT_CHECKPOINT").filter(_.nonEmpty)
    def seqBlock(roots: Int, atScale: Int = scale,
                 checkpoint: Option[String] = None): Block = {
      val t0 = System.nanoTime()
      val s = bench.Graph500.run(spark, atScale, roots,
        checkpointPath = checkpoint)
      val wall = (System.nanoTime() - t0) / 1e9
      val errs = s.runs.map(_.errors).sum
      Block(ListMap("scale" -> atScale, "n_roots" -> roots, "wall_sec" -> wall,
        "generation_sec" -> s.generationTime,
        "construction_sec" -> s.constructionTime,
        "bfs_total_sec" -> s.runs.map(_.bfs_time).sum,
        "validate_total_sec" -> s.runs.map(_.validate_time).sum,
        "harmonic_mean_teps" -> s.harmonicMeanTeps,
        "max_nedge" -> s.runs.map(_.nedge.toLong).max,
        "nedge_golden_ok" -> s.nedgeGoldenOk, "validation_errors" -> errs,
        "stat_block" -> statFields(s)),
        ListMap("scale" -> atScale, "hm_teps" -> g4(s.harmonicMeanTeps),
          "con_s" -> r3(s.constructionTime), "wall_s" -> r3(wall),
          "ok" -> s.nedgeGoldenOk, "err" -> errs))
    }
    def batchedBlock(): Block = {
      val b = bench.Graph500.runBatched(spark, scale, nRoots)
      // Per-root stat block from the batched run: nedge is EXACT per
      // root (validateMulti); time is the amortized wall/nRoots — the
      // batched loop shares one level loop across roots, so no honest
      // per-root time exists (field names follow the reference key
      // set, mpi/logfile.h:59-100, like the sequential block's).
      val amort = b.bfsWall / b.nRoots
      val perRoot = if (b.perRootNedge.isEmpty) ListMap.empty[String, Any]
        else ListMap("per_root_nedge" -> b.perRootNedge,
          "bfs_amortized_sec_per_root" -> amort,
          "stat_block_amortized" -> statFields(bench.Graph500.Summary(scale,
            b.nRoots, b.generationTime, b.constructionTime,
            b.roots.zip(b.perRootNedge).zipWithIndex.map {
              case ((root, ne), i) => bench.Graph500.RunStat(i.toLong,
                root, amort, b.validateWall / b.nRoots, ne.toDouble, 0L)
            }, 0.0, b.nedgeGoldenOk)))
      Block(ListMap[String, Any]("scale" -> scale, "n_roots" -> nRoots,
        "generation_sec" -> b.generationTime,
        "construction_sec" -> b.constructionTime,
        "bfs_wall_sec" -> b.bfsWall, "validate_wall_sec" -> b.validateWall,
        "total_nedge" -> b.totalNedge, "throughput_teps" -> b.throughputTeps,
        "nedge_golden_ok" -> b.nedgeGoldenOk,
        "validation_errors" -> b.errors) ++ perRoot,
        ListMap("scale" -> scale, "teps" -> g4(b.throughputTeps),
          "ok" -> b.nedgeGoldenOk, "err" -> b.errors))
    }
    // Each Graph500 block runs inside its own phase span; a throwing
    // block is recorded as its error class.
    def runBlocks(blocks: Seq[Option[(String, String, () => Block)]])
        : Seq[(String, Block)] =
      blocks.flatten.map { case (key, phase, body) =>
        key -> rec.span(phase) {
          try body() catch { case e: Throwable =>
            val err = ListMap[String, Any]("error" -> e.getClass.getSimpleName)
            Block(err, err)
          }
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
    if (isolatedOn) rec.span("g500_iso_warm") {
      // a failed throwaway warm run means the timed "isolated" block is
      // actually a cold-JVM number — surface that instead of hiding it
      try bench.Graph500.run(spark, scale, 8)
      catch { case e: Throwable =>
        System.err.println(s"[bench] isolated warm run failed: $e") }
      gcSettle()
    }
    val isolated = runBlocks(Seq(Option.when(isolatedOn)(
      ("graph500_isolated", "g500_isolated", () => seqBlock(nRoots)))))
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
    val warmup = Option.when(warmupOn)(warmDir -> rec.span("warmup") {
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
      (System.nanoTime() - w0) / 1e9
    })
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
    val failed = mutable.LinkedHashMap.empty[String, String]
    val passResults: Seq[ListMap[String, Double]] =
      if (!queriesOn) Seq.empty
      else (1 to passes).map(p => rec.span(s"queries_pass$p")(
        timeQueries(spark, sfDir, rec, s"p$p", batchSel, failed)))
    val streamOn = queriesOn && streamSel.nonEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_STREAMING", "1") != "0"
    val streaming =
      if (!streamOn) ListMap.empty[String, Double]
      else rec.span("streaming")(
        timeQueries(spark, sfDir, rec, "st", streamSel, failed))
    val (results, resultsCold) = steadyAndCold(passResults, failed)
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
    // volume (~1 root/JVM of transients); the batched loop is the
    // disk-safe multi-root plan there (all roots share one level loop's
    // shuffle files). SPARK_GRAFT_BATCHED=0 skips the batched block alone
    // — a pure-resume finalize of a high-SCALE seq block has no use for a
    // full batched re-run of the same protocol.
    // Spec-mode parity: the reference's published protocol validates 64
    // roots (REAL_BENCHMARK, mpi/parameters.h:156-161); record one
    // 64-root sequential run alongside the 16-root blocks, and the same
    // 64-root block at a second scale (SPARK_GRAFT_SPEC64_SCALE2, default
    // 20: 4× the default's edge count; 0 skips it) so the artifact
    // carries spec64 at TWO scales every round.
    val seqOn = g500On && sys.env.getOrElse("SPARK_GRAFT_SEQ", "1") != "0"
    val batchedOn = g500On &&
      sys.env.getOrElse("SPARK_GRAFT_BATCHED", "1") != "0"
    val spec64On = g500On &&
      sys.env.getOrElse("SPARK_GRAFT_SPEC64", "1") != "0"
    val spec20Scale = {
      val s = sys.env.getOrElse("SPARK_GRAFT_SPEC64_SCALE2", "20")
      s.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_SPEC64_SCALE2: '$s' is not an integer"))
    }
    val spec20On = spec64On && spec20Scale > 0 && spec20Scale != scale
    val protocol = runBlocks(Seq(
      Option.when(seqOn)(("graph500", "g500_seq",
        () => seqBlock(nRoots, checkpoint = checkpointEnv))),
      Option.when(batchedOn)(("graph500_batched", "g500_batched",
        () => batchedBlock())),
      Option.when(spec64On)(("graph500_spec64", s"g500_spec64_s$scale",
        () => { gcSettle(); seqBlock(64) })),
      Option.when(spec20On)((s"graph500_spec64_s$spec20Scale",
        s"g500_spec64_s$spec20Scale",
        () => { gcSettle(); seqBlock(64, spec20Scale) }))))
    // Calibration sentinel POST: same kernel after the last timed block.
    val calPost = Bench.calibrate(calThreads)
    val statPost = Bench.procStat()
    System.err.println(f"[bench] calibration post: wall ${calPost._1}%.3f s" +
      f" cpu ${calPost._2}%.3f s")

    rec.finish()
    val spans = rec.spans
    // steady-state work is the LAST pass (shared intermediates already
    // built), cold work pass 1 — the queries/queries_cold convention
    def spanWork(prefix: String): Map[String, Work] = spans.collect {
      case s if s.name.startsWith(prefix) &&
          !failed.contains(s.name.stripPrefix(prefix)) =>
        s.name.stripPrefix(prefix) -> rec.work(s)
    }.toMap
    // Default output name is PER-CORE-COUNT: the driver benches the same
    // code at two core counts back-to-back, and a fixed name lets the
    // second (scaling) run overwrite the first run's per-query record —
    // r10's scaling diff came back empty for exactly that reason. The
    // legacy fixed name is a copy of the main run only (writesLegacyCopy);
    // the compact tail line's "full" key names the authoritative file.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_FULL_c$cpus.json")
    val outcome = Outcome(sfDir, outPath, passes, results, resultsCold, streaming,
      ListMap(failed.toSeq: _*), warmup, isolated ++ protocol,
      spans.filter(_.parent < 0).map(s => s.name -> rec.work(s)),
      spanWork(s"p$passes:"),
      if (passes > 1) spanWork("p1:") else Map.empty, spanWork("st:"),
      calPre, calPost, calThreads,
      for ((b0, s0, t0) <- statPre; (b1, s1, t1) <- statPost)
        yield (b1 - b0, s1 - s0, t1 - t0))

    // 1. The COMPLETE result object, printed for the log AND persisted
    //    (a stdout capture that keeps the last ~2000 chars cannot hold a
    //    full 163-query record).
    val fullJson = Json.string(artifact(outcome))
    println(fullJson)
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), fullJson)
      System.err.println(s"[bench] full result written to $outPath")
      if (writesLegacyCopy(outPath, cpus))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_FULL.json"), fullJson)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
    // 2. The compact tail line, LAST.
    val compact = Json.string(compactLine(outcome))
    if (compact.length > 1950)
      System.err.println(s"[bench] WARNING compact line ${compact.length} chars" +
        " — may exceed the driver's tail capture")
    println(compact)
    spark.stop()
  }
}
