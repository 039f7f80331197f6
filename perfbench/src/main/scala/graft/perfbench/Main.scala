package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in this JVM: set up, time whole passes of the
  * workload for the requested seconds, and write everything measured to
  * a JSON file that `perfbench/run.py` turns into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <smoke 0|1>
  *             <cpus> <dataDir> <outDir>
  *
  * Each timed pass runs in a session of its own. With trace on, the
  * listeners are attached for every timed pass. */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, smokeS, cpus, dataDir, outDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val smoke = smokeS == "1"
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val statPre = graft.Bench.procStat()
    val calPre = calibrate(cpus.toInt)
    val heap = new HeapPeak

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "smoke" -> smoke, "cpus" -> cpus.toInt)
    val rec = new Recorder
    val checks = new Checks
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var tracer: Option[Tracer] = None
    try {
      val w = Workloads(workload, seed, smoke, dataDir, cpus.toInt)
      w.setup(spark)
      out("setup_s") = (Clock.nowMs() - processStartMs) / 1e3 - calPre("wall_s")
      heap.reset()

      if (trace) {
        val t = new Tracer(spark)
        tracer = Some(t)
        t.register()
      }
      // whole passes while the next one, judged by the last, still ends
      // within the requested seconds; always at least two, so that a
      // median has more than one pass to go on
      val t0 = System.nanoTime()
      var more = true
      while (more) {
        val i0 = System.nanoTime()
        rec.pass = passes.size
        val session = spark.newSession()
        tracer.foreach(_.attach(session))
        val p0 = System.nanoTime()
        val after = w.pass(session, rec, checks, trace)
        passes += Map("pass" -> rec.pass, "wall_s" -> (System.nanoTime() - p0) / 1e9)
        after()
        Workloads.release(session)
        System.gc()
        val now = System.nanoTime()
        more = passes.size < 2 || (2 * now - t0 - i0) / 1e9 <= seconds
      }
      tracer.foreach(_.finish())
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        out("error") = s"${e.getClass.getName}: ${e.getMessage}"
    }
    out("heap_peak_mb") = heap.peakMb
    val rt = Runtime.getRuntime
    out("heap_max_mb") = rt.maxMemory / 1048576.0
    out("heap_committed_mb") = rt.totalMemory / 1048576.0
    out("oracle_sql") = checks.outputs.keys
      .flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    spark.stop()

    val statPost = graft.Bench.procStat()
    out("host") = Map(
      "calibration_pre" -> calPre,
      "calibration_post" -> calibrate(cpus.toInt),
      "steal_pct_of_busy" -> ((statPre, statPost) match {
        case (Some((b0, s0, _)), Some((b1, s1, _))) =>
          100.0 * (s1 - s0) / math.max(b1 - b0, 1L)
        case _ => Double.NaN
      }))
    out("passes") = passes.toSeq
    out("ops") = rec.ops.toSeq.map(o => Map("pass" -> o.pass,
      "name" -> o.name, "family" -> o.family, "ok" -> o.ok, "ms" -> o.ms,
      "work" -> o.work, "error" -> o.error, "bfs_ms" -> o.bfsMs))
    out("spans") = rec.spans.toSeq.map(s => Map("id" -> s.id,
      "name" -> s.name, "parent" -> s.parent, "op" -> s.op, "pass" -> s.pass,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))
    tracer.foreach(t => out("trace") = t.json)
    out("checks") = Map(
      "validation_errors" -> checks.validationErrors,
      "max_nedge" -> checks.maxNedge,
      "golden_nedge" -> checks.goldenNedge)
    Files.createDirectories(Paths.get(outDir, "outputs"))
    out("outputs") = checks.outputs.map { case (name, (cols, types, rows)) =>
      val f = Paths.get(outDir, "outputs", s"$name.json").toString
      Json.write(f, Map("columns" -> cols, "types" -> types,
        "rows" -> rows.toSeq.map(r => r.toSeq.map(Json.cell))))
      name -> f
    }.toMap
    Json.write(Paths.get(outDir, "run.json").toString, out.toMap)
  }

  /** `graft.Bench.calibrate`, sized to cost about 0.2 s. */
  private def calibrate(cpus: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    val (wall, cpu) = graft.Bench.calibrate(cpus, reps = 1, n = 1 << 18)
    Map("kernel_wall_s" -> wall, "kernel_cpu_s" -> cpu,
      "wall_s" -> (System.nanoTime() - t0) / 1e9)
  }
}

/** Peak heap occupancy right after a collection, from the JVM's GC
  * notifications. */
final class HeapPeak {
  @volatile private var peak = 0L
  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          synchronized { if (used > peak) peak = used }
        }
      }, null, null)
    case _ =>
  }
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
}

/** JSON output through the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), toJava(v))

  /** A result cell as a JSON value: timestamps as epoch microseconds,
    * dates as ISO strings. */
  def cell(v: Any): Any = v match {
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.sql.Date => d.toString
    case other => other
  }
}
