package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by spans and listener events: epoch milliseconds
  * with sub-millisecond resolution, anchored once so span boundaries
  * (nanoTime) and Spark's event times (currentTimeMillis) line up. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One timed call into a module of the program. `op` ties every span of
  * one operation (a protocol pass, a query, a replay) together. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      pass: Int, startMs: Double, endMs: Double,
                      attrs: Map[String, Any])

/** Outcome of one timed operation. A failed operation has no latency.
  * On the `g500_*` workloads an operation is one root's run, its BFS and
  * its validation; `bfsMs` is the BFS part and `work` its traversed
  * edges. */
final case class OpResult(pass: Int, name: String, family: String,
                          ok: Boolean, ms: Double, work: Double,
                          error: String, bfsMs: Double = Double.NaN)

/** In-memory span recorder. Operations run one at a time on the calling
  * thread, so the open spans form a stack; spans are written out only
  * when the benchmark ends. */
final class Recorder {
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpResult]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1
  var pass = -1

  def span[A](name: String, attrs: Map[String, Any] = Map.empty)(
      body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    if (parent < 0) op = id
    stack = id :: stack
    val t0 = Clock.nowMs()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, name, parent, op, pass, t0, Clock.nowMs(), attrs)
    }
  }

  /** Attributes learned inside or after a span (e.g. BFS levels) are
    * attached to its record, `spans(i)`, after the fact. A span is
    * recorded when it closes, so a span that just closed is the last. */
  def annotate(i: Int, attrs: Map[String, Any]): Unit =
    spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)

  /** Time `body` as one operation. A throwing operation is recorded as
    * failed, with no latency sample, and the benchmark goes on. */
  def timedOp[A](name: String, family: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val r = span("op", Map("name" -> name, "family" -> family))(body)
      ops += OpResult(pass, name, family, ok = true,
        (System.nanoTime() - t0) / 1e6, 1.0, "")
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        ops += OpResult(pass, name, family, ok = false, Double.NaN, 0.0,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }
}

/** The traced run's listeners: Spark jobs/stages/tasks, the planning
  * phases of every executed query, and each streaming micro-batch's
  * progress. Registered only for traced passes; the planning and
  * streaming listeners belong to a session, so each pass's session is
  * attached. */
final class Tracer(spark: SparkSession) {
  // jobId -> (startMs, endMs); stageId -> jobId (first job that ran it)
  val jobStart = new ConcurrentHashMap[Int, Double]()
  val jobEnd = new ConcurrentHashMap[Int, Double]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  // stageId -> tasks, run ms, cpu ns, gc ms, shuffle write bytes, spill bytes
  val stageWork = new ConcurrentHashMap[Int, Array[AtomicLong]]()
  // (last phase end ms, analysis+optimization+planning ms); the end places
  // the query, since a reused DataFrame was analyzed when it was built
  val plans = new ConcurrentLinkedQueue[(Double, Double)]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnd.put(e.jobId, e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageWork.computeIfAbsent(e.stageId,
          _ => Array.fill(6)(new AtomicLong))
        a(0).incrementAndGet(); a(1).addAndGet(m.executorRunTime)
        a(2).addAndGet(m.executorCpuTime); a(3).addAndGet(m.jvmGCTime)
        a(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a(5).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans.add((ph.values.map(_.endTimeMs).max.toDouble,
          ph.values.map(_.durationMs).sum.toDouble))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map(
        "query" -> p.id.toString,
        "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  private val sessions = ArrayBuffer.empty[SparkSession]

  def register(): Unit = spark.sparkContext.addSparkListener(sparkListener)

  def attach(session: SparkSession): Unit = {
    session.listenerManager.register(planListener)
    session.streams.addListener(streamListener)
    sessions += session
  }

  /** Wait for the asynchronous listener buses to deliver every event of
    * the work done so far, then detach. */
  def finish(): Unit = {
    def snap() = (jobStart.size, jobEnd.size,
      stageWork.values.asScala.map(_(0).get).sum, plans.size, progress.size)
    var prev = snap()
    var stable = 0
    var polls = 0
    while (stable < 2 && polls < 40) {
      Thread.sleep(150)
      val cur = snap()
      stable = if (cur == prev && cur._1 == cur._2) stable + 1 else 0
      prev = cur
      polls += 1
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    sessions.foreach { s =>
      s.listenerManager.unregister(planListener)
      s.streams.removeListener(streamListener)
    }
  }

  def json: Map[String, Any] = Map(
    "jobs" -> jobStart.asScala.toSeq.sortBy(_._1).map { case (j, s) =>
      Map("job" -> j, "start_ms" -> s,
        "end_ms" -> jobEnd.getOrDefault(j, s))
    },
    "stages" -> stageWork.asScala.toSeq.sortBy(_._1).map { case (s, a) =>
      Map("stage" -> s, "job" -> stageJob.getOrDefault(s, -1),
        "tasks" -> a(0).get, "run_ms" -> a(1).get, "cpu_ns" -> a(2).get,
        "gc_ms" -> a(3).get, "shuffle_write_bytes" -> a(4).get,
        "spill_bytes" -> a(5).get)
    },
    "plans" -> plans.asScala.toSeq.map { case (s, ms) =>
      Map("at_ms" -> s, "plan_ms" -> ms) },
    "progress" -> progress.asScala.toSeq)
}
