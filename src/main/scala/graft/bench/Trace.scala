package graft.bench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative task counters of a set of Spark tasks. Wall clock on a
  * shared box swings run-to-run; these are a property of the executed
  * plan. */
final case class Work(tasks: Long, taskMs: Long, cpuNs: Long, gcMs: Long,
                      spillMem: Long, spillDisk: Long,
                      shufWrite: Long, shufRead: Long) {
  def +(o: Work): Work = Work(tasks + o.tasks, taskMs + o.taskMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, spillMem + o.spillMem,
    spillDisk + o.spillDisk, shufWrite + o.shufWrite, shufRead + o.shufRead)
  private def r(x: Double) = math.rint(x * 1000) / 1000
  /** The artifact's record: seconds and GB, rounded to 3 decimals. */
  def fields: ListMap[String, Any] = ListMap("tasks" -> tasks,
    "task_s" -> r(taskMs / 1e3), "cpu_s" -> r(cpuNs / 1e9),
    "gc_s" -> r(gcMs / 1e3), "spill_mem_gb" -> r(spillMem / 1e9),
    "spill_disk_gb" -> r(spillDisk / 1e9),
    "shuf_write_gb" -> r(shufWrite / 1e9), "shuf_read_gb" -> r(shufRead / 1e9))
}

object Work {
  val Zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0)
}

/** One timed region of a run. The bounds are epoch milliseconds from
  * `System.currentTimeMillis`, the clock Spark stamps its job events
  * with, so a job's start compares with them exactly. */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Long, endMs: Long)

/** Span recorder with one Spark listener. The listener keeps each job's
  * start time and each stage's task counters; [[finish]] drains the
  * listener bus and gives each job to the innermost span open when it
  * started: the latest-opened span with `startMs <= t < endMs`. Timing by
  * start rather than by job group also catches the jobs Spark runs on its
  * own threads, such as a broadcast exchange's. A job that starts and
  * ends inside one millisecond can fall outside its span's last
  * millisecond; such a job has no measurable work.
  *
  * Spans open and close on one thread, so the open spans form a stack.
  * Work read before [[finish]] is empty. */
final class Recorder(sc: SparkContext) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageWork = new ConcurrentHashMap[Int, Array[AtomicLong]]()
  private val token = s"${System.identityHashCode(this)}-${System.nanoTime()}"
  private val drained = new CountDownLatch(1)
  @volatile private var drainJob = -1
  @volatile private var totals = Map.empty[Int, Work]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty(Recorder.DrainKey)) match {
        case Some(t) if t != null => if (t == token) drainJob = e.jobId
        case _ =>
          jobStart.put(e.jobId, e.time)
          e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drained.countDown()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageWork.computeIfAbsent(e.stageId,
          _ => Array.fill(8)(new AtomicLong))
        a(0).incrementAndGet(); a(1).addAndGet(m.executorRunTime)
        a(2).addAndGet(m.executorCpuTime); a(3).addAndGet(m.jvmGCTime)
        a(4).addAndGet(m.memoryBytesSpilled); a(5).addAndGet(m.diskBytesSpilled)
        a(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a(7).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }
  sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack = stack.tail
      closed += Span(id, name, parent, t0, System.currentTimeMillis())
    }
  }

  /** Closed spans in the order they opened (parents before children). */
  def spans: Seq[Span] = closed.toSeq.sortBy(_.id)

  /** A span's work: its own jobs' tasks plus every descendant's. */
  def work(s: Span): Work = totals.getOrElse(s.id, Work.Zero)

  /** Wait until the listener has seen every event of the work done so far
    * (a marker job, posted after it, comes back through the same queue),
    * detach it and attribute the jobs. Call once, when the run is over. */
  def finish(): Unit = {
    sc.setLocalProperty(Recorder.DrainKey, token)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(Recorder.DrainKey, null)
    if (!drained.await(2, TimeUnit.MINUTES))
      System.err.println("[trace] listener bus not drained; work may be short")
    sc.removeSparkListener(listener)
    val ss = spans
    val jobSpan = jobStart.asScala.flatMap { case (j, t) =>
      ss.filter(s => s.startMs <= t && t < s.endMs).lastOption.map(j -> _.id)
    }
    val acc = mutable.Map.empty[Int, Work]
    stageWork.asScala.foreach { case (stage, a) =>
      stageJob.asScala.get(stage).flatMap(jobSpan.get).foreach { id =>
        acc(id) = acc.getOrElse(id, Work.Zero) + Work(a(0).get, a(1).get,
          a(2).get, a(3).get, a(4).get, a(5).get, a(6).get, a(7).get)
      }
    }
    // children open after their parent, so a reverse sweep rolls each
    // finished subtree into its parent
    ss.reverseIterator.filter(_.parent >= 0).foreach { s =>
      acc(s.parent) = acc.getOrElse(s.parent, Work.Zero) +
        acc.getOrElse(s.id, Work.Zero)
    }
    totals = acc.toMap
  }
}

object Recorder {
  /** Local property that marks a recorder's drain job; every recorder
    * leaves such jobs out. */
  private val DrainKey = "graft.trace.drain"
}

/** JSON output through the Jackson that ships with Spark. Scala maps
  * keep their iteration order (use `ListMap` for a fixed one); a
  * non-finite double is written as 0.0, since bare NaN and Infinity are
  * not JSON. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def finite(x: Double): Double = if (x.isNaN || x.isInfinite) 0.0 else x

  private def toJava(v: Any): AnyRef = v match {
    case d: Double => java.lang.Double.valueOf(finite(d))
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def string(v: Any): String = mapper.writeValueAsString(toJava(v))

  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), toJava(v))
}
