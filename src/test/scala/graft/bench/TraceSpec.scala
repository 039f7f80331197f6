package graft.bench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The span recorder Bench, Profile and Verify meter Spark with: a
  * job's work lands on the innermost span open when the job started,
  * rolls up into the enclosing spans, and never lands on a span that was
  * not open. A
  * mis-attribution here silently corrupts every per-query and per-phase
  * work record in the bench artifact. */
class TraceSpec extends SparkSpec {

  private def tasks(n: Int): Unit =
    spark.sparkContext.parallelize(1 to n, n).count()

  private def named(rec: Recorder, name: String): Span =
    rec.spans.find(_.name == name).get

  test("work lands on the span that was open, and never on one that was not") {
    val rec = new Recorder(spark.sparkContext)
    rec.span("a")(tasks(3))
    tasks(7) // no span open
    rec.span("idle")(Thread.sleep(20))
    rec.span("b")(tasks(5))
    rec.span("c") {
      spark.range(400000).select((col("id") % 97).as("k"))
        .groupBy("k").agg(count(lit(1))).collect()
    }
    tasks(11) // after every span closed
    rec.finish()
    assert(rec.work(named(rec, "a")).tasks === 3)
    assert(rec.work(named(rec, "idle")) === Work.Zero)
    assert(rec.work(named(rec, "b")).tasks === 5)
    assert(rec.work(named(rec, "b")).shufWrite === 0)
    val c = rec.work(named(rec, "c"))
    assert(c.tasks > 0 && c.shufWrite > 0 && c.shufRead > 0 && c.cpuNs > 0)
  }

  test("a child span's work rolls up into its phase") {
    val rec = new Recorder(spark.sparkContext)
    rec.span("phase") {
      rec.span("p1:q")(tasks(3))
      tasks(2)
      rec.span("p1:r")(tasks(4))
    }
    rec.finish()
    assert(rec.spans.map(_.name) === Seq("phase", "p1:q", "p1:r"))
    assert(rec.work(named(rec, "p1:q")).tasks === 3)
    assert(rec.work(named(rec, "p1:r")).tasks === 4)
    assert(rec.work(named(rec, "phase")).tasks === 9)
    assert(named(rec, "p1:q").parent === named(rec, "phase").id)
  }

  test("a broadcast-join job started inside a span is attributed to it") {
    // an independent tally of every job in the test: Spark runs a
    // broadcast exchange's job on an exchange thread of its own, tagged
    // `broadcast exchange (runId ...)`
    val tags = new ConcurrentHashMap[Int, String]()
    val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    val stageTasks = new ConcurrentHashMap[Int, Long]()
    val tally = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        tags.put(e.jobId, String.valueOf(
          Option(e.properties).map(_.getProperty("spark.job.tags")).orNull))
        jobStages.put(e.jobId, e.stageIds)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageTasks.merge(e.stageId, 1L, (a: Long, b: Long) => a + b)
    }
    spark.sparkContext.addSparkListener(tally)
    val rec = new Recorder(spark.sparkContext)
    try {
      val big = spark.range(200000).select((col("id") % 50).as("k"), col("id"))
      val small = spark.range(50).select(col("id").as("k"), (col("id") * 2).as("v"))
      rec.span("join")(big.join(broadcast(small), "k").agg(sum(col("v"))).collect())
      rec.finish() // drains the shared queue, the tally's included
    } finally spark.sparkContext.removeSparkListener(tally)
    val bcJobs = tags.asScala.collect {
      case (j, t) if t.contains("broadcast exchange") => j
    }
    assert(bcJobs.nonEmpty, s"expected a broadcast exchange job: $tags")
    val bcTasks = bcJobs.flatMap(j => jobStages.get(j))
      .map(s => stageTasks.getOrDefault(s, 0L)).sum
    assert(bcTasks > 0)
    val all = jobStages.asScala.values.flatten.toSeq.distinct
      .map(s => stageTasks.getOrDefault(s, 0L)).sum
    // the drain job is the recorder's own and is never counted
    assert(rec.work(named(rec, "join")).tasks === all - 1)
  }

  test("two recorders on one context agree") {
    val r1 = new Recorder(spark.sparkContext)
    val r2 = new Recorder(spark.sparkContext)
    r1.span("outer") {
      r2.span("dup") {
        spark.range(100000).select((col("id") % 7).as("k"))
          .groupBy("k").agg(count(lit(1))).collect()
      }
    }
    // one recorder's drain job lands on no span, not even another's
    r2.span("later")(r1.finish())
    r2.finish()
    val (a, b) = (r1.work(named(r1, "outer")), r2.work(named(r2, "dup")))
    assert(a.tasks > 0)
    assert(a === b)
    assert(r2.work(named(r2, "later")) === Work.Zero)
  }
}
