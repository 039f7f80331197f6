package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.SparkSpec
import graft.streaming.StreamVerify.EvRow

/** The replay harness's process and session footprint: checkpoint
  * files written without forking a child process per file, and replay
  * confs that never show in the caller's session. */
class StreamVerifySpec extends SparkSpec {

  private val nBatches = 4

  /** 40 events over 4 users in ts order, fed as 4 micro-batches. */
  private val rows: Seq[EvRow] = (0 until 40).map { i =>
    EvRow(i, new Timestamp(1704067200000L + i * 60000L), i % 4,
      Seq("signup", "click", "purchase")(i % 3), i * 0.5)
  }

  test("a st_userstats replay forks no chmod or readlink (JFR jdk.ProcessStart)") {
    val s = spark; import s.implicits._
    val events = rows.toDF()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    val out = try {
      // a witness that the recording sees this JVM's process starts
      new ProcessBuilder("true").start().waitFor()
      StreamVerify.userStatsFinal(spark, events).collect()
    } finally rec.stop()
    val file = Files.createTempFile("replay", ".jfr")
    try rec.dump(file) finally rec.close()
    val commands = RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => e.getString("command").trim.split("\\s+").head.split('/').last)
    Files.delete(file)
    assert(out.length === 4)
    assert(commands.contains("true"))
    val forked = commands.groupBy(identity).map { case (c, n) => c -> n.size }
    assert(!forked.contains("chmod") && !forked.contains("readlink"),
      s"child processes by command: $forked")
  }

  test("replay confs stay out of the caller's session: its plan and listeners see its own") {
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "16")
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.checkpointFileManagerClass", "fs.file.impl",
      "fs.file.impl.disable.cache")
    def snap() = keys.map(session.conf.getOption)
    val own = snap()
    val inTransform = new AtomicReference[Seq[Option[String]]]
    val inListener = new ConcurrentLinkedQueue[Seq[Option[String]]]
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) {
          inListener.add(snap())
          progress.add(e.progress)
        }
    }
    session.streams.addListener(listener)
    try {
      import session.implicits._
      implicit val sqlCtx = session.sqlContext
      val mem = MemoryStream[EvRow]
      val sink = StreamVerify.run(session, "spec", mem,
          rows.grouped(rows.length / nBatches).toSeq, "update",
          StreamVerify.RocksDbConf) { df =>
        inTransform.set(snap())
        Events.userStatsStream(session, df)
      }
      assert(sink.count() > 0)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (progress.size < nBatches && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally session.streams.removeListener(listener)
    assert(snap() === own)
    assert(inTransform.get === own)
    assert(inListener.size === nBatches)
    inListener.asScala.foreach(seen => assert(seen === own))
    // ...while the query itself ran on the replay's confs: the RocksDB
    // provider (transformWithState runs on no other) and the 8-partition cap
    val ps = progress.asScala.toSeq
    assert(ps.flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet ===
      Set(8L))
    val walMs = ps.map(_.durationMs.get("walCommit").longValue).sorted
    info(s"walCommit ms per batch: ${walMs.mkString(", ")}")
    assert(walMs(walMs.length / 2) < 10, s"walCommit ms per batch: $walMs")
  }
}
