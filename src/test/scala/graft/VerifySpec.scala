package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The correctness dump's file-system footprint. */
class VerifySpec extends SparkSpec {

  test("a Verify dump forks no chmod or readlink (JFR jdk.ProcessStart)") {
    val s = spark; import s.implicits._
    val df = (0L until 100L).map(i => (i, i * 2)).toDF("a", "b")
    val out = Files.createTempDirectory("verify-dump")
    val path = out.resolve("q").toString
    // the first write's planning and class loading, outside the recording
    Verify.dump(df, path)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    try {
      // a witness that the recording sees this JVM's process starts
      new ProcessBuilder("true").start().waitFor()
      Verify.dump(df, path)
    } finally rec.stop()
    val file = Files.createTempFile("dump", ".jfr")
    try rec.dump(file) finally rec.close()
    val commands = RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => e.getString("command").trim.split("\\s+").head.split('/').last)
    Files.delete(file)
    try {
      val back = spark.read.parquet(path)
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    assert(commands.contains("true"))
    val forked = commands.groupBy(identity).map { case (c, n) => c -> n.size }
    assert(!forked.contains("chmod") && !forked.contains("readlink"),
      s"child processes by command: $forked")
  }
}
