package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio checkpoint manager keeps the contract Spark's metadata
  * logs and state stores rely on: atomic publish on close, a refused
  * second writer, cancel without leftovers. */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def fixture(): (JPath, NioCheckpointFileManager) = {
    val dir = Files.createTempDirectory("niockpt")
    (dir, new NioCheckpointFileManager(new Path(dir.toUri),
      new Configuration()))
  }

  private def hpath(p: JPath) = new Path(p.toUri)

  private def names(dir: JPath): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  private def write(fm: NioCheckpointFileManager, p: JPath, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(hpath(p), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: NioCheckpointFileManager, p: JPath): String = {
    val in = fm.open(hpath(p))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a file is visible only after close, and no temp file stays") {
    val (dir, fm) = fixture()
    val target = dir.resolve("0")
    val out = fm.createAtomic(hpath(target), overwriteIfPossible = false)
    out.write("offsets".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(hpath(target)))
    assert(!Files.exists(target))
    out.close()
    assert(fm.exists(hpath(target)))
    assert(read(fm, target) === "offsets")
    assert(names(dir) === Set("0"))
    out.close() // a second close is a no-op
    assert(names(dir) === Set("0"))
  }

  test("without overwrite an existing target is refused and keeps its bytes") {
    val (dir, fm) = fixture()
    val target = dir.resolve("1")
    write(fm, target, "first", overwrite = false)
    val out = fm.createAtomic(hpath(target), overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    val e = intercept[FileAlreadyExistsException](out.close())
    assert(e.getMessage.contains(target.getFileName.toString))
    assert(read(fm, target) === "first")
    out.cancel() // what HDFSMetadataLog does next: nothing is left to undo
    assert(names(dir) === Set("1"))
  }

  test("with overwrite the target is replaced") {
    val (dir, fm) = fixture()
    val target = dir.resolve("2.zip")
    write(fm, target, "first", overwrite = true)
    write(fm, target, "second", overwrite = true)
    assert(read(fm, target) === "second")
    assert(names(dir) === Set("2.zip"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val (dir, fm) = fixture()
    val target = dir.resolve("3")
    val out = fm.createAtomic(hpath(target), overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).size === 1) // the temp file
    out.cancel()
    assert(names(dir).isEmpty)
    out.close() // close after cancel publishes nothing
    assert(!fm.exists(hpath(target)))
    assert(names(dir).isEmpty)
  }

  test("mkdirs, exists, list and delete on nested paths") {
    val (dir, fm) = fixture()
    val nested = dir.resolve("state").resolve("0").resolve("3")
    assert(!fm.exists(hpath(nested)))
    fm.mkdirs(hpath(nested))
    fm.mkdirs(hpath(nested)) // an existing directory is fine
    assert(Files.isDirectory(nested))
    assert(fm.exists(hpath(nested)))
    // createAtomic makes missing parents too
    write(fm, dir.resolve("commits").resolve("0"), "c", overwrite = false)
    write(fm, nested.resolve("1.delta"), "a", overwrite = false)
    write(fm, nested.resolve("2.delta"), "b", overwrite = false)
    assert(fm.list(hpath(nested)).map(_.getPath.getName).toSet ===
      Set("1.delta", "2.delta"))
    assert(fm.list(hpath(nested), (p: Path) => p.getName.startsWith("2"))
      .map(_.getPath.getName).toSeq === Seq("2.delta"))
    fm.delete(hpath(nested.resolve("1.delta")))
    fm.delete(hpath(nested.resolve("1.delta"))) // already gone: no error
    assert(fm.list(hpath(nested)).map(_.getPath.getName).toSeq ===
      Seq("2.delta"))
    fm.delete(hpath(dir.resolve("state")))
    assert(!fm.exists(hpath(nested)))
    assert(names(dir) === Set("commits"))
  }

  test("createCheckpointDirectory makes and qualifies the root") {
    val dir = Files.createTempDirectory("niockpt").resolve("a").resolve("b")
    val fm = new NioCheckpointFileManager(new Path(dir.toString),
      new Configuration())
    val root = fm.createCheckpointDirectory()
    assert(root.toUri.getScheme === "file")
    assert(Files.isDirectory(dir))
    assert(fm.isLocal)
  }

  test("a non-file: path is rejected with its path in the message") {
    val e = intercept[IllegalArgumentException](
      new NioCheckpointFileManager(new Path("hdfs://nn:8020/ckpt/offsets"),
        new Configuration()))
    assert(e.getMessage.contains("hdfs://nn:8020/ckpt/offsets"))
  }
}
