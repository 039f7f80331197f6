package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import CheckpointFileManager.CancellableFSDataOutputStream

/** A streaming checkpoint manager for `file:` paths that creates,
  * publishes and makes directories through `java.nio.file`.
  *
  * Without the native `libhadoop`, Hadoop's local file system forks a
  * child process for permissions and links: a `chmod` on every file
  * create and mkdir through `FileContext`, and a `readlink` on every
  * `FileContext.rename`. Spark's default manager pays those forks on
  * every offset-log, commit-log and state-store file a micro-batch
  * writes. This one writes each file to a same-directory temp file and
  * publishes it on `close`: by an atomic rename when overwriting is
  * allowed, else by a hard link that fails if the target exists (the
  * Hadoop `FileAlreadyExistsException` that `HDFSMetadataLog` reads as
  * a concurrent writer). `open`, `list` and `delete` stay on the path's
  * Hadoop `FileSystem`, which does not fork for them. Like Hadoop's
  * local rename, publishing does not fsync.
  *
  * Spark builds it by reflection from
  * `spark.sql.streaming.checkpointFileManagerClass`; a path of any
  * other scheme fails at construction. */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val scheme = Option(path.toUri.getScheme)
    .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
  if (scheme != "file")
    throw new IllegalArgumentException(
      s"NioCheckpointFileManager handles only file: paths, not $path")

  private val fs = path.getFileSystem(hadoopConf)

  private def local(p: Path): java.nio.file.Path =
    Paths.get(fs.makeQualified(p).toUri)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = {
    val target = local(p)
    Files.createDirectories(target.getParent)
    val temp = target.resolveSibling(
      s".${target.getFileName}.${UUID.randomUUID()}.tmp")
    val out = Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW)
    new CancellableFSDataOutputStream(new BufferedOutputStream(out, 1 << 16)) {
      private var done = false

      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          try {
            super.close()
            if (overwriteIfPossible)
              Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
            else
              try Files.createLink(target, temp)
              catch { case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$p already exists")
              }
          } finally Files.deleteIfExists(temp)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          try underlyingStream.close() finally Files.deleteIfExists(temp)
        }
      }
    }
  }

  override def open(p: Path): FSDataInputStream = fs.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fs.listStatus(p, filter)

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def exists(p: Path): Boolean = Files.exists(local(p))

  override def delete(p: Path): Unit =
    try fs.delete(p, true)
    catch { case _: FileNotFoundException => () }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(local(path))
    fs.makeQualified(path)
  }
}

/** Hadoop's checksummed local file system with permissions set through
  * `java.nio.file` instead of a forked `chmod`.
  *
  * The RocksDB state store copies its SST files to the checkpoint with
  * `FileSystem.copyFromLocalFile`, past the checkpoint manager; without
  * the native `libhadoop` every such file, its `.crc` and every new
  * directory fork a `chmod`. A replay selects this class for `file:`
  * through `fs.file.impl` with the file-system cache off, so the
  * cached instance the rest of the session uses is untouched. */
class NioLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
})
