package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every streaming query: offset and commit
  * logs, state-store changelogs and snapshots, state schema files.
  * [[graft.core.GraftSession]] installs it as [[CheckpointFiles.ConfKey]].
  *
  * `file:` paths go to Spark's FileSystem-based manager over
  * [[CheckpointFiles.LocalFs]], a checksummed local filesystem (`.crc`
  * sidecars kept) whose raw layer sets permissions through `java.nio`.
  * Spark's default FileContext-based manager reaches the same files
  * through `RawLocalFileSystem`, which without Hadoop's native library
  * forks a `chmod` for every file created and a `readlink` for every link
  * status its renames ask for. Here a rename is `File.renameTo`, guarded
  * by the manager's exists check when overwriting is not allowed: the
  * same check-then-act as the FileContext path.
  *
  * Every other scheme gets exactly what `CheckpointFileManager.create`
  * builds without this class: FileContext-based, or FileSystem-based for a
  * scheme with no AbstractFileSystem binding (`countfs:`). The
  * FileSystem-based manager stays `file:`-only because it cannot
  * overwrite where `rename` refuses to replace an existing target (HDFS):
  * `renameTempFile(overwriteIfPossible = true)` then keeps the old file
  * without an error, while FileContext's OVERWRITE rename replaces it. */
class CheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  /** The manager every call is handed to. */
  val underlying: CheckpointFileManager =
    if (CheckpointFiles.isLocal(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, CheckpointFiles.localConf(hadoopConf))
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(CheckpointFiles.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object CheckpointFiles {

  /** Spark's conf naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** `conf` with `file:` bound to a fresh [[LocalFs]]: the FileSystem-based
    * manager looks its filesystem up by scheme, and Hadoop's cache would
    * otherwise hand back whichever local filesystem it already holds. */
  private def localConf(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", classOf[LocalFs].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** Hadoop's checksummed local filesystem over [[NioRawLocalFs]]. A
    * checksum failure leaves the file where it is, as the FileContext
    * path does; `LocalFileSystem` would move it into a `bad_files`
    * directory in the highest writable directory of its mount, so a
    * restarted query would find the log entry gone instead of failing on
    * it. */
  class LocalFs extends LocalFileSystem(new NioRawLocalFs) {
    override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                       sums: FSDataInputStream, sumsPos: Long): Boolean = false
  }

  /** `RawLocalFileSystem` that applies permissions through `java.nio`
    * instead of a forked `chmod`. It is handed the bits after umask, as
    * `chmod` is. A mode `java.nio` cannot express (the sticky bit) keeps
    * Hadoop's own path. */
  class NioRawLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // values() runs OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 8 … 0
        PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
          if ((mode & (1 << (8 - i))) != 0) perms.add(bit)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
