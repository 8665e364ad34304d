package graft.util

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A latency-shimmed local FileSystem (`slowfs:` scheme) — the round-6
  * stretch item: checkpoint-volume A/Bs measured BYTES, but the decision
  * a 100 TB deployment makes (changelog checkpointing on/off) is about
  * SECONDS against an object store whose every create/open/rename/list
  * is a network round-trip. SlowFs delegates to the local FS and sleeps
  * `graft.slowfs.latency.ms` (Hadoop conf, default 5) before each
  * metadata/data operation, so a streaming checkpoint pointed at
  * `slowfs:/...` pays per-operation costs shaped like S3/GCS while the
  * bytes still land locally for inspection.
  *
  * Used by [[graft.tools.CheckpointVolume]] scenario C. Registration:
  * `fs.slowfs.impl = graft.util.SlowFs` (+ `fs.slowfs.impl.disable.cache
  * = true` so latency changes take effect per run). The engine's
  * checkpoint manager, [[graft.streaming.CheckpointFiles]], hands every
  * scheme but `file:` to Spark's own choice, and Spark falls back to the
  * FileSystem-based implementation for schemes with no AbstractFileSystem
  * binding, which is exactly what routes `slowfs:` checkpoints through
  * this class.
  */
class SlowFs extends LocalShimFs {

  private def lag(): Unit = {
    val ms = getConf.getLong("graft.slowfs.latency.ms", 5L)
    if (ms > 0) Thread.sleep(ms)
  }

  override def getUri: URI = URI.create("slowfs:///")
  override def getScheme: String = "slowfs"

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    lag(); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    lag(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    lag(); super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { lag(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { lag(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { lag(); super.mkdirs(f, permission) }
  override def getFileStatus(f: Path): FileStatus = { if (!inListing.get) lag(); super.getFileStatus(f) }

  // ONE lag per listing, not one per child: RawLocalFileSystem's
  // listStatus stats every child through getFileStatus (virtual
  // dispatch), which would tax an N-entry directory N×latency — but a
  // real object store's LIST returns children's metadata INLINE in the
  // page (S3 ListObjectsV2, GCS objects.list), so per-child stats inside
  // a listing must not lag (found by the round-14 history arm: a
  // 1000-slot feed listing cost 25 s that no paginated store would
  // charge). Latency stays per-listing-CALL; a paginated store charges
  // ~1 RTT per 1000 keys, so this still OVERSTATES deep-directory
  // listing cost rather than hiding it.
  private val inListing = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lag()
    val was = inListing.get
    inListing.set(true)
    try super.listStatus(f) finally inListing.set(was)
  }

  // RECURSIVE listFiles is a FLAT PREFIX LIST on an object store (S3A
  // walks no directory tree — ListObjectsV2 over the prefix, ~1 RTT per
  // 1000 keys), so the shim charges one lag per 1000 returned entries
  // instead of one per subdirectory (the RawLocal default recursion,
  // which taxed a 1000-version log 1000 lags no paginated store would
  // charge). Non-recursive calls keep per-directory semantics.
  override def listFiles(f: Path, recursive: Boolean)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    if (!recursive) super.listFiles(f, recursive)
    else {
      val entries = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
      val was = inListing.get
      inListing.set(true)
      try {
        def walk(p: Path): Unit = super.listStatus(p).foreach { s =>
          if (s.isDirectory) walk(s.getPath) else entries += s
        }
        walk(f)
      } finally inListing.set(was)
      (0 until math.max(1, (entries.size + 999) / 1000)).foreach(_ => lag())
      val it = entries.iterator
      new org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] {
        override def hasNext: Boolean = it.hasNext
        override def next(): org.apache.hadoop.fs.LocatedFileStatus = located(it.next())
      }
    }
  }
}
