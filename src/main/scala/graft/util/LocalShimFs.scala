package graft.util

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}

/** Base for the specs' local FileSystem shims (`faultfs:`/`countfs:`/
  * `racefs:`): RawLocalFileSystem's LocatedFileStatus path — every
  * `listFiles` / recursive listing — lazy-loads POSIX permissions with
  * `new java.io.File(uri)`, which rejects any non-`file:` scheme. The
  * shims hand back pre-materialized statuses instead (permissions are
  * irrelevant to fault/count/race shims). */
class LocalShimFs extends RawLocalFileSystem {

  /** `s` with its metadata materialized (no lazy permission probe). */
  protected def located(s: FileStatus): LocatedFileStatus = {
    val plain = new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime,
      null, null, null, s.getPath)
    new LocatedFileStatus(plain,
      if (s.isFile) getFileBlockLocations(plain, 0, s.getLen) else null)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    val it = listStatus(f).iterator
    new RemoteIterator[LocatedFileStatus] {
      override def hasNext: Boolean = it.hasNext
      override def next(): LocatedFileStatus = located(it.next())
    }
  }
}
