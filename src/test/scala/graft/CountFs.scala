package graft.util

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** A metadata-RPC counting local FileSystem (`countfs:` scheme) — the
  * measurement seam for "this code path is O(1) RPCs, not O(history)"
  * contracts: delegates to the local FS ([[LocalShimFs]]), counting every
  * `getFileStatus` whose path contains [[CountFs.needle]] (`exists()`
  * routes through `getFileStatus`, so marker/token probes land here).
  * Registration: `fs.countfs.impl = graft.util.CountFs` +
  * `fs.countfs.impl.disable.cache = true`. */
class CountFs extends LocalShimFs {

  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"

  override def getFileStatus(f: Path): FileStatus = {
    CountFs.needle.foreach { n =>
      if (f.toString.contains(n)) CountFs.hits.incrementAndGet()
    }
    super.getFileStatus(f)
  }

  // EXPLICIT point-probe counter, distinct from [[getFileStatus]]: the
  // local FS's listStatus internally stats every child, so a needle on
  // getFileStatus can't tell "one listing that happened to touch N
  // markers" (flat in RPCs on an object store — one paginated LIST) from
  // "N serial exists() round-trips" (the O(history) shape the round-13
  // verdict flagged in describeHistory). Counting the exists() ENTRY
  // POINT pins exactly the serial probes.
  override def exists(f: Path): Boolean = {
    CountFs.existsNeedle.foreach { n =>
      if (f.toString.contains(n)) CountFs.existsHits.incrementAndGet()
    }
    super.exists(f)
  }

  // data-read counter: pins footer-probe memoization (a schema probe is
  // an open() of a parquet file's tail)
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountFs.openNeedle.foreach { n =>
      if (f.toString.contains(n)) CountFs.openHits.incrementAndGet()
    }
    super.open(f, bufferSize)
  }

  // rename counter: pins the output-commit protocol's per-file move count
  // (round-15 committer-v2 evidence — on an object store every rename is
  // a COPY+DELETE, so this count IS the commit's data-movement RPC bill)
  override def rename(src: Path, dst: Path): Boolean = {
    CountFs.renameNeedle.foreach { n =>
      if (src.toString.contains(n) || dst.toString.contains(n))
        CountFs.renameHits.incrementAndGet()
    }
    super.rename(src, dst)
  }
}

object CountFs {
  /** Count getFileStatus calls on paths containing this substring. */
  @volatile var needle: Option[String] = None
  val hits = new AtomicLong(0L)
  /** Count explicit exists() probes on paths containing this substring. */
  @volatile var existsNeedle: Option[String] = None
  val existsHits = new AtomicLong(0L)
  /** Count open() calls on paths containing this substring. */
  @volatile var openNeedle: Option[String] = None
  val openHits = new AtomicLong(0L)
  /** Count rename() calls where src or dst contains this substring. */
  @volatile var renameNeedle: Option[String] = None
  val renameHits = new AtomicLong(0L)
}
