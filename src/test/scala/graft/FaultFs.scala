package graft.util

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A fault-injecting local FileSystem (`faultfs:` scheme) — the
  * injection seam the round-11 verdict asked for ("wrap the FS"):
  * delegates to the local FS like [[CountFs]], but `create` of any path
  * containing [[FaultFs.failCreatesContaining]] throws IOException.
  * Specs point a version log at `faultfs:/...`, arm the needle at the
  * exact post-`_SUCCESS` file (a classification marker, a schema
  * record), and pin that the failure surfaces as the typed
  * do-NOT-retry [[graft.io.CommittedButIncomplete]] instead of a
  * retriable-looking abort. Registration:
  * `fs.faultfs.impl = graft.util.FaultFs` +
  * `fs.faultfs.impl.disable.cache = true`. */
class FaultFs extends LocalShimFs {

  override def getUri: URI = URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  private def maybeFail(f: Path): Unit =
    FaultFs.failCreatesContaining.foreach { needle =>
      if (f.toString.contains(needle))
        throw new java.io.IOException(s"injected create failure at $f")
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    maybeFail(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  // FileSystem.create(path, overwrite) routes through THIS overload on
  // RawLocalFileSystem, bypassing the FsPermission variant — without it
  // the injection misses exactly the marker-file creates under test
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    maybeFail(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    maybeFail(f)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultFs {
  /** Arm/disarm the injection: any `create` whose path contains this
    * substring throws. Volatile — specs arm it around one call. */
  @volatile var failCreatesContaining: Option[String] = None
}
