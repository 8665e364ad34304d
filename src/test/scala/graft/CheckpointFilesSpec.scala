package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.streaming.{CheckpointFiles, Streams}

/** The engine's checkpoint file manager ([[CheckpointFiles]]): `file:`
  * checkpoints go through Spark's FileSystem-based manager over the
  * `java.nio` local filesystem with the same atomic-create, permission and
  * checksum behavior as Spark's default manager, other schemes keep
  * Spark's own choice, and a streaming drain launches no shell process
  * for a checkpoint file. */
class CheckpointFilesSpec extends SparkSpec {

  private def fresh(name: String): Path = {
    val d = scratch(name)
    graft.util.Staging.deleteRecursive(d)
    Files.createDirectories(Paths.get(d))
    new Path(new File(d).toURI)
  }

  private def manager(p: Path, conf: Configuration = spark.sessionState.newHadoopConf()): CheckpointFiles =
    CheckpointFileManager.create(p, conf) match {
      case m: CheckpointFiles => m
      case other => fail(s"expected graft's manager, got ${other.getClass.getName}")
    }

  /** The filesystem under a FileSystem-based manager (a protected member). */
  private def fsOf(m: CheckpointFileManager): FileSystem =
    m.getClass.getMethod("fs").invoke(m).asInstanceOf[FileSystem]

  private def write(m: CheckpointFileManager, p: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  private def bytesOf(p: Path): Seq[Byte] = Files.readAllBytes(Paths.get(p.toUri)).toSeq

  private def perms(p: Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("file: uses the java.nio local filesystem; countfs: keeps Spark's own manager") {
    val local = manager(fresh("ckptfiles_kind"))
    assert(local.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(fsOf(local.underlying).isInstanceOf[CheckpointFiles.LocalFs])

    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.countfs.impl", classOf[graft.util.CountFs].getName)
    conf.setBoolean("fs.countfs.impl.disable.cache", true)
    val p = new Path(s"countfs:${scratch("ckptfiles_kind")}")
    val stock = {
      val c = new Configuration(conf)
      c.unset(CheckpointFiles.ConfKey)
      CheckpointFileManager.create(p, c)
    }
    assert(stock.isInstanceOf[FileSystemBasedCheckpointFileManager]) // no AbstractFileSystem binding
    val counted = manager(p, conf)
    assert(counted.underlying.getClass == stock.getClass)
    assert(fsOf(counted.underlying).isInstanceOf[graft.util.CountFs])
  }

  test("createAtomic: no-overwrite fails on an existing file, overwrite replaces, cancel leaves nothing") {
    val dir = fresh("ckptfiles_atomic")
    val m = manager(dir)
    val p = new Path(dir, "0")
    write(m, p, "old".getBytes, overwrite = false)
    intercept[FileAlreadyExistsException](write(m, p, "new".getBytes, overwrite = false))
    assert(bytesOf(p) == "old".getBytes.toSeq)
    write(m, p, "newer".getBytes, overwrite = true)
    assert(bytesOf(p) == "newer".getBytes.toSeq)

    val cancelled = fresh("ckptfiles_cancel")
    val out = m.createAtomic(new Path(cancelled, "1"), overwriteIfPossible = false)
    out.write("never".getBytes)
    out.cancel()
    val left = new File(cancelled.toUri).list().toSeq
    assert(left.isEmpty, s"left behind: $left")
  }

  test("new files and directories get stock LocalFileSystem's permissions and a .crc") {
    val dir = fresh("ckptfiles_perms")
    val stockFs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    stockFs.create(new Path(dir, "stock")).close()
    stockFs.mkdirs(new Path(dir, "stockdir"))
    val m = manager(dir)
    write(m, new Path(dir, "ours"), Array[Byte](1, 2, 3), overwrite = false)
    m.mkdirs(new Path(dir, "oursdir/sub"))
    assert(perms(new Path(dir, "ours")) == perms(new Path(dir, "stock")))
    assert(perms(new Path(dir, "oursdir")) == perms(new Path(dir, "stockdir")))
    assert(perms(new Path(dir, "oursdir/sub")) == perms(new Path(dir, "stockdir")))
    assert(new File(new Path(dir, ".ours.crc").toUri).isFile)
  }

  test("the sticky bit, which java.nio cannot set, is not dropped") {
    val dir = fresh("ckptfiles_sticky")
    val fs = new CheckpointFiles.LocalFs
    fs.initialize(dir.toUri, spark.sessionState.newHadoopConf())
    val d = new Path(dir, "d")
    fs.mkdirs(d)
    fs.setPermission(d, new FsPermission(Integer.parseInt("1755", 8).toShort))
    val mode = Files.getAttribute(Paths.get(d.toUri), "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("1777", 8)) == Integer.parseInt("1755", 8), f"mode $mode%o")
  }

  test("a byte flipped in a checkpoint file fails the read with ChecksumException and stays put") {
    val dir = fresh("ckptfiles_crc")
    val m = manager(dir)
    val p = new Path(dir, "offsets")
    write(m, p, Array.tabulate[Byte](2000)(i => (i % 97).toByte), overwrite = false)
    val raf = new RandomAccessFile(new File(p.toUri), "rw")
    try { raf.seek(1500); raf.write(raf.read() ^ 0xff) } finally raf.close()
    val in = m.open(p)
    try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    assert(new File(p.toUri).isFile)
  }

  test("a timerSessions drain launches no shell process for a checkpoint file") {
    val (backlog, _) = Streams.prepareReshardSplit(spark, sf("sf0.001")) // two files
    // Hadoop's Shell.runCommand starts one stderr-reader thread per
    // command, so each launch is one jdk.ThreadStart event whose stack
    // holds the caller that asked for it.
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ThreadStart").withStackTrace()
    rec.start()
    try Streams.drainToParquet(Streams.timerSessions(Streams.lateArrivalStream(spark, backlog), 600L),
      "ckptfiles_drain", "append")
    finally rec.stop()
    val jfr = Paths.get(scratch("ckptfiles_drain.jfr"))
    rec.dump(jfr)
    rec.close()
    val stacks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq.map { e =>
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.map(f =>
        s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
    }
    assert(new File(Streams.checkpointFor("ckptfiles_drain"), "commits/1").isFile, "batch 1 never committed")
    assert(stacks.nonEmpty, "the recording saw no thread start at all")
    val fromCheckpoints = stacks.filter(st =>
      st.exists(_.startsWith("org.apache.hadoop.util.Shell.")) && st.exists(_.contains("CheckpointFileManager")))
    val launches = fromCheckpoints.length
    assert(launches == 0, s"shell launches under a checkpoint file manager, e.g.\n" +
        fromCheckpoints.headOption.toSeq.flatten.take(24).mkString("\n"))
  }
}
