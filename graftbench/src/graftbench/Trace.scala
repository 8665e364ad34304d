package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a program layer. Wall-clock millis place the span
  * against Spark's task timestamps; nanos give its duration. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      iter: Int, traced: Boolean, op: Boolean,
                      startMs: Long, endMs: Long, durS: Double,
                      fsOps: Long, bytesWritten: Long, ok: Boolean) {
  def key: String = s"$layer.$name"
}

/** Span recorder. Spans stay in memory and are written out once the run
  * ends. Every iteration is a root span (layer `bench`); each call into a
  * program module is a child span named `<layer>.<name>`. The per-span
  * filesystem counters are only read in traced iterations. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var iter = -1
  private var traced = false
  private var stack = List.empty[Int]
  private var nextId = 0
  /** Whether the open iteration is a traced one. */
  def tracing: Boolean = traced

  def iteration[T](i: Int, tr: Boolean, workload: String)(body: => T): T = {
    iter = i; traced = tr
    try span("bench", workload, op = false)(body) finally { iter = -1; traced = false }
  }

  def span[T](layer: String, name: String, op: Boolean = true)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val tr = traced
    val fs0 = if (tr) CountingLocalFs.ops.get else 0L
    val b0 = if (tr) Hadoop.bytesWritten() else 0L
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val dur = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      val fs = if (tr) CountingLocalFs.ops.get - fs0 else 0L
      val b = if (tr) Hadoop.bytesWritten() - b0 else 0L
      spans += Span(id, parent, layer, name, iter, tr, op, ms0, ms1, dur, fs, b, ok)
      stack = stack.tail
    }
  }

  def children(i: Int): Seq[Span] = spans.toSeq.filter(s => s.iter == i && s.parent >= 0)
  def root(i: Int): Option[Span] = spans.find(s => s.iter == i && s.parent < 0)
}

object Hadoop {
  /** Bytes written through Hadoop's local filesystem by every thread of
    * this JVM (driver and local-mode executors alike). */
  def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** Local filesystem that counts every metadata and data call made through
  * Hadoop's `FileSystem` API. Installed around traced iterations only
  * (see [[Tracing]]), so its own cost is part of `trace.overhead_s`.
  * Code that goes around Hadoop with `java.io.File` is not counted. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs.ops
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { ops.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { ops.incrementAndGet(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { ops.incrementAndGet(); super.mkdirs(f, permission) }
  override def setPermission(p: Path, permission: FsPermission): Unit = { ops.incrementAndGet(); super.setPermission(p, permission) }
}

object CountingLocalFs {
  val ops = new AtomicLong()
}

/** Switches tracing on around one traced iteration and off after it:
  * the benchmark's `SparkListener` and `QueryExecutionListener`, and the
  * counting filesystem as `fs.file.impl` in the session's Hadoop conf.
  * Hadoop caches one filesystem per scheme, so each switch drops the
  * cache and the next lookup builds the wrapper (or the plain local
  * filesystem again). Untraced iterations run with none of it. */
final class Tracing(spark: SparkSession) {
  val listener = new BenchListener
  val plans = new PlanListener
  private val key = "fs.file.impl"
  private var offOps = 0L
  private var onAt = 0L

  def on(): Unit = {
    spark.conf.set(key, classOf[CountingLocalFs].getName)
    spark.sparkContext.hadoopConfiguration.set(key, classOf[CountingLocalFs].getName)
    FileSystem.closeAll()
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(plans)
    onAt = CountingLocalFs.ops.get
  }

  def off(): Unit = {
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext) // deliver every event of the iteration first
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(plans)
    spark.conf.unset(key)
    spark.sparkContext.hadoopConfiguration.unset(key)
    FileSystem.closeAll()
    offOps -= CountingLocalFs.ops.get - onAt
  }

  /** Filesystem calls counted while tracing was off; 0 shows the wrapper
    * really left the untraced iterations. */
  def untracedFsOps: Long = offOps + CountingLocalFs.ops.get
}

final case class TaskRec(stage: Int, attempt: Int, launch: Long, finish: Long,
                         shuffleWrite: Long, spill: Long, inputBytes: Long)

/** Records job starts and finished tasks. Attribution to spans happens
  * after the run, by timestamp, once the listener bus has drained. */
final class BenchListener extends SparkListener {
  private val jobs = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += e.time }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    val m = e.taskMetrics
    if (ti != null)
      tasks += TaskRec(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.inputMetrics.bytesRead)
  }

  def snapshot: (Seq[Long], Seq[TaskRec]) = synchronized((jobs.toSeq, tasks.toSeq))
}

/** Records the driver's planning phases (analysis, optimization,
  * planning) of every Dataset action as (phase start ms, phase ms). */
final class PlanListener extends QueryExecutionListener {
  private val phases = ArrayBuffer.empty[(Long, Long)]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    phases ++= qe.tracker.phases.values.map(p => (p.startTimeMs, p.durationMs))
  }
  def snapshot: Seq[(Long, Long)] = synchronized(phases.toSeq)
}

/** What the Spark listener saw inside one span. */
final case class SpanStats(jobs: Int, tasks: Int, stages: Int, scanTasks: Int, taskBusyS: Double,
                           shuffleBytes: Long, spillBytes: Long, driverOnlyS: Double, planningS: Double,
                           stageMaxMs: Double, stageMedianMs: Double)

object Attribution {
  /** Attribute jobs and tasks to the span whose wall interval holds their
    * start. Driver-only time is the part of a span's interval during which
    * no task of any stage was running. */
  def apply(spans: Seq[Span], jobs: Seq[Long], tasks: Seq[TaskRec],
            planning: Seq[(Long, Long)]): Map[Int, SpanStats] = {
    val busy = merged(tasks.map(t => (t.launch, t.finish)))
    def inside(s: Span, t: Long) = t >= s.startMs && t <= s.endMs
    spans.map { s =>
      val ts = tasks.filter(t => inside(s, t.launch))
      val byStage = ts.groupBy(t => (t.stage, t.attempt)).values.toSeq
        .filter(_.size >= 2).map(_.map(t => (t.finish - t.launch).toDouble))
      val covered = busy.map { case (a, b) => math.max(0L, math.min(b, s.endMs) - math.max(a, s.startMs)) }.sum
      s.id -> SpanStats(
        jobs = jobs.count(inside(s, _)),
        tasks = ts.size,
        stages = ts.map(t => (t.stage, t.attempt)).distinct.size,
        scanTasks = ts.count(_.inputBytes > 0),
        taskBusyS = ts.map(t => t.finish - t.launch).sum / 1e3,
        shuffleBytes = ts.map(_.shuffleWrite).sum,
        spillBytes = ts.map(_.spill).sum,
        driverOnlyS = math.max(0L, (s.endMs - s.startMs) - covered) / 1e3,
        planningS = planning.filter(p => inside(s, p._1)).map(_._2).sum / 1e3,
        stageMaxMs = byStage.map(_.max).sum,
        stageMedianMs = byStage.map(Stats.median).sum)
    }.toMap
  }

  private def merged(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Type-7 (linear interpolation) quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
