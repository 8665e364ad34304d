package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

import graft.streaming.Streams

/** Drains a fixed backlog of seeded event files, one file per
  * micro-batch (`Trigger.AvailableNow`), through `Streams.timerSessions`
  * under `Streams.withStatePartitions` into a `foreachBatch` parquet sink,
  * with a fresh checkpoint per iteration. File event times only move
  * forward, so no event is late; two trailing single-event files for a
  * reserved user push the watermark past every real session, so every
  * real session closes inside the drain. */
final class StreamWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import StreamWorkload._

  private val backlog = s"$dir/backlog"
  private var events: Seq[(Long, Long)] = _ // (user, epoch seconds)
  private val samples = new Samples

  def generate(): Inputs = {
    val rnd = new java.util.Random(seed)
    val perFile = (0 until DataFiles).map { f =>
      Seq.fill(EventsPerFile) {
        val u = (Users * math.pow(rnd.nextDouble(), 3)).toLong // a few heavy users
        (u, T0 + f * FileSpanS + rnd.nextInt(FileSpanS.toInt))
      }
    }
    val end = T0 + DataFiles * FileSpanS
    val flush = Seq(Seq((FlushUser, end + 3 * 3600L)), Seq((FlushUser, end + 6 * 3600L)))
    events = perFile.flatten
    val written = (perFile ++ flush).zipWithIndex.map { case (evs, i) =>
      val rows = evs.map { case (u, s) => Row(u, new java.sql.Timestamp(s * 1000L)) }
      val f = Workload.writeOneFile(spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema),
        backlog, f"events$i%02d")
      f.setLastModified(1700000000000L + i * 1000L) // the file source drains in mtime order
      f
    }
    Inputs(Seq("files" -> written.size.toLong, "events" -> (events.size + 2L), "users" -> Users,
      "gap_s" -> GapS), written)
  }

  override def reset(iter: Int): Unit =
    Seq("ckpt", "sink").foreach(d => Workload.deleteRecursive(new File(s"$dir/$d")))

  def run(iter: Int, t: Tracer): Unit = {
    val sink = s"$dir/sink"
    val progress = t.span("streaming", "drain") {
      Streams.withStatePartitions(spark) {
        val src = spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1).parquet(backlog)
        val q = Streams.timerSessions(src, GapS).writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$dir/ckpt")
          .outputMode("append")
          .foreachBatch { (batch: Dataset[Row], _: Long) => batch.write.mode("append").parquet(sink); () }
          .start()
        q.awaitTermination()
        q.recentProgress.toSeq
      }
    }
    progress.foreach { p =>
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
      samples.add(iter, "batch_s", ms("triggerExecution"))
      samples.add(iter, "streaming.add_batch_s", ms("addBatch"))
      samples.add(iter, "streaming.planning_s", ms("queryPlanning"))
      samples.add(iter, "streaming.offsets_s", ms("latestOffset") + ms("getBatch"))
      samples.add(iter, "streaming.wal_s", ms("walCommit") + ms("commitOffsets"))
      samples.add(iter, "streaming.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
    }
    samples.add(iter, "batches", progress.size.toDouble)
    progress.lastOption.foreach(p => samples.add(iter, "streaming.state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
  }

  /** The gap rule replayed over each user's full event list in batch. */
  private lazy val expected: Seq[(Long, Long, Long, Long)] =
    events.groupBy(_._1).toSeq.flatMap { case (u, evs) =>
      val ts = evs.map(_._2 * 1000000L).sorted
      ts.tail.foldLeft(List((ts.head, ts.head, 1L))) { case ((s, last, n) :: done, x) =>
        if (x < last + GapS * 1000000L) (s, x, n + 1) :: done else (x, x, 1L) :: (s, last, n) :: done
      }.map { case (s, l, n) => (u, s, l, n) }
    }.sorted

  def check(iter: Int): Seq[String] = {
    val sink = s"$dir/sink"
    val got = (if (!new File(sink).exists) Nil else spark.read.parquet(sink).collect().toSeq)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).filter(_._1 != FlushUser).sorted
    if (got == expected) Nil
    else Seq(s"stream_sessions: ${got.size} sessions emitted, replay has ${expected.size}; " +
      s"first difference ${got.diff(expected).headOption.orElse(expected.diff(got).headOption)}")
  }

  def results(untraced: Seq[Int], t: Tracer): Seq[Metric] =
    Seq(Metric("batch_p50_s", samples.median(untraced, "batch_s"), "s"))

  override def traceResults(traced: Seq[Int], t: Tracer): Seq[Metric] =
    Seq("add_batch_s", "planning_s", "offsets_s", "wal_s", "state_commit_s").map { k =>
      Metric(s"streaming.$k", samples.median(traced, s"streaming.$k"), "s")
    } ++ Seq(Metric("streaming.state_bytes", samples.median(traced, "streaming.state_bytes"), "bytes"),
      Metric("streaming.batches", samples.median(traced, "batches"), "count"))
}

object StreamWorkload {
  val DataFiles = 2
  val EventsPerFile = 5000
  val Users = 20000L
  val FlushUser = -1L
  val GapS = 600L
  val FileSpanS = 1800L
  val T0 = 1704067200L // 2024-01-01T00:00:00Z
  val Schema = StructType(Seq(StructField("user_id", LongType), StructField("ts", TimestampType)))
}

/** Per-iteration samples of the micro-batch progress figures. */
private final class Samples {
  private val data = mutable.Map.empty[(Int, String), mutable.ArrayBuffer[Double]]
  def add(iter: Int, key: String, v: Double): Unit =
    data.getOrElseUpdate((iter, key), mutable.ArrayBuffer.empty[Double]) += v
  def all(iters: Seq[Int], key: String): Seq[Double] =
    iters.flatMap(i => data.getOrElse((i, key), Nil))
  def median(iters: Seq[Int], key: String): Double = Stats.median(all(iters, key))
}
