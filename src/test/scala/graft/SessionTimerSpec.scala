package graft

import java.nio.file._
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.streaming.Streams

/** Timer-driven session windows (q162): pins the semantics the oracle
  * depends on — the timer-firing boundary at expiry == watermark, the
  * late-row drop, strict session_window merge — and full parity with the
  * batch gap-island replay on the staged late-arrival harness.
  */
class SessionTimerSpec extends SparkSpec {

  private val T0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
  private def ts(offsetSec: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(T0.plusSeconds(offsetSec))

  /** Stage `batches` as one file per micro-batch (name + mtime ordered),
    * mirroring prepareLateArrivalFiles' layout. */
  private def stageBatches(name: String, batches: Seq[Seq[(Long, java.sql.Timestamp)]]): String = {
    val dir = scratch(name)
    graft.util.Staging.deleteRecursive(dir)
    val base = Files.createDirectories(Paths.get(dir))
    val mtime0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      import spark.implicits._
      val df = rows.toDF("user_id", "ts")
      val tmp = s"$dir/_tmp$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = base.resolve(s"${i + 1}.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime0 + i * 2000L))
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
    dir
  }

  test("timer fires at expiry == watermark; late rows drop; open sessions hold") {
    // gap 1800s, delay 3600s. user 10's island [T0, T0+60] expires at
    // T0+1860; the clock event at T0+5460 puts the final watermark at
    // EXACTLY T0+1860 — the equality boundary. user 20 closes clearly;
    // user 99's second island stays open; user 50 arrives behind the
    // watermark and must drop.
    val dir = stageBatches("timer_boundary", Seq(
      Seq(10L -> ts(0), 10L -> ts(60), 99L -> ts(0), 20L -> ts(10)),
      Seq(99L -> ts(5460)),
      Seq(50L -> ts(-172800))))
    val got = Streams.drainToParquet(
      Streams.timerSessions(Streams.lateArrivalStream(spark, dir), 1800L),
      "timer_boundary_drain", "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val us = 1000000L
    val base = T0.getEpochSecond * us
    val expected = Set(
      (10L, base, base + 60L * us, 2L),   // expiry == watermark: FIRES (pinned)
      (20L, base + 10L * us, base + 10L * us, 1L),
      (99L, base, base, 1L))
    assert(got == expected,
      s"got $got — if the equality row (user 10) is missing, the engine's " +
        "timer rule went strict and the q162 oracle inequality must flip")
  }

  test("an allowed-late arrival bridges islands instead of splitting them") {
    // batch 2 carries an event BETWEEN user 10's two batch-1 bursts,
    // inside the watermark allowance: pending islands must merge, and the
    // merged session closes as ONE row — eager emission would have split.
    val dir = stageBatches("timer_bridge", Seq(
      Seq(10L -> ts(0), 10L -> ts(3000), 99L -> ts(600)),
      Seq(10L -> ts(1500), 99L -> ts(3600)),   // bridges [0] and [3000]
      Seq(99L -> ts(12000))))                   // clock: wm = 8400
    val got = Streams.drainToParquet(
      Streams.timerSessions(Streams.lateArrivalStream(spark, dir), 1800L),
      "timer_bridge_drain", "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val us = 1000000L
    val base = T0.getEpochSecond * us
    assert(got.contains((10L, base, base + 3000L * us, 3L)),
      s"bridged island not merged/closed as one session: $got")
    assert(!got.exists(s => s._1 == 10L && s._4 < 3L),
      s"island emitted eagerly before the bridge could arrive: $got")
  }

  test("q162 equals the batch gap-island replay over the staged harness (sf0.001)") {
    val d = sf("sf0.001")
    val dir = Streams.prepareLateArrivalFiles(spark, d)
    val got = Streams.drainToParquet(
      Streams.timerSessions(Streams.lateArrivalStream(spark, dir), 1800L),
      "timer_parity_drain", "append")
    // replay in Spark SQL: admitted rows → strict gap islands → closed
    // against the final watermark (same arithmetic as the DuckDB oracle)
    val ev = graft.io.Tables.events(spark, d)
      .select(col("user_id").cast("long").as("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("t"))
    val t0 = ev.agg(date_trunc("DAY", min(col("t")))).head().getTimestamp(0)
    val t1 = new java.sql.Timestamp(t0.getTime + 7L * 86400 * 1000)
    val t2 = new java.sql.Timestamp(t0.getTime + 14L * 86400 * 1000)
    val adm = ev.filter((col("t") < lit(t1) && pmod(col("event_id"), lit(10)) =!= 0) ||
      (col("t") >= lit(t1) && col("t") < lit(t2)))
    val wmUs = adm.agg(max(unix_micros(col("t")))).head().getLong(0) - 3600L * 1000000
    val w = Window.partitionBy("user_id").orderBy("tu")
    val exp = adm.select(col("user_id"), unix_micros(col("t")).as("tu"))
      .withColumn("brk", when(lag("tu", 1).over(w).isNull ||
        col("tu") - lag("tu", 1).over(w) >= 1800L * 1000000, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("tu").as("session_start_us"), max("tu").as("session_end_us"),
        count(lit(1)).as("n"))
      .filter(col("session_end_us") + 1800L * 1000000 <= wmUs)
      .select("user_id", "session_start_us", "session_end_us", "n")
    assert(got.count() > 0)
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0,
      "engine sessions diverge from the batch island replay")
  }
}
