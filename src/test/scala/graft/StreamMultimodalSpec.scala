package graft

import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.multimodal.Multimodal

class StreamMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("streaming tumbling counts equal the batch equivalent") {
    val d = sf("sf0.001")
    val streamed = Streams.drainToTable(
      Streams.tumblingCounts(Streams.eventsStream(spark, d), "1 hour"), "t_spec", "complete")
    val batch = Streams.tumblingCounts(graft.io.Tables.events(spark, d), "1 hour")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("GVID frame sampling decodes exactly the strided frames with true pixel stats") {
    import graft.multimodal.Multimodal
    // id 10: nf = 2 + 10%7 = 5, stride = ceil(5/4) = 2 → frames 0, 2, 4
    val ds = spark.createDataset(Seq(Multimodal.MediaItem(10L, Multimodal.syntheticVideo(10L))))
    val rows = Multimodal.sampleVideoFrames(ds, 4).collect().sortBy(_.frame_idx)
    assert(rows.map(_.frame_idx).toSeq == Seq(0L, 2L, 4L))
    rows.foreach { f =>
      assert(f.n_frames == 5 && f.width == 16 + 10 % 13 && f.height == 16 + 10 % 11)
      // constant red channel survives PNG round-trip exactly
      assert(f.mean_r == ((10 * 7 + 31 * f.frame_idx) % 256).toDouble, f)
    }
  }

  test("WAV round-trip: every PCM sample survives encode → AudioSystem decode") {
    import graft.multimodal.Multimodal
    // id 42: n = 500 + 42%257 = 542 samples; mean replayed from the formula
    val ds = spark.createDataset(Seq(Multimodal.MediaItem(42L, Multimodal.syntheticWav(42L))))
    val m = Multimodal.decodeAudio(ds).head()
    assert(m.sample_rate == 8000 && m.channels == 1 && m.bits == 16 && m.n_samples == 542)
    val expect = (0 until 542).map(i => ((42L * 31 + 7L * i) % 2003) - 1001).sum.toDouble / 542
    assert(m.mean_amp == expect)
  }

  test("transformWithState agrees with mapGroupsWithState on the shared aggregates") {
    // two independent state APIs (GroupState blob vs MapState entries)
    // over the same replay must produce identical per-user totals
    val d = sf("sf0.001")
    val tws = Streams.drainToTable(
      Streams.userActivityTws(Streams.eventsStream(spark, d)), "tws_spec", "update")
      .select("user_id", "n_events", "n_types")
    val mgws = Streams.drainToTable(
      Streams.statefulUserActivity(Streams.eventsStream(spark, d)), "mgws_spec", "update")
      .select("user_id", "n_events", "n_types")
    assert(tws.count() == mgws.count())
    assert(tws.exceptAll(mgws).count() == 0 && mgws.exceptAll(tws).count() == 0)
  }

  test("batch-seeded state continues exactly where an unseeded full replay lands") {
    val d = sf("sf0.001")
    val seeded = Streams.drainToTable(Streams.seededUserCounts(spark, d), "seed_spec", "update")
    // unseeded reference: full batch aggregate, restricted to users with
    // at least one streamed (non-historical) event
    val full = graft.io.Tables.events(spark, d)
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(pmod(col("event_id"), lit(3)) =!= 0, 1L).otherwise(0L)).as("n_stream"))
      .filter(col("n_stream") > 0).select("user_id", "n_total")
    assert(seeded.count() == full.count())
    assert(seeded.exceptAll(full).count() == 0 && full.exceptAll(seeded).count() == 0)
  }

  test("streaming dedup emits each (user, event_type) pair once") {
    val d = sf("sf0.001")
    val deduped = Streams.drainToTable(
      Streams.dedupStream(Streams.eventsStream(spark, d), Seq("user_id", "event_type")),
      "d_spec", "append")
    val exact = graft.io.Tables.events(spark, d)
      .select("user_id", "event_type").distinct().count()
    assert(deduped.count() == exact)
  }

  test("foreachBatch parquet sink (append) equals the memory-sink result") {
    val d = sf("sf0.001")
    val viaParquet = Streams.drainToParquet(
      Streams.dedupStream(Streams.eventsStream(spark, d), Seq("user_id", "event_type")),
      "p_spec", "append")
    val viaMemory = Streams.drainToTable(
      Streams.dedupStream(Streams.eventsStream(spark, d), Seq("user_id", "event_type")),
      "m_spec", "append")
    assert(viaParquet.count() == viaMemory.count())
    assert(viaParquet.exceptAll(viaMemory).count() == 0)
  }

  test("drainToParquet: an all-filtered stream reads back as an EMPTY frame") {
    // an empty result is a valid outcome — the seeded zero-row sink file
    // must make the read-back succeed with the right schema even when no
    // batch ever writes
    val d = sf("sf0.001")
    val none = Streams.drainToParquet(
      Streams.eventsStream(spark, d).filter(col("event_id") < 0)
        .select("event_id", "user_id", "event_type"),
      "empty_spec", "append")
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("event_id", "user_id", "event_type"))
  }

  test("q155 composition is ONE streaming query with three stateful operators") {
    // the capstone's claim is composition, not co-existence: dedup, quota
    // admission (transformWithState), and the sealed window aggregate
    // must appear as state operators of a single running query
    val d = sf("sf0.001")
    val dir = Streams.prepareLateArrivalFiles(spark, d)
    val ckpt = scratch("ckpt_composed_spec")
    graft.util.Staging.deleteRecursive(ckpt)
    val q = Streams.composedAdmissionPipeline(spark, dir, 20L)
      .writeStream.format("memory").queryName(s"composed_spec_${System.nanoTime()}")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators.map(_.operatorName).toSeq
      assert(ops.size == 3, s"expected 3 stateful operators in one query, got $ops")
      assert(ops.exists(_.contains("dedupe")), s"no dedup operator in $ops")
      assert(ops.exists(_.contains("transformWithState")), s"no transformWithState in $ops")
      // the sealed window aggregate surfaces as its state-store writer
      assert(ops.exists(_.contains("stateStoreSave")), s"no stateful aggregate in $ops")
    } finally q.stop()
  }

  test("stateful streaming runs on the RocksDB state store provider") {
    // the conf is engine-wide (GraftSession.configure): heap-map state is
    // the one remaining 100×-risk in streaming, RocksDB spills to disk
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    val d = sf("sf0.001")
    // a stateful (mapGroupsWithState) query must produce correct results
    // under the RocksDB provider
    val res = Streams.drainToTable(
      Streams.statefulUserActivity(Streams.eventsStream(spark, d)), "rocks_spec", "update")
    val batch = graft.io.Tables.events(spark, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), countDistinct("event_type").as("n_types"))
    assert(res.count() == batch.count())
    val joined = res.join(batch.withColumnRenamed("n_events", "b_n"), "user_id")
      .filter(col("n_events") =!= col("b_n")).count()
    assert(joined == 0)
  }

  test("session windows split strictly at the gap") {
    val ts = Seq(0L, 10L, 50L, 55L).map(m => java.sql.Timestamp.valueOf(s"2024-01-01 00:00:00").toInstant.plusSeconds(m * 60))
    val df = ts.map(t => (1L, java.sql.Timestamp.from(t))).toDF("user_id", "ts")
    val sessions = Streams.userSessions(df, "30 minutes").orderBy("session_start_us")
      .select("n").as[Long].collect()
    assert(sessions.toSeq == Seq(2L, 2L)) // 0,10 | 50,55 (gap 40 min splits)
  }

  test("stream-stream join matches across micro-batch boundaries") {
    import java.nio.file._
    import java.nio.file.attribute.FileTime
    // views arrive in micro-batch 1, clicks only in micro-batch 2: matches
    // must still be found, proving join state is retained across batches
    // (and pruned only by the watermark, which stays behind every view here)
    val dir = scratch("ssjoin_spec")
    graft.util.Staging.deleteRecursive(dir)
    Files.createDirectories(Paths.get(dir))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val views = Seq((100L, 1L, "view", ts(0)), (101L, 1L, "view", ts(10)), (102L, 2L, "view", ts(0)))
    val clicks = Seq((200L, 1L, "click", ts(30)), (201L, 2L, "click", ts(90)))
    val mtime0 = System.currentTimeMillis()
    Seq(views, clicks).zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$dir/_tmp$i"
      rows.toDF("event_id", "user_id", "event_type", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(dir, s"${i + 1}.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(Paths.get(dir, s"${i + 1}.parquet"), FileTime.fromMillis(mtime0 + i * 2000L))
      graft.util.Staging.deleteRecursive(tmp)
    }
    val src = Streams.lateArrivalStream(spark, dir)
    val joined = Streams.drainToParquet(
      Streams.viewClickJoin(src.filter(col("event_type") === "view"),
        src.filter(col("event_type") === "click"), "1 HOUR"),
      "ssjoin_spec", "append")
    val got = joined.select("view_id", "click_id").as[(Long, Long)].collect().toSet
    // user 1: both views precede the 12:30 click within 1h; user 2's click
    // at 13:30 is outside the horizon of its 12:00 view
    assert(got == Set((100L, 200L), (101L, 200L)))
  }

  test("left-outer stream-stream join emits unmatched views after the watermark seals them") {
    import java.nio.file._
    import java.nio.file.attribute.FileTime
    val dir = scratch("ssjoin_outer_spec")
    graft.util.Staging.deleteRecursive(dir)
    Files.createDirectories(Paths.get(dir))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // u1's view gets a click inside the horizon; u2's view never matches.
    // Batch 3's late heartbeats push BOTH sides' watermarks (16:00 − 1h
    // delay; the global watermark is the MIN across inputs, so a heartbeat
    // on one side only would pin it) past u2's horizon end (13:00),
    // forcing the unmatched emission. The heartbeat view itself stays
    // unsealed in state (nothing ever passes ITS horizon) — by design.
    val batches = Seq(
      Seq((100L, 1L, "view", ts(0)), (102L, 2L, "view", ts(0))),
      Seq((200L, 1L, "click", ts(30)), (201L, 2L, "click", ts(90))),
      Seq((900L, 98L, "view", ts(240)), (901L, 99L, "click", ts(240))))
    val mtime0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$dir/_tmp$i"
      rows.toDF("event_id", "user_id", "event_type", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(dir, s"${i + 1}.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(Paths.get(dir, s"${i + 1}.parquet"), FileTime.fromMillis(mtime0 + i * 2000L))
      graft.util.Staging.deleteRecursive(tmp)
    }
    val src = Streams.lateArrivalStream(spark, dir)
    val joined = Streams.drainToParquet(
      Streams.viewClickJoin(src.filter(col("event_type") === "view"),
        src.filter(col("event_type") === "click"), "1 HOUR", "left_outer"),
      "ssjoin_outer_spec", "append")
    val got = joined.select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(got == Set((100L, 200L), (102L, -1L)))
  }

  test("ImageIO decode reads true geometry and channel stats from real PNG bytes") {
    import graft.multimodal.Multimodal
    val ids = Seq(0L, 7L, 300L, 499L)
    val media = ids.map(id => Multimodal.MediaItem(id, Multimodal.syntheticPng(id))).toDS()
    val out = Multimodal.decodeAll(media, Multimodal.ImageIODecoder)
      .collect().map(m => m.id -> m).toMap
    ids.foreach { id =>
      val m = out(id)
      assert(m.width == 16 + (id * 37) % 120 && m.height == 16 + (id * 53) % 88)
      assert(m.n_frames == 1L)
      assert(m.mean_r == (id % 256).toDouble) // constant-R channel survives decode exactly
      assert(m.n_bytes == Multimodal.syntheticPng(id).length.toLong)
    }
  }

  test("resizeImages fits within the box, never upscales, and preserves the constant channel") {
    import graft.multimodal.Multimodal
    // box 64 < max dims (135×103) so several of these genuinely downscale
    val media = Seq(3L, 13L, 35L, 499L)
      .map(id => Multimodal.MediaItem(id, Multimodal.syntheticPng(id))).toDS()
    val out = Multimodal.resizeImages(media, 64).collect()
    out.foreach { r =>
      assert(r.thumb_w <= 64 && r.thumb_h <= 64)
      assert(r.thumb_w <= r.width && r.thumb_h <= r.height) // never upscale
      val scale = math.min(1.0, math.min(64.0 / r.width, 64.0 / r.height))
      assert(r.thumb_w == math.max(1, math.floor(r.width * scale).toInt))
      assert(r.thumb_h == math.max(1, math.floor(r.height * scale).toInt))
      assert(r.thumb_mean_r == (r.id % 256).toDouble) // nearest-neighbor exact on constant R
    }
    assert(out.exists(r => r.thumb_w < r.width), "at least one image must actually downscale")
  }

  test("multimodal stub decode is deterministic and batch-shaped") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val out = Multimodal.decodeAll(
      Multimodal.mediaFromText(df, "doc_id", "text"), Multimodal.StubDecoder)
      .collect().map(m => m.id -> m).toMap
    assert(out(1L).n_bytes == 11 && out(1L).width == out(2L).width && out(1L).height == out(2L).height)
    assert(out(1L).width != out(3L).width || out(1L).height != out(3L).height)
    assert(out(1L).width >= 16 && out(1L).n_frames >= 1)
  }
}
