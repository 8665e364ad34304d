package graft

import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** The deployable (watermark + append) streaming shapes added in round 8:
  * q169/q170's bounded-state claim is ASSERTED against the state-store
  * metrics — sealed windows must leave the store — and the smoothed-PSI
  * grid is exercised on the one case q167's inner join cannot see: a
  * category novel to the live feed.
  */
class StreamAppendSpec extends SparkSpec {

  test("append-mode windowed agg evicts sealed windows from the state store") {
    val d = sf("sf0.001")
    val dir = Streams.prepareLateArrivalFiles(spark, d)
    val agg = Streams.lateArrivalStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))
    val ckpt = scratch("ckpt_appendspec")
    graft.util.Staging.deleteRecursive(ckpt)
    spark.catalog.dropTempView("appendspec_sink")
    // GraftSession disables RocksDB's per-commit row-count scan (round-15
    // optimization: nothing in the ENGINE consumes numTotalStateRows) —
    // this spec is the one consumer of that metric, so re-enable it for
    // this query only; the conf is read at query start.
    val trackKey = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    val prevTrack = spark.conf.getOption(trackKey)
    spark.conf.set(trackKey, "true")
    val (emitted, stateRows) = try Streams.withStatePartitions(spark) {
      val q = agg.writeStream.format("memory").queryName("appendspec_sink")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        val rows = spark.table("appendspec_sink").select("win_start").distinct().count()
        val st = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
          .map(_.stateOperators.map(_.numRowsTotal).sum)
        (rows, st.getOrElse(-1L))
      } finally { q.stop(); spark.catalog.dropTempView("appendspec_sink") }
    } finally prevTrack match {
      case Some(v) => spark.conf.set(trackKey, v)
      case None => spark.conf.unset(trackKey)
    }
    // replay the q61 watermark model in batch to know how many distinct
    // 1-day windows the admitted rows span: state must hold EXACTLY the
    // unsealed remainder, not every window ever seen (the complete-mode
    // growth q163/q167 accept for replay-exactness)
    val ev = graft.io.Tables.events(spark, d)
      .select(col("event_id"), date_trunc("DAY", col("ts")).as("win"), col("ts"))
    val t0 = ev.agg(min(date_trunc("DAY", col("ts")))).head().getTimestamp(0)
    val t1 = new java.sql.Timestamp(t0.getTime + 7L * 86400 * 1000)
    val t2 = new java.sql.Timestamp(t0.getTime + 14L * 86400 * 1000)
    val wml = ev.filter(col("ts") < lit(t1) && pmod(col("event_id"), lit(10)) =!= 0)
      .agg(max(col("ts"))).head().getTimestamp(0).getTime - 3600 * 1000L
    val admitted = ev.filter(
      (col("ts") < lit(t1) && pmod(col("event_id"), lit(10)) =!= 0) ||
      (col("ts") >= lit(t1) && col("ts") < lit(t2)) ||
      (col("ts") < lit(t1) && pmod(col("event_id"), lit(10)) === 0 &&
        unix_millis(col("win")) + 86400 * 1000L > wml))
    val windowsSeen = admitted.select("win").distinct().count()
    info(s"windows seen: $windowsSeen, emitted (sealed): $emitted, state rows: $stateRows")
    assert(emitted > 0, "no window ever sealed — the append path was not exercised")
    assert(stateRows >= 0, "no state-operator progress reported")
    assert(stateRows == windowsSeen - emitted,
      s"state should hold exactly the unsealed windows: $stateRows != $windowsSeen - $emitted")
  }

  test("smoothed PSI scores a category that is NOVEL to the reference") {
    import spark.implicits._
    val ref = Seq(("view", 50L), ("click", 50L)).toDF("event_type", "n1")
    val win = Seq(
      ("2024-01-01 00:00:00", "view", 40L),
      ("2024-01-01 00:00:00", "click", 40L),
      ("2024-01-01 00:00:00", "mystery", 20L), // novel: not in the reference
      ("2024-01-02 00:00:00", "view", 50L),
      ("2024-01-02 00:00:00", "click", 50L))
      .toDF("ws", "event_type", "n2")
      .select(col("ws").cast("timestamp").as("win_start"), col("event_type"), col("n2"))
    val got = Streams.smoothedPsi(win, ref, refTot = 100L)
      .collect().map(r => (r.getTimestamp(0).toString, r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    // every window scores the FULL 3-category grid (view, click, mystery)
    assert(got.map(_._3).toSeq == Seq(3L, 3L))
    val (psiNovel, psiClean) = (got(0)._2, got(1)._2)
    info(f"psi with novel category: $psiNovel%.4f, without: $psiClean%.4f")
    // the novel category dominates the signal; the distribution-identical
    // window scores ~0 (only the smoothing epsilon differs)
    assert(psiNovel > 0.1, f"novel category must register as drift, got $psiNovel%.4f")
    assert(psiClean < 0.01, f"identical distribution must score ~0, got $psiClean%.4f")
    // and an inner-join PSI (q167's shape) would have been blind to it:
    // the mystery bin simply vanishes from the join
    val inner = win.join(ref, "event_type")
    assert(inner.filter(col("event_type") === "mystery").count() == 0)
  }
}
