package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.PageRank
import graft.ml.Metrics
import graft.relational.Scd
import graft.timeseries.Resample

/** Specs for the wave-3 analytics modules: PageRank, ROC-AUC, SCD2 merge,
  * time-series resample/ffill. Each pins hand-computable invariants on
  * tiny frames (the oracle gate covers cross-engine parity; these cover
  * the algebra itself).
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  // ── PageRank ─────────────────────────────────────────────────────────

  test("PageRank: symmetric 2-cycle converges to uniform; mass bounded") {
    // a↔b: by symmetry every iteration keeps rank = 1/2 each
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = PageRank.run(edges, iterations = 3, damping = 0.85)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(approx(r(1L), 0.5, 1e-12) && approx(r(2L), 0.5, 1e-12))
  }

  test("PageRank: star graph concentrates rank on the sink") {
    // 1→3, 2→3: 3 is a dangling sink; after one iteration
    // rank(3) = 0.15/3 + 0.85*(1/3 + 1/3), rank(1) = rank(2) = 0.15/3
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val r = PageRank.run(edges, iterations = 1, damping = 0.85)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val base = (1.0 - 0.85) / 3.0
    assert(approx(r(1L), base, 1e-12) && approx(r(2L), base, 1e-12))
    assert(approx(r(3L), base + 0.85 * (2.0 / 3.0), 1e-9))
    // dangling variant: mass leaks through the sink, never exceeds 1
    val total = r.values.sum
    assert(total > 0 && total <= 1.0 + 1e-9)
  }

  // ── ROC-AUC ──────────────────────────────────────────────────────────

  test("rocAuc: perfect, inverted, and random separations") {
    def auc(rows: Seq[(Double, Long)]): Double =
      Metrics.rocAuc(rows.toDF("s", "y"), "s", "y").head().getDouble(0)
    // perfectly separated → 1.0; inverted → 0.0
    assert(auc(Seq((0.9, 1L), (0.8, 1L), (0.2, 0L), (0.1, 0L))) == 1.0)
    assert(auc(Seq((0.9, 0L), (0.8, 0L), (0.2, 1L), (0.1, 1L))) == 0.0)
    // all scores identical → every pair tied → 0.5 exactly
    assert(auc(Seq((0.5, 1L), (0.5, 0L), (0.5, 1L), (0.5, 0L))) == 0.5)
  }

  test("rocAuc: single-class input yields explicit null, not NaN") {
    // AUC is undefined without both classes — the contract is a null auc
    // with the class counts still reported, never a NaN that poisons
    // downstream aggregates
    val allPos = Metrics.rocAuc(
      Seq((0.9, 1L), (0.1, 1L)).toDF("s", "y"), "s", "y").head()
    assert(allPos.isNullAt(0) && allPos.getLong(1) == 2 && allPos.getLong(2) == 0)
    val allNeg = Metrics.rocAuc(
      Seq((0.9, 0L), (0.1, 0L)).toDF("s", "y"), "s", "y").head()
    assert(allNeg.isNullAt(0) && allNeg.getLong(1) == 0 && allNeg.getLong(2) == 2)
  }

  test("rocAuc: tie handling matches the average-rank convention") {
    // scores: 0.3(y=0), 0.5(y=0), 0.5(y=1), 0.7(y=1)
    // ranks: 1, then tied block avg rank 2.5 (both 0.5s), then 4
    // posrank = 2.5 + 4 = 6.5 → auc = (6.5 - 3) / (2*2) = 0.875
    val a = Metrics.rocAuc(
      Seq((0.3, 0L), (0.5, 0L), (0.5, 1L), (0.7, 1L)).toDF("s", "y"), "s", "y").head()
    assert(a.getDouble(0) == 0.875 && a.getLong(1) == 2 && a.getLong(2) == 2)
  }

  // ── SCD2 merge ───────────────────────────────────────────────────────

  test("scd2Apply: changed keys close and reopen, unchanged stay open") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val upd = Seq((2L, "b", 99.0)).toDF("k", "name", "bal")
    val out = Scd.scd2Apply(base, upd, Seq("k"),
      to_date(lit("2024-01-01")), to_date(lit("2024-06-01")))
    assert(out.count() == 4) // 3 base rows + 1 fresh
    val k2 = out.filter($"k" === 2L).orderBy("valid_from").collect()
    assert(k2.length == 2)
    val (closed, open) = (k2(0), k2(1))
    assert(!closed.getBoolean(closed.fieldIndex("is_current"))
      && closed.getDate(closed.fieldIndex("valid_to")).toString == "2024-06-01"
      && closed.getDouble(closed.fieldIndex("bal")) == 20.0)
    assert(open.getBoolean(open.fieldIndex("is_current"))
      && open.isNullAt(open.fieldIndex("valid_to"))
      && open.getDouble(open.fieldIndex("bal")) == 99.0)
    // unchanged keys: single open row, untouched values
    val k1 = out.filter($"k" === 1L).collect()
    assert(k1.length == 1 && k1(0).getBoolean(k1(0).fieldIndex("is_current")))
  }

  // ── Resample / forward-fill ──────────────────────────────────────────

  test("hourlyFfill: gaps are zero-count rows carrying the last value") {
    val ts = (h: Int, m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val events = Seq(
      (1L, ts(0, 10), 100L, 1.0),  // hour 0
      (1L, ts(0, 50), 101L, 2.0),  // hour 0, later → last_v = 2.0
      (1L, ts(3, 0), 102L, 7.0),   // hour 3 after a 2h gap
      (2L, ts(2, 0), 103L, 5.0)    // key 2 starts observing at hour 2
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Resample.hourlyFfill(events, "user_id", "ts", "event_id", "value",
        lit(ts(0, 0)), lit(ts(3, 0)))
      .orderBy("key", "bucket").collect()
    assert(out.length == 8) // 2 keys × 4 hourly buckets
    val k1 = out.take(4)
    assert(k1.map(_.getLong(2)).toSeq == Seq(2L, 0L, 0L, 1L)) // n_events
    assert(k1.map(_.getDouble(3)).toSeq == Seq(2.0, 2.0, 2.0, 7.0)) // ffill
    val k2 = out.drop(4)
    assert(k2.map(_.getLong(2)).toSeq == Seq(0L, 0L, 1L, 0L))
    assert(k2(0).isNullAt(3) && k2(1).isNullAt(3)) // null before first obs
    assert(k2(2).getDouble(3) == 5.0 && k2(3).getDouble(3) == 5.0)
  }

  // ── CDC apply ────────────────────────────────────────────────────────

  test("cdcApply: insert adds, update replaces, delete removes, rest untouched") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      ("D", 1L, "a", 10.0),      // delete key 1
      ("U", 2L, "b2", 99.0),     // update key 2
      ("I", 9L, "new", 1.0)      // insert key 9
    ).toDF("op", "k", "name", "bal")
    val out = Scd.cdcApply(base, changes, Seq("k"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set(2L, 3L, 9L))
    assert(out(2L) == ("b2", 99.0)) // replaced payload
    assert(out(3L) == ("c", 30.0))  // untouched
    assert(out(9L) == ("new", 1.0)) // inserted
  }

  // ── compaction ───────────────────────────────────────────────────────

  test("q118 compaction consolidates the fragmented copy into fewer files") {
    import graft.SparkEntry
    val d = sf("sf0.001")
    SparkEntry.queries("q118_compaction")(spark, d).collect() // runs the rewrite
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles((_, n) => n.endsWith(".parquet")).length
    val before = parquetFiles(scratch(s"events_fragmented_${math.abs(d.hashCode)}"))
    val after = parquetFiles(scratch(s"compacted_${math.abs(d.hashCode)}"))
    assert(before == 200, s"staged fragmentation expected 200 files, got $before")
    assert(after < before / 10, s"compaction left $after files (from $before)")
  }

  // ── session windows ──────────────────────────────────────────────────

  test("session_window query agrees with an independent island computation") {
    import graft.SparkEntry
    val d = sf("sf0.001")
    val viaOp = SparkEntry.queries("q117_session_window")(spark, d)
      .agg(count(lit(1)), sum("n"), max("sess_end")).head()
    // independent replay: greedy 30-min-gap islands via lag + cumsum
    val ev = graft.io.Tables.events(spark, d)
    val w = Window.partitionBy("user_id").orderBy("ts")
    val islands = ev
      .withColumn("ns", when(lag("ts", 1).over(w).isNull ||
        col("ts").cast("long") - lag("ts", 1).over(w).cast("long") >= 1800L, 1).otherwise(0))
      .withColumn("sid", sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n"), (max(col("ts")) + expr("INTERVAL 30 MINUTES")).as("sess_end"))
      .agg(count(lit(1)), sum("n"), max("sess_end")).head()
    assert(viaOp == islands)
  }

  test("hourlyFfill: per-bucket last is (ts, seq)-deterministic") {
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:30:00")
    // same timestamp: higher event_id wins
    val events = Seq((1L, t, 5L, 10.0), (1L, t, 9L, 20.0), (1L, t, 7L, 15.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = Resample.hourlyFfill(events, "user_id", "ts", "event_id", "value",
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).collect()
    assert(out.length == 1 && out(0).getLong(2) == 3L && out(0).getDouble(3) == 20.0)
  }

  test("hourlyFfill: observations before gridStart carry into a clipped window") {
    import spark.implicits._
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 09:59:00"), 1L, 5.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 12:30:00"), 2L, 7.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = Resample.hourlyFfill(events, "user_id", "ts", "event_id", "value",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
        lit(java.sql.Timestamp.valueOf("2024-01-01 12:00:00")))
      .orderBy("bucket").collect()
    // the 09:59 observation is OUTSIDE the grid but its value must fill
    // the 10:00 and 11:00 gap rows; the pre-grid bucket itself must not
    // appear in the output
    assert(out.length == 3)
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 0L, 1L))
    assert(out.map(_.getDouble(3)).toSeq == Seq(5.0, 5.0, 7.0))
  }

  test("cdcApply: an explicit NULL in an update row replaces the value") {
    import spark.implicits._
    val base = Seq((1L, Some("a"), Some(10.0)), (2L, Some("b"), Some(20.0)))
      .toDF("k", "name", "bal")
    val changes = Seq(("U", 2L, Some("b2"), None: Option[Double]))
      .toDF("op", "k", "name", "bal")
    val out = Scd.cdcApply(base, changes, Seq("k")).orderBy("k").collect()
    assert(out.length == 2)
    assert(out(1).getString(1) == "b2" && out(1).isNullAt(2),
      s"NULL payload not applied: ${out(1)}")
    assert(out(0).getString(1) == "a" && out(0).getDouble(2) == 10.0)
  }

  test("scd2Apply: a duplicated batch key cannot fan out closed base copies") {
    import spark.implicits._
    val base = Seq((1L, "a")).toDF("k", "v")
    val upd = Seq((1L, "a2"), (1L, "a2")).toDF("k", "v")
    val out = Scd.scd2Apply(base, upd, Seq("k"),
      lit(java.sql.Date.valueOf("2024-01-01")),
      lit(java.sql.Date.valueOf("2024-06-01")))
    // exactly ONE closed copy of the base row regardless of batch dups
    assert(out.filter(col("is_current") === false).count() == 1L)
  }
}
