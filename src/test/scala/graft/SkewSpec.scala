package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.relational.Skew

/** Skew-handling contracts: the chunked lead must equal the plain lead
  * (including across empty buckets and at user boundaries), the funnel's
  * two formulations must agree, and AQE's skew-split must actually
  * engage on a planted hot join key at bench-scale thresholds — the
  * plan shape the round-6 skew sweep's join arm relied on (BASELINE.md
  * §Skew sweep).
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  /** q127's funnel as a cascade of hash aggregations: three user-keyed
    * aggregates with map-side partial combine (skew-immune — a hot user's
    * rows pre-combine inside every map task) at the cost of re-shuffling
    * the events per stage. The independent reference for q127's chained
    * per-user windows. */
  private def funnelByAgg(ev: DataFrame): DataFrame = {
    val a1 = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("tv"))
    val a2 = ev.join(a1, "user_id").groupBy("user_id")
      .agg(min(col("tv")).as("tv"),
        min(when(col("event_type") === "click" && col("ts") > col("tv"), col("ts"))).as("tc"))
    val a3 = ev.join(a2, "user_id").groupBy("user_id")
      .agg(min(col("tv")).as("tv"), min(col("tc")).as("tc"),
        min(when(col("event_type") === "purchase" && col("ts") > col("tc"), col("ts"))).as("tp"))
    a3.agg(count(lit(1)).as("n_users"), count(col("tv")).as("n_view"),
      count(col("tc")).as("n_click"), count(col("tp")).as("n_purchase"))
  }

  test("chunkedLead equals plain lead across bucket gaps and key bounds") {
    // user 1: rows in days 1, 1, 3 (day-2 gap: the stitch must skip the
    // empty bucket); user 2: single row (lead null); user 3: two rows in
    // one bucket (pure within-bucket path)
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "a"),
      (1L, "2024-01-01 11:00:00", 2L, "b"),
      (1L, "2024-01-03 09:00:00", 3L, "c"),
      (2L, "2024-01-02 08:00:00", 4L, "d"),
      (3L, "2024-01-05 08:00:00", 5L, "e"),
      (3L, "2024-01-05 08:00:00", 6L, "f"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val plain = df.withColumn("next_type",
        lead(col("event_type"), 1).over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
      .select("user_id", "event_id", "next_type")
    val chunked = Skew.chunkedLead(df, "user_id", "ts", "event_id", "event_type",
        date_trunc("day", col("ts")), "next_type")
      .select("user_id", "event_id", "next_type")
    assert(plain.exceptAll(chunked).isEmpty && chunked.exceptAll(plain).isEmpty,
      s"chunked: ${chunked.orderBy("event_id").collect().toSeq}")
  }

  test("chunkedLead equals plain lead on seeded random event sets × bucket widths") {
    // sampled distributed property (PropertySpec convention): random
    // clustered timestamps — repeated (user, ts) ties broken by event_id,
    // cross-bucket gaps, single-event users — must agree with the plain
    // lead under BOTH day and hour buckets (bucket granularity changes
    // which leads cross the stitch boundary, the code path under test)
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 400).map { i =>
        val user = rnd.nextInt(8).toLong                 // hot-ish: ~50 events/user
        val day = rnd.nextInt(5)                          // 5-day span with gaps
        val sec = rnd.nextInt(3) * 21600                  // coarse → many exact ts ties
        (user, java.sql.Timestamp.valueOf(f"2024-02-${day + 1}%02d 00:00:00")
          .toInstant.plusSeconds(sec.toLong).toString.replace("T", " ").replace("Z", ""),
          i.toLong, s"t${rnd.nextInt(4)}")
      }
      val df = rows.toDF("user_id", "ts", "event_id", "event_type")
        .withColumn("ts", col("ts").cast("timestamp"))
      val plain = df.withColumn("next_type",
          lead(col("event_type"), 1).over(
            Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))))
        .select("user_id", "event_id", "next_type")
      for (bucket <- Seq(date_trunc("day", col("ts")), date_trunc("hour", col("ts")))) {
        val chunked = Skew.chunkedLead(df, "user_id", "ts", "event_id", "event_type",
            bucket, "next_type")
          .select("user_id", "event_id", "next_type")
        assert(plain.exceptAll(chunked).isEmpty && chunked.exceptAll(plain).isEmpty,
          s"seed=$seed bucket=$bucket diverged")
      }
    }
  }

  test("chunkedLead equals plain lead on the real events table") {
    // q136 is the plain lead, q156 the same transition matrix through
    // Skew.chunkedLead with a day bucket
    val plain = SparkEntry.queries("q136_transitions")(spark, sf("sf0.001"))
    val chunked = SparkEntry.queries("q156_transitions_chunked")(spark, sf("sf0.001"))
    assert(plain.exceptAll(chunked).isEmpty && chunked.exceptAll(plain).isEmpty,
      "transition counts diverge between plain and chunked lead")
  }

  test("funnel window and aggregation formulations agree on real events") {
    val ev = graft.io.Tables.events(spark, sf("sf0.001"))
      .select("user_id", "ts", "event_type")
    val w = SparkEntry.queries("q127_funnel")(spark, sf("sf0.001")).collect().head
    val a = funnelByAgg(ev).collect().head
    assert(w == a, s"window $w vs agg $a")
  }

  test("AQE skew-split engages on a planted hot join key") {
    // 400k rows on ONE key vs a ~sparse tail: with bench-scale thresholds
    // the final adaptive plan must carry the skew=true SMJ marker — the
    // exact mechanism the 100 TB join path relies on (at defaults the
    // same trigger fires at 256 MB partitions).
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      val big = spark.range(500000L).select(
        when(col("id") < 400000L, lit(0L)).otherwise(col("id")).as("k"),
        concat(lit("payload_padding_padding_padding_"), col("id")).as("v"))
      val dim = spark.range(100001L)
        .select((col("id") * lit(4)).as("k"), pmod(col("id"), lit(7)).as("seg"))
      // the aggregate must READ v: otherwise Catalyst prunes it before the
      // exchange, the hot partition is 400k identical longs that compress
      // below the skew threshold, and the split never triggers
      val joined = big.join(dim.hint("merge"), "k")
        .groupBy("seg").agg(count(lit(1)).as("n"), max(length(col("v"))).as("max_len"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-split did not engage:\n${plan.take(1200)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("AQE skew-split is DISABLED when the other join side is an inline aggregate") {
    // The round-6 blind spot, pinned as a negative: OptimizeSkewedJoin
    // splits a skewed partition by re-reading the OTHER side's shuffle map
    // output in slices, so both SMJ children must be fresh shuffle stages.
    // A dim built as big.select(k).distinct() keeps its final aggregate
    // inline above its own shuffle — identical hot data to the test above,
    // yet the split MUST NOT engage (if Spark ever lifts this limitation,
    // this test failing is good news: revisit the q123-style guidance in
    // BASELINE.md's round-6 skew section).
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      val big = spark.range(500000L).select(
        when(col("id") < 400000L, lit(0L)).otherwise(col("id")).as("k"),
        concat(lit("payload_padding_padding_padding_"), col("id")).as("v"))
      val dim = big.select("k").distinct().withColumn("seg", pmod(col("k"), lit(7)))
      val joined = big.join(dim.hint("merge"), "k")
        .groupBy("seg").agg(count(lit(1)).as("n"), max(length(col("v"))).as("max_len"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("skew=true"),
        "skew-split engaged through an inline-aggregate side — Spark lifted " +
          s"the limitation this repo documents; update the guidance:\n${plan.take(1200)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
