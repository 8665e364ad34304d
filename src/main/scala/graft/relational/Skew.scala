package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew mitigations for per-key ORDERED windows.
  *
  * A hash join's hot key is handled by AQE skew-split (or explicit
  * salting, [[Scale.saltedJoin]]) — but a window partition cannot be
  * split: `lead(...) over (partition by user order by ts)` puts a
  * mega-user's every event into ONE task, and at zipf-distributed keys
  * that task IS the job's wall clock. The fix is two-phase: bucket the
  * order column, run the window within (key, bucket) — partitions now
  * bounded by events/key/bucket — and stitch the bucket boundaries
  * through a per-(key, bucket) summary frame that is smaller than the
  * data by the bucket width (the mega-user's stitch window has one row
  * per bucket, not per event).
  *
  * Evidence: the round-6 skew sweep planted a hot user at 0% to 30% of
  * an 8M-event table; the plain lead's wall grows 2.29 → 8.02 s with the
  * hot share while the chunked form stays flat at 3.65–4.14 s — 2.2×
  * faster at 30% hot, crossover near 10% (BASELINE.md §Skew sweep).
  */
object Skew {

  /** `lead(valueCol, 1) over (partition by keyCol order by orderCol,
    * tieCol)`, computed with bounded window partitions.
    *
    * @param bucket a MONOTONE NON-DECREASING function of `orderCol`
    *               (e.g. `date_trunc("day", col(ts))`): every row of an
    *               earlier bucket must order before every row of a later
    *               one, so the cross-boundary lead is exactly the next
    *               non-empty bucket's first value. (key, orderCol,
    *               tieCol) must be unique and `valueCol` non-null for
    *               the within/boundary split to be order-deterministic.
    * @param out    name of the added lead column.
    */
  def chunkedLead(df: DataFrame, keyCol: String, orderCol: String, tieCol: String,
                  valueCol: String, bucket: Column, out: String): DataFrame = {
    val taken = Set("__graft_bucket", "__graft_within", "__graft_next_first", out)
    val clash = df.columns.filter(taken)
    require(clash.isEmpty,
      s"chunkedLead: input columns clash with internal/output names: ${clash.mkString(", ")}")
    val b = df.withColumn("__graft_bucket", bucket)
    val within = Window.partitionBy(col(keyCol), col("__graft_bucket"))
      .orderBy(col(orderCol), col(tieCol))
    val led = b.withColumn("__graft_within", lead(col(valueCol), 1).over(within))
    // per-(key, bucket) first value in order; the stitch window below runs
    // over THIS frame — one row per (key, bucket), bounded however hot the
    // key is
    val firsts = b.groupBy(col(keyCol), col("__graft_bucket"))
      .agg(min_by(col(valueCol), struct(col(orderCol), col(tieCol))).as("__graft_first"))
    val nextFirst = firsts
      .withColumn("__graft_next_first",
        lead(col("__graft_first"), 1)
          .over(Window.partitionBy(col(keyCol)).orderBy(col("__graft_bucket"))))
      .select(col(keyCol), col("__graft_bucket"), col("__graft_next_first"))
    // the join key (key, bucket) matches the within-window partitioning,
    // so the stitch join reuses that exchange on the big side
    led.join(nextFirst, Seq(keyCol, "__graft_bucket"), "left")
      .withColumn(out, coalesce(col("__graft_within"), col("__graft_next_first")))
      .drop("__graft_within", "__graft_next_first", "__graft_bucket")
  }
}
