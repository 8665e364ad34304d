package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale patterns for hostile data distributions (SURVEY §4 / task brief):
  * key salting for skewed joins and bucketed tables for shuffle-free
  * co-located joins. Results are always identical to the plain join —
  * these ops only change the physical distribution of work.
  */
object Scale {

  /** Skew-salted equi-join: the skewed (big) side gets a random salt in
    * [0, saltFactor); the small side is replicated `saltFactor`× with every
    * salt value; the join key becomes (keys..., salt). A hot key's rows now
    * spread over `saltFactor` reducers instead of one. The salt is
    * `rand()`-based — membership of a row in a salt bucket is
    * nondeterministic, but the JOIN RESULT is provably invariant, which is
    * what the oracle checks. AQE's skew-join handles moderate skew
    * automatically; explicit salting is for the pathological keys AQE's
    * split thresholds miss.
    */
  def saltedJoin(skewed: DataFrame, small: DataFrame, keys: Seq[String],
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    // replicating the small side breaks right/full-outer semantics (every
    // unmatched small-side row would surface saltFactor times), so only
    // join types whose result is provably salt-invariant are allowed
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left_outer/left_semi/left_anti, got $joinType")
    val saltedBig = skewed.withColumn("__salt", (rand(42) * saltFactor).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig.join(saltedSmall, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Write a table bucketed (and sorted) by join key: joins between tables
    * bucketed the same way need no shuffle and no sort — each bucket pair
    * joins independently. The 100 TB pattern for repeatedly-joined fact
    * tables. Uses the session catalog (`saveAsTable`; bucketing metadata
    * does not survive plain `.parquet` paths). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, key: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", graft.util.Staging.scratch(s"bucketed_$table"))
      .saveAsTable(table)

  def readTable(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** A10 — memory-footprint-driven partitioning (the reference's explicit
    * 64 MB rule, `functions/dask_pipeline.py:41`, `data/brca_undersample
    * .py:20-21`): repartition `df` so each partition holds ~`targetBytes`
    * of IN-MEMORY row data. Spark sizes SCAN partitions from file bytes
    * (`spark.sql.files.maxPartitionBytes`) and post-shuffle partitions via
    * AQE, but mid-pipeline DataFrames that are about to be persisted or
    * iterated (the wide-matrix case) still need an explicit row-footprint
    * repartition — compressed parquet bytes under-estimate in-memory arrays
    * ~5–10×.
    *
    * The footprint is estimated from a driver-side sample of `sampleRows`
    * rows (UnsafeRow sizes), one small job; the repartition itself is one
    * round-robin shuffle. Returns the repartitioned frame and the chosen
    * partition count. */
  /** Spread a small-scan DataFrame across all cores before CPU-heavy
    * map-side work. The local test tables are single-row-group parquet
    * files — ONE scan split no matter what `maxPartitionBytes` says — so
    * without this every sketch/fit/score pass downstream of the scan runs
    * on one core; on a real cluster the scan already has ≥ parallelism
    * splits and this is a no-op. The round-robin shuffle is tiny relative
    * to the math it unlocks. Only order-insensitive aggregates belong
    * downstream (the engine's decimal sums/exact percentiles are; GK
    * sketches may shift within their rank-error contract, which the q28
    * tolerance oracle absorbs). */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def repartitionToBytes(df: DataFrame, targetBytes: Long,
                         samplePerPartition: Int = 64): (DataFrame, Int) = {
    // ONE job over the full input: count every row, and size the head of
    // EVERY partition. The former `limit(n)` sample drew all n rows from
    // one partition — a source clustered by row size (variable-length
    // text/arrays sorted or partitioned by length) biased the estimate —
    // and `df.count()` added a second full pass; per-partition heads cover
    // the key space and ride along with the count for free.
    val stats = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var bytes = 0L; var k = 0L
      it.foreach { r =>
        n += 1
        if (k < samplePerPartition) {
          bytes += (r match {
            case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.getSizeInBytes.toLong
            case other => other.numFields * 8L // non-unsafe fallback: field-count floor
          })
          k += 1
        }
      }
      Iterator.single((n, bytes, k))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    val (rows, sampledBytes, sampledRows) = stats
    require(rows > 0, "cannot size an empty DataFrame")
    val avgRow = sampledBytes.toDouble / sampledRows
    val parts = math.max(1, math.ceil(rows * avgRow / targetBytes).toInt)
    (df.repartition(parts), parts)
  }
}
