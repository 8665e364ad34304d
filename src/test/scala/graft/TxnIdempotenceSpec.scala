package graft

import org.apache.spark.sql.functions._

/** Idempotent-writer contracts (round 15) — Delta's txnAppId/txnVersion
  * (SetTransaction):
  *
  *   - a mutation tagged (appId, txnVersion) at or below the log's
  *     recorded watermark for that appId is a NO-OP returning success —
  *     the crash-retried batch job's exactly-once;
  *   - the guarantee is exact under races: two same-(app, ver) writers
  *     from one pin both pass the cheap pre-check, but the under-claim
  *     recheck lets exactly one apply (the loser returns success, never
  *     double-applies, and leaves no feed slot);
  *   - watermarks are per-appId (independent apps compose) and carried
  *     forward by untagged commits;
  *   - all five row mutators honor the tag.
  */
class TxnIdempotenceSpec extends SparkSpec {
  import graft.io.{FileSkipping, VersionLog}

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"))

  private def freshOcc(name: String): String = {
    val base = scratch(s"txn_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 2000).repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    base
  }

  test("replay is a no-op; versions advance per app; untagged commits carry the watermark") {
    val base = freshOcc("replay")
    val vdir = s"$base/versions"
    val delta = spark.range(10, 11).select(col("id").as("k"), lit(111.0).as("v"))
    val v1 = FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      delta, "m1", txn = Some(("etl", 1L)))
    assert(v1 == 1)
    // replay: same tag, fresh attempt — no-op, head unmoved
    val v1b = FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      delta.withColumn("v", lit(-999.0)), "m1retry", txn = Some(("etl", 1L)))
    assert(v1b == 1 && VersionLog.head(spark, vdir) == 1)
    assert(VersionLog.readVersion(spark, vdir, 1)
      .filter(col("k") === 10).head().getDouble(1) == 111.0)
    // next version applies; a LOWER replay after it is still a no-op
    val v2 = FileSkipping.appendOcc(
      spark.range(9000, 9001).select(col("id").as("k"), lit(1.0).as("v")),
      s"$base/data", vdir, "k", "a2", txn = Some(("etl", 2L)))
    assert(v2 == 2)
    assert(FileSkipping.deleteRangeOcc(spark, s"$base/data", vdir, "k",
      lit(0), lit(5), "d1", txn = Some(("etl", 1L)))._2 == 0)
    assert(VersionLog.head(spark, vdir) == 2)
    // independent appId unaffected by etl's watermark
    val v3 = FileSkipping.deleteRangeOcc(spark, s"$base/data", vdir, "k",
      lit(0), lit(5), "d2", txn = Some(("other", 1L)))._1
    assert(v3 == 3)
    // untagged commit carries both watermarks forward
    FileSkipping.appendOcc(
      spark.range(9100, 9101).select(col("id").as("k"), lit(1.0).as("v")),
      s"$base/data", vdir, "k", "a3")
    assert(VersionLog.txnsAt(spark, vdir, 4) == Map("etl" -> 2L, "other" -> 1L))
    // update and DV-delete honor the tag too
    assert(FileSkipping.updateRangeOcc(spark, s"$base/data", vdir, "k",
      lit(100), lit(110), Seq("v" -> lit(0.0)), "u1", txn = Some(("etl", 2L)))._2 == 0L)
    assert(FileSkipping.deleteRangeDvOcc(spark, s"$base/data", vdir, "k",
      lit(100), lit(110), "dv1", txn = Some(("other", 1L)))._2 == 0L)
    assert(VersionLog.head(spark, vdir) == 4)
  }

  test("same-(app,ver) race: exactly one applies, loser succeeds without a feed slot") {
    val base = freshOcc("race")
    val vdir = s"$base/versions"
    val cdc = s"$base/cdc"
    val pin = VersionLog.begin(spark, vdir)
    val delta = spark.range(20, 22).select(col("id").as("k"), lit(5.0).as("v"))
    val v1 = FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      delta, "w1", cdcDir = Some(cdc), txn = Some(("job", 7L)))
    assert(v1 == 1)
    // second writer raced from the same pin: its pre-check saw nothing,
    // the under-claim recheck fires — success, no second version, and
    // its feed slot is deleted with the abort path
    val v1b = FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      delta.withColumn("v", lit(-1.0)), "w2", pinned = Some(pin),
      cdcDir = Some(cdc), txn = Some(("job", 7L)))
    assert(v1b == 1 && VersionLog.head(spark, vdir) == 1)
    assert(VersionLog.readVersion(spark, vdir, 1)
      .filter(col("k") === 20).head().getDouble(1) == 5.0)
    val feed = FileSkipping.readCommittedFeeds(spark, cdc)
    assert(feed.count() == 4) // w1's 2 keys × pre/post images — exactly once
    assert(!new java.io.File(s"$cdc/txn-w2").exists,
      "the replayed attempt's feed slot must die with its abort")
  }
}
