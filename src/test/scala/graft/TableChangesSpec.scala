package graft

import org.apache.spark.sql.functions._

/** TABLE_CHANGES (CDF read verb) contracts — round 15:
  *
  *   - change rows come back with their `_commit_version`, attribution
  *     exact per slot; versions with no feed slot contribute nothing;
  *   - an empty window over a live feed is a typed empty frame, not an
  *     error — but a window reaching at or below the feed vacuum cutoff
  *     refuses loudly (slots physically gone — no silent partial), and a
  *     window covering a pending intent (committed-but-unstamped
  *     transaction) refuses loudly too;
  *   - INSERT commits now emit op="insert" feed rows (Delta's CDF records
  *     appends), tied to the commit's fate: an aborted append's feed slot
  *     is deleted with the claim;
  *   - the SQL splice binds off the masked statement: a quoted literal
  *     containing the TABLE_CHANGES phrase survives verbatim.
  */
class TableChangesSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"))

  private def freshOcc(name: String): String = {
    val base = scratch(s"tc_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 2000).repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    base
  }

  test("per-version attribution, empty window, insert feeds, literal masking") {
    val base = freshOcc("attr")
    val cdc = s"$base/cdc"
    val reg = Map("ct" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k", cdcDir = Some(cdc)))
    // v1: INSERT (append feed), v2: MERGE (pre/post/insert), v3: DELETE
    spark.range(5000, 5020).select(col("id").as("k"), lit(1.5).as("v"))
      .createOrReplaceTempView("tc_ins")
    TableSql(spark, reg, "INSERT INTO ct SELECT * FROM tc_ins")
    spark.range(10, 15).select(col("id").as("k"), lit(-2.0).as("v"))
      .createOrReplaceTempView("tc_up")
    TableSql(spark, reg, "MERGE INTO ct USING tc_up ON ct.k = tc_up.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    TableSql(spark, reg, "DELETE FROM ct WHERE k BETWEEN 100 AND 109")
    val tc = FileSkipping.readTableChanges(spark, cdc, 1, 3)
    val byVer = tc.groupBy("_commit_version", "op").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byVer == Map((1L, "insert") -> 20L,
      (2L, "update_preimage") -> 5L, (2L, "update_postimage") -> 5L,
      (3L, "delete") -> 10L))
    // narrowed window through SQL, default-to-head
    val n23 = TableSql(spark, reg,
      "SELECT COUNT(*) AS n FROM TABLE_CHANGES(ct, 2)").head().getLong(0)
    assert(n23 == 20L)
    // empty window above head: typed empty frame with the version column
    val empty = FileSkipping.readTableChanges(spark, cdc, 4, 9)
    assert(empty.columns.contains("_commit_version") && empty.isEmpty)
    // a quoted literal containing the phrase binds and rewrites NOTHING
    val lit1 = TableSql(spark, reg,
      "SELECT 'TABLE_CHANGES(ct, 1)' AS s").head().getString(0)
    assert(lit1 == "TABLE_CHANGES(ct, 1)")
  }

  test("vacuumed and unstamped windows refuse loudly; aborted append leaves no feed") {
    val base = freshOcc("refuse")
    val cdc = s"$base/cdc"
    val vdir = s"$base/versions"
    FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      spark.range(10, 12).select(col("id").as("k"), lit(-1.0).as("v")),
      "m1", cdcDir = Some(cdc)) // v1
    FileSkipping.deleteRangeOcc(spark, s"$base/data", vdir, "k",
      lit(500), lit(509), "d1", cdcDir = Some(cdc)) // v2
    // aborted append: pinned at v0, band overlapping v1's merge → abort;
    // its feed slot must die with the claim (no phantom changes)
    val pin0 = (0, VersionLog.manifestAt(spark, vdir, 0))
    intercept[java.util.ConcurrentModificationException] {
      FileSkipping.appendOcc(
        spark.range(10, 11).select(col("id").as("k"), lit(9.0).as("v")),
        s"$base/data", vdir, "k", "a1", pinned = Some(pin0), cdcDir = Some(cdc))
    }
    assert(FileSkipping.readTableChanges(spark, cdc, 1, 99).count() == 14L)
    // pending intent inside the window blocks it; outside does not
    val fs = new org.apache.hadoop.fs.Path(cdc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$cdc/_INTENT_v3"), true).close()
    val e = intercept[IllegalArgumentException] {
      FileSkipping.readTableChanges(spark, cdc, 1, 3)
    }
    assert(e.getMessage.contains("unstamped"))
    assert(FileSkipping.readTableChanges(spark, cdc, 1, 2).count() == 14L)
    fs.delete(new org.apache.hadoop.fs.Path(s"$cdc/_INTENT_v3"), false)
    // feed vacuum through v1: a window reaching v1 refuses, above is exact
    FileSkipping.vacuumFeeds(spark, cdc, consumedThrough = 1,
      versionsDir = Some(vdir))
    val e2 = intercept[IllegalArgumentException] {
      FileSkipping.readTableChanges(spark, cdc, 1, 2)
    }
    assert(e2.getMessage.contains("vacuum"))
    assert(FileSkipping.readTableChanges(spark, cdc, 2, 2).count() == 10L)
  }
}
