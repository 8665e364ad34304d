package graft

import org.apache.spark.sql.functions._

/** UPDATE … SET … WHERE contracts (round 15) — the row-level mutation
  * verb between MERGE and DELETE:
  *
  *   - in-range rows get the assignments, out-of-range rows in
  *     overlapping files ride along byte-identical, untouched files are
  *     never rewritten;
  *   - the clustering key is not assignable (re-keying moves rows across
  *     the range layout), unknown SET targets reject loudly, a zero-hit
  *     range commits nothing;
  *   - composed with deletion vectors: the update reads DV-applied
  *     (deleted rows neither update nor resurrect) and materializes its
  *     files' vectors;
  *   - OCC: an update racing a content commit in its band aborts (the
  *     delete's composition contract);
  *   - SQL: nested-comma expressions split correctly in the SET list.
  */
class UpdateRangeSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"),
      concat(lit("t"), (col("id") % 7).cast("string")).as("tag"))

  private def freshOcc(name: String): String = {
    val base = scratch(s"upd_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 4000).repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    base
  }

  test("in-range rows update, straddlers ride along, untouched files survive; rejections loud") {
    val base = freshOcc("basic")
    val before = VersionLog.manifestAt(spark, s"$base/versions", 0)
      .select("file").collect().map(_.getString(0)).toSet
    val (v1, n, files) = FileSkipping.updateRangeOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(1000), lit(1499),
      Seq("v" -> (col("v") + 1000.0), "tag" -> lit("UPD")), "u1")
    assert(n == 500L && files < before.size)
    val after = VersionLog.manifestAt(spark, s"$base/versions", v1)
      .select("file").collect().map(_.getString(0)).toSet
    assert((before & after).nonEmpty, "untouched files must survive by identity")
    val head = VersionLog.readVersion(spark, s"$base/versions", v1)
    assert(head.count() == 4000)
    assert(head.filter(col("k").between(1000, 1499))
      .filter(col("tag") === "UPD" && col("v") >= 1000.0).count() == 500)
    assert(head.filter(!col("k").between(1000, 1499))
      .filter(col("tag") === "UPD").count() == 0)
    // rejections: key assignment, unknown column, zero-hit no-commit
    val e1 = intercept[IllegalArgumentException] {
      FileSkipping.updateRangeOcc(spark, s"$base/data", s"$base/versions",
        "k", lit(0), lit(10), Seq("k" -> lit(99L)), "u2")
    }
    assert(e1.getMessage.contains("clustering key"))
    val e2 = intercept[IllegalArgumentException] {
      FileSkipping.updateRangeOcc(spark, s"$base/data", s"$base/versions",
        "k", lit(0), lit(10), Seq("nope" -> lit(1)), "u3")
    }
    assert(e2.getMessage.contains("unknown column"))
    val (v0, zn, zf) = FileSkipping.updateRangeOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(90000), lit(99000), Seq("v" -> lit(0.0)), "u4")
    assert(v0 == v1 && zn == 0L && zf == 0)
    assert(VersionLog.head(spark, s"$base/versions") == v1)
  }

  test("UPDATE over deletion vectors: no resurrect, no update of deleted rows, DVs materialize") {
    val base = freshOcc("dv")
    val (v1, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(1100), lit(1199), "d1")
    val (v2, n, _) = FileSkipping.updateRangeOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(1000), lit(1299),
      Seq("tag" -> lit("UPD")), "u1")
    assert(n == 200L) // 300-key range minus the 100 deleted
    val head = VersionLog.readVersion(spark, s"$base/versions", v2)
    assert(head.filter(col("k").between(1100, 1199)).count() == 0)
    assert(head.filter(col("tag") === "UPD").count() == 200)
    // the update's rewrite materialized the touched files' vectors
    val man = VersionLog.manifestAt(spark, s"$base/versions", v2)
    assert(!man.columns.contains("dv_file") ||
      man.filter(col("dv_file").isNotNull).isEmpty)
    assert(v1 == 1 && v2 == 2)
  }

  test("OCC: update racing a band-overlapping merge aborts; SQL SET list splits nested commas") {
    val base = freshOcc("race")
    val pin = VersionLog.begin(spark, s"$base/versions")
    FileSkipping.mergeKeyedOcc(spark, s"$base/data", s"$base/versions", "k",
      spark.range(1200, 1201).select(col("id").as("k"), lit(-5.0).as("v"),
        lit("m").as("tag")), "m1")
    intercept[java.util.ConcurrentModificationException] {
      FileSkipping.updateRangeOcc(spark, s"$base/data", s"$base/versions",
        "k", lit(1000), lit(1499), Seq("tag" -> lit("UPD")), "u1",
        pinned = Some(pin))
    }
    // SQL path: nested commas (greatest(v, 10, 20)) and a literal comma
    val reg = Map("ut" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    val m = TableSql(spark, reg,
      "UPDATE ut SET v = greatest(v, 10, 20), tag = 'a,b' " +
        "WHERE k BETWEEN 0 AND 9").head()
    assert(m.getAs[Long]("rows_updated") == 10L)
    val got = TableSql(spark, reg,
      "SELECT min(v) AS mv, min(tag) AS mt FROM ut WHERE k BETWEEN 0 AND 9").head()
    assert(got.getDouble(0) == 20.0 && got.getString(1) == "a,b")
  }
}
