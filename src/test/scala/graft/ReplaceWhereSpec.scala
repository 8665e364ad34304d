package graft

import org.apache.spark.sql.functions._

/** INSERT OVERWRITE … WHERE (replaceWhere) contracts — the atomic
  * range-swap verb (Delta's `replaceWhere`):
  *
  *   - ONE commit retires the slice and lands the replacement: readers
  *     pinned to any version see whole-old or whole-new, never a
  *     sliceless intermediate;
  *   - fully-covered files retire without being read, boundary files
  *     rewrite their out-of-range survivors by content, untouched files
  *     survive by identity;
  *   - a replacement row outside the range rejects LOUDLY before any
  *     state changes (Delta's replaceWhere contract);
  *   - CDC carries delete ops for the displaced rows and insert ops for
  *     the replacements in one commit-tied slot;
  *   - schema divergence and CHECK-constraint violations reject;
  *   - OCC: a stale pin (racer committed in the band) aborts;
  *   - SQL: the INSERT OVERWRITE statement routes here, range on the
  *     clustering key only.
  */
class ReplaceWhereSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"),
      concat(lit("t"), (col("id") % 7).cast("string")).as("tag"))

  private def freshOcc(name: String): String = {
    val base = scratch(s"rw_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 4000).repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    base
  }

  private def replacement(lo: Long, hi: Long, step: Long = 2) =
    spark.range(lo, hi + 1, step).select(col("id").as("k"),
      lit(-1.0).as("v"), lit("RW").as("tag"))

  test("atomic slice swap: full files retire, straddlers rewrite, untouched survive") {
    val base = freshOcc("basic")
    val before = VersionLog.manifestAt(spark, s"$base/versions", 0)
      .select("file").collect().map(_.getString(0)).toSet
    val (v1, retired, rewritten, written) = FileSkipping.replaceWhereOcc(spark,
      s"$base/data", s"$base/versions", "k", replacement(1000, 1999),
      lit(1000), lit(1999), "rw1")
    assert(v1 == 1 && written > 0, s"v=$v1 written=$written")
    // 8 files over 0..4000 → the [1000,1999] slice covers ~2 files; at
    // least one retires outright and boundary rewrites stay bounded
    assert(retired + rewritten >= 1 && retired + rewritten <= 4,
      s"victims out of range: retired=$retired rewritten=$rewritten")
    val after = VersionLog.manifestAt(spark, s"$base/versions", v1)
      .select("file").collect().map(_.getString(0)).toSet
    assert((before & after).nonEmpty, "untouched files must survive by identity")
    val head = VersionLog.readVersion(spark, s"$base/versions", v1)
    assert(head.count() == 4000 - 1000 + 500, head.count().toString)
    assert(head.filter(col("k").between(1000, 1999)).count() == 500)
    assert(head.filter(col("k").between(1000, 1999))
      .filter(col("tag") =!= "RW" || col("v") =!= -1.0).count() == 0,
      "every in-range row must be a replacement row")
    assert(head.filter(!col("k").between(1000, 1999))
      .filter(col("tag") === "RW").count() == 0)
    // time travel: v0 still reads the original slice
    assert(VersionLog.readVersion(spark, s"$base/versions", 0)
      .filter(col("k").between(1000, 1999)).count() == 1000)
  }

  test("stray replacement row rejects loudly before any commit") {
    val base = freshOcc("stray")
    val e = intercept[IllegalArgumentException] {
      FileSkipping.replaceWhereOcc(spark, s"$base/data", s"$base/versions",
        "k", replacement(1000, 2500), lit(1000), lit(1999), "rw2")
    }
    assert(e.getMessage.contains("outside the replaced range"), e.getMessage)
    assert(VersionLog.head(spark, s"$base/versions") == 0, "nothing may commit")
    // null keys are out of range by definition
    val e2 = intercept[IllegalArgumentException] {
      FileSkipping.replaceWhereOcc(spark, s"$base/data", s"$base/versions",
        "k", replacement(1000, 1999).withColumn("k",
          when(col("k") === 1000L, lit(null).cast("long")).otherwise(col("k"))),
        lit(1000), lit(1999), "rw3")
    }
    assert(e2.getMessage.contains("outside the replaced range"), e2.getMessage)
  }

  test("empty prior range commits as a guarded append; schema divergence rejects") {
    val base = freshOcc("empty")
    val (v1, retired, rewritten, written) = FileSkipping.replaceWhereOcc(spark,
      s"$base/data", s"$base/versions", "k", replacement(9000, 9099, 1),
      lit(9000), lit(9099), "rw4")
    assert(v1 == 1 && retired == 0 && rewritten == 0 && written > 0)
    assert(VersionLog.readVersion(spark, s"$base/versions", v1).count() == 4100)
    val e = intercept[IllegalArgumentException] {
      FileSkipping.replaceWhereOcc(spark, s"$base/data", s"$base/versions",
        "k", replacement(0, 9).drop("tag"), lit(0), lit(9), "rw5")
    }
    assert(e.getMessage.contains("diverges"), e.getMessage)
  }

  test("CDC: delete ops for displaced rows, insert ops for replacements, one commit") {
    val base = freshOcc("cdc")
    val cdc = s"$base/cdc"
    val (v1, _, _, _) = FileSkipping.replaceWhereOcc(spark, s"$base/data",
      s"$base/versions", "k", replacement(100, 299), lit(100), lit(299), "rw6",
      cdcDir = Some(cdc))
    val feed = FileSkipping.readCommittedFeeds(spark, cdc)
    assert(feed.filter(col("op") === "delete").count() == 200)
    assert(feed.filter(col("op") === "insert").count() == 100)
    assert(feed.filter(col("op") === "insert")
      .filter(col("tag") =!= "RW").count() == 0)
    assert(v1 == 1)
  }

  test("CHECK constraints veto bad replacement rows") {
    val base = freshOcc("check")
    FileSkipping.alterAddConstraint(spark, s"$base/versions", "v_floor", "v >= -1.0")
    val e = intercept[IllegalArgumentException] {
      FileSkipping.replaceWhereOcc(spark, s"$base/data", s"$base/versions",
        "k", replacement(0, 9).withColumn("v", lit(-5.0)), lit(0), lit(9), "rw7")
    }
    assert(e.getMessage.contains("v_floor"), e.getMessage)
  }

  test("OCC: a stale pin aborts when a racer committed in the band") {
    val base = freshOcc("race")
    val pin = VersionLog.begin(spark, s"$base/versions")
    // racer lands a content commit overlapping the slice
    FileSkipping.mergeKeyedOcc(spark, s"$base/data", s"$base/versions", "k",
      rows(1100, 1105).withColumn("tag", lit("RACER")), "racer")
    intercept[java.util.ConcurrentModificationException] {
      FileSkipping.replaceWhereOcc(spark, s"$base/data", s"$base/versions",
        "k", replacement(1000, 1999), lit(1000), lit(1999), "rw8",
        pinned = Some(pin))
    }
  }

  test("SQL: INSERT OVERWRITE … WHERE routes here; wrong key and non-OCC reject") {
    val base = freshOcc("sql")
    val reg = Map("rwtbl" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    replacement(500, 599, 1).createOrReplaceTempView("rw_src")
    val res = TableSql(spark, reg,
      "INSERT OVERWRITE rwtbl WHERE k BETWEEN 500 AND 599 SELECT * FROM rw_src")
      .collect().head
    assert(res.getLong(0) == 1L, res.toString)
    val head = VersionLog.readVersion(spark, s"$base/versions", 1)
    assert(head.filter(col("k").between(500, 599)).count() == 100)
    assert(head.filter(col("k").between(500, 599))
      .filter(col("tag") =!= "RW").count() == 0)
    assert(head.count() == 4000) // 100-key slice swapped for 100 replacement rows
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, reg,
        "INSERT OVERWRITE rwtbl WHERE v BETWEEN 1 AND 2 SELECT * FROM rw_src")
    }
    assert(e.getMessage.contains("clustering key"), e.getMessage)
    // every table is an OCC table: one registered over a log with no
    // committed version rejects before anything lands
    val unloggedReg = Map("plaintbl" -> TableSql.TableRef(s"$base/data", s"$base/nolog", "k"))
    val e2 = intercept[IllegalArgumentException] {
      TableSql(spark, unloggedReg,
        "INSERT OVERWRITE plaintbl WHERE k BETWEEN 1 AND 2 SELECT * FROM rw_src")
    }
    assert(e2.getMessage.contains("no committed version"), e2.getMessage)
    assert(!new java.io.File(s"$base/nolog/v0").exists())
  }
}
