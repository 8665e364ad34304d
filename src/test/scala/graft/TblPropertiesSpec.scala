package graft

import org.apache.spark.sql.functions._

/** TBLPROPERTIES contracts — versioned table metadata (Delta's shape):
  *
  *   - SET merges (new wins), UNSET removes and is loud on a never-set
  *     key, SHOW reads the head's record;
  *   - the record is carried forward by every commit and versioned like
  *     the schema record — a pinned version reads the map that governed
  *     IT, so properties time-travel;
  *   - CLONE copies the source's properties into the clone's v0;
  *   - the one engine-consumed property: `VACUUM t` without RETAIN reads
  *     'graft.retain.versions', loud when unset or non-integer.
  */
class TblPropertiesSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}

  private def freshOcc(name: String): (String, Map[String, TableSql.TableRef]) = {
    val base = scratch(s"props_$name")
    graft.util.Staging.deleteRecursive(base)
    spark.range(1000).select(col("id").as("k"), (col("id") % 7).cast("double").as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    (base, Map(name -> TableSql.TableRef(s"$base/data", s"$base/versions", "k")))
  }

  test("SET merges and versions; SHOW reads head; UNSET is loud on a missing key") {
    val (base, reg) = freshOcc("ptbl")
    TableSql(spark, reg,
      "ALTER TABLE ptbl SET TBLPROPERTIES ('team' = 'etl', 'graft.retain.versions' = '5')")
    TableSql(spark, reg, "ALTER TABLE ptbl SET TBLPROPERTIES ('team' = 'ml')")
    val shown = TableSql(spark, reg, "SHOW TBLPROPERTIES ptbl")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown == Map("team" -> "ml", "graft.retain.versions" -> "5"), shown.toString)
    // versioned: the pre-SET version reads empty, v1 reads the first map
    assert(VersionLog.propertiesAt(spark, s"$base/versions", 0).isEmpty)
    assert(VersionLog.propertiesAt(spark, s"$base/versions", 1)("team") == "etl")
    // carried forward by an unrelated content commit
    spark.range(1).select(lit(5000L).as("k"), lit(1.0).as("v"))
      .createOrReplaceTempView("props_ins")
    TableSql(spark, reg, "INSERT INTO ptbl SELECT * FROM props_ins")
    val head = VersionLog.head(spark, s"$base/versions")
    assert(VersionLog.propertiesAt(spark, s"$base/versions", head)("team") == "ml")
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, reg, "ALTER TABLE ptbl UNSET TBLPROPERTIES ('nope')")
    }
    assert(e.getMessage.contains("not set"), e.getMessage)
    TableSql(spark, reg, "ALTER TABLE ptbl UNSET TBLPROPERTIES ('team')")
    val after = TableSql(spark, reg, "SHOW TBLPROPERTIES ptbl")
      .collect().map(_.getString(0)).toSet
    assert(after == Set("graft.retain.versions"), after.toString)
  }

  test("VACUUM without RETAIN consumes the retention property; loud when absent/garbage") {
    val (base, reg) = freshOcc("vtbl")
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, reg, "VACUUM vtbl")
    }
    assert(e.getMessage.contains(TableSql.RetainProperty), e.getMessage)
    TableSql(spark, reg,
      s"ALTER TABLE vtbl SET TBLPROPERTIES ('${TableSql.RetainProperty}' = 'soon')")
    val e2 = intercept[IllegalArgumentException] {
      TableSql(spark, reg, "VACUUM vtbl")
    }
    assert(e2.getMessage.contains("integer"), e2.getMessage)
    TableSql(spark, reg,
      s"ALTER TABLE vtbl SET TBLPROPERTIES ('${TableSql.RetainProperty}' = '50')")
    val res = TableSql(spark, reg, "VACUUM vtbl").collect().head
    assert(res.getLong(2) == 50L, res.toString) // retained_versions echoes the property
    // the property-driven vacuum is a REAL vacuum: retention 50 over a
    // 3-version log keeps everything
    assert(VersionLog.head(spark, s"$base/versions") >= 2)
  }

  test("CLONE copies properties into the clone's v0") {
    val (base, reg) = freshOcc("ctbl")
    TableSql(spark, reg, "ALTER TABLE ctbl SET TBLPROPERTIES ('origin' = 'prod')")
    val cloneDir = s"$base/clone"
    TableSql(spark, reg, s"CLONE ctbl TO '$cloneDir'")
    assert(VersionLog.propertiesAt(spark, s"$cloneDir", 0)("origin") == "prod")
  }
}
