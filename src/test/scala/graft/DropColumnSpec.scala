package graft

import org.apache.spark.sql.functions._

/** ALTER TABLE … DROP COLUMN contracts (round 15) — the logical drop:
  *
  *   - zero data IO: the commit records schema-minus-column, head reads
  *     project it away, pinned pre-drop versions keep it (time travel);
  *   - post-drop mutations speak the narrowed schema (a MERGE delta
  *     carrying the dropped column now rejects as divergent);
  *   - guards: the clustering key is not droppable, a column referenced
  *     by a CHECK constraint is not droppable (drop the constraint
  *     first), unknown columns reject;
  *   - the re-add hazard fails LOUDLY: re-adding a dropped name with an
  *     incompatible type makes pre-drop files unreadable at scan — an
  *     error, never silent coercion (OPTIMIZE between drop and re-add
  *     retires the old bytes and the same read succeeds).
  */
class DropColumnSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}

  private def freshOcc(name: String): String = {
    val base = scratch(s"dropc_$name")
    graft.util.Staging.deleteRecursive(base)
    spark.range(0, 2000).select(col("id").as("k"),
        (col("id") % 97).cast("double").as("v"),
        concat(lit("t"), (col("id") % 7).cast("string")).as("tag"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    base
  }

  test("logical drop: head narrows, time travel keeps, mutations speak the new schema, guards") {
    val base = freshOcc("basic")
    val vdir = s"$base/versions"
    val v1 = FileSkipping.alterDropColumn(spark, vdir, "k", "tag")
    assert(VersionLog.readVersion(spark, vdir, v1).columns.toSeq == Seq("k", "v"))
    assert(VersionLog.readVersion(spark, vdir, 0).columns.contains("tag"))
    // post-drop merge with the narrowed schema lands; with the dropped
    // column it rejects as divergent
    FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      spark.range(10, 11).select(col("id").as("k"), lit(9999.5).as("v")), "m1")
    intercept[IllegalArgumentException] {
      FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
        spark.range(11, 12).select(col("id").as("k"), lit(9999.5).as("v"),
          lit("x").as("tag")), "m2")
    }
    assert(VersionLog.readVersion(spark, vdir, VersionLog.head(spark, vdir))
      .filter(col("v") === 9999.5).count() == 1)
    // guards
    intercept[IllegalArgumentException] {
      FileSkipping.alterDropColumn(spark, vdir, "k", "k")
    }
    intercept[IllegalArgumentException] {
      FileSkipping.alterDropColumn(spark, vdir, "k", "nope")
    }
    FileSkipping.alterAddConstraint(spark, vdir, "v_nonneg", "v >= 0")
    val e = intercept[IllegalArgumentException] {
      FileSkipping.alterDropColumn(spark, vdir, "k", "v")
    }
    assert(e.getMessage.contains("v_nonneg"))
  }

  test("re-add with incompatible type fails loudly at scan; OPTIMIZE retires the hazard") {
    // "injected" in the scratch path marks the EXPECTED scan-task
    // failures for TaskFailureAudit (the loud type mismatch IS the test)
    val base = freshOcc("readd_injected")
    val vdir = s"$base/versions"
    FileSkipping.alterDropColumn(spark, vdir, "k", "tag") // v1
    FileSkipping.alterAddColumn(spark, vdir, "tag",
      org.apache.spark.sql.types.IntegerType) // v2 — same name, new type
    // pre-drop files physically carry STRING 'tag'; reading them under
    // the INT record must be a loud scan error, never silent garbage
    intercept[Exception] {
      VersionLog.readVersion(spark, vdir, 2).select("tag").collect()
    }
    // a full rewrite from the narrowed schema retires the old bytes...
    val base2 = freshOcc("readd2_clean")
    val vdir2 = s"$base2/versions"
    FileSkipping.alterDropColumn(spark, vdir2, "k", "tag") // v1
    FileSkipping.compactSmallOcc(spark, s"$base2/data", vdir2, "k",
      smallBytes = Long.MaxValue, targetBytes = 512L * 1024, txnId = "opt") // v2
    FileSkipping.alterAddColumn(spark, vdir2, "tag",
      org.apache.spark.sql.types.IntegerType) // v3
    // ...and the same read now succeeds, null-filled
    val got = VersionLog.readVersion(spark, vdir2, 3)
    assert(got.filter(col("tag").isNull).count() == 2000)
  }

  test("SQL verb") {
    val base = freshOcc("sql")
    val reg = Map("dc" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    val m = TableSql(spark, reg, "ALTER TABLE dc DROP COLUMN tag").head()
    assert(m.getAs[String]("column_dropped") == "tag")
    assert(TableSql(spark, reg, "SELECT * FROM dc").columns.toSeq == Seq("k", "v"))
    assert(TableSql(spark, reg, "SELECT * FROM dc VERSION AS OF 0").columns.length == 3)
  }
}
