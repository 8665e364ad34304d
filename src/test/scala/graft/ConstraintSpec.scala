package graft

import org.apache.spark.sql.functions._

/** CHECK-constraint contracts (round 15) — Delta's ADD CONSTRAINT:
  *
  *   - ADD validates every EXISTING row first (the one full scan) and
  *     refuses when violated; from then on every row-adding mutation
  *     (append, MERGE delta, UPDATE assignments, stream ingest batch)
  *     enforces the set its pinned version records, loudly naming the
  *     constraint and an offending row;
  *   - SQL CHECK null semantics: NULL passes, FALSE violates;
  *   - the record is carried forward by unrelated commits and is
  *     revision-bumped by ADD/DROP;
  *   - OCC: a writer whose pin predates a concurrent constraint change
  *     aborts at commit (it enforced a stale set), and a constraint
  *     change aborts when ANY commit lands under it (its validation scan
  *     went stale) — both retryable;
  *   - DROP re-admits previously-violating rows.
  */
class ConstraintSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"))

  private def freshOcc(name: String): String = {
    val base = scratch(s"cons_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 2000).repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    base
  }

  test("lifecycle: add validates existing, mutations enforce, nulls pass, drop re-admits") {
    val base = freshOcc("life")
    val vdir = s"$base/versions"
    // existing data violates → refused, nothing committed
    val e0 = intercept[IllegalArgumentException] {
      FileSkipping.alterAddConstraint(spark, vdir, "v_big", "v > 50")
    }
    assert(e0.getMessage.contains("existing row"))
    assert(VersionLog.head(spark, vdir) == 0)
    // a satisfiable check lands as a schema-only commit
    val v1 = FileSkipping.alterAddConstraint(spark, vdir, "v_nonneg", "v >= 0")
    assert(v1 == 1)
    assert(VersionLog.constraintsAt(spark, vdir, 1) == (1, Map("v_nonneg" -> "v >= 0")))
    // append enforcement: violating batch refused, nothing lands
    val e1 = intercept[IllegalArgumentException] {
      FileSkipping.appendOcc(
        spark.range(9000, 9002).select(col("id").as("k"), lit(-1.0).as("v")),
        s"$base/data", vdir, "k", "a1")
    }
    assert(e1.getMessage.contains("v_nonneg"))
    assert(VersionLog.head(spark, vdir) == 1)
    // NULL passes (SQL CHECK semantics)
    val v2 = FileSkipping.appendOcc(
      spark.range(9000, 9001).select(col("id").as("k"),
        lit(null).cast("double").as("v")),
      s"$base/data", vdir, "k", "a2")
    assert(v2 == 2)
    // MERGE delta enforcement
    intercept[IllegalArgumentException] {
      FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
        spark.range(5, 6).select(col("id").as("k"), lit(-9.0).as("v")), "m1")
    }
    // UPDATE assignment enforcement
    intercept[IllegalArgumentException] {
      FileSkipping.updateRangeOcc(spark, s"$base/data", vdir, "k",
        lit(0), lit(10), Seq("v" -> lit(-3.0)), "u1")
    }
    // ingest batch enforcement
    intercept[IllegalArgumentException] {
      FileSkipping.ingestBatchOcc(
        spark.range(9500, 9501).select(col("id").as("k"), lit(-2.0).as("v")),
        batchId = 0L, s"$base/data", "k", vdir)
    }
    assert(VersionLog.head(spark, vdir) == 2)
    // the record carries forward through an unrelated commit
    FileSkipping.appendOcc(
      spark.range(9600, 9601).select(col("id").as("k"), lit(5.0).as("v")),
      s"$base/data", vdir, "k", "a3") // v3
    assert(VersionLog.constraintsAt(spark, vdir, 3)._2.contains("v_nonneg"))
    // drop re-admits; revision bumped
    val v4 = FileSkipping.alterDropConstraint(spark, vdir, "v_nonneg")
    assert(VersionLog.constraintsAt(spark, vdir, v4) == (2, Map.empty))
    val v5 = FileSkipping.appendOcc(
      spark.range(9700, 9701).select(col("id").as("k"), lit(-1.0).as("v")),
      s"$base/data", vdir, "k", "a4")
    assert(VersionLog.readVersion(spark, vdir, v5).filter(col("v") === -1.0).count() == 1)
  }

  test("OCC: stale-constraint pins abort both ways") {
    val base = freshOcc("race")
    val vdir = s"$base/versions"
    // writer pinned BEFORE a constraint lands must abort at commit
    val pin = VersionLog.begin(spark, vdir)
    FileSkipping.alterAddConstraint(spark, vdir, "v_cap", "v < 1000") // v1
    val e = intercept[java.util.ConcurrentModificationException] {
      FileSkipping.appendOcc(
        spark.range(9000, 9001).select(col("id").as("k"), lit(5000.0).as("v")),
        s"$base/data", vdir, "k", "a1", pinned = Some(pin))
    }
    assert(e.getMessage.contains("constraint"))
    // the retry at head enforces the new set and refuses the bad row
    intercept[IllegalArgumentException] {
      FileSkipping.appendOcc(
        spark.range(9000, 9001).select(col("id").as("k"), lit(5000.0).as("v")),
        s"$base/data", vdir, "k", "a1b")
    }
    // a constraint change under which a commit lands must abort too:
    // simulate by bumping head between the change's pin and its commit —
    // alterAddConstraint pins internally, so race it with a real append
    // landing first via an explicit interleave: pin now, land an append,
    // then the pinned-constraint path hits the h != readVersion guard
    // (exercised through the public API by a second constraint add whose
    // internal pin is stale only under true concurrency; the guard
    // itself is unit-testable via commitRebase)
    val (rv, snap) = VersionLog.begin(spark, vdir)
    FileSkipping.appendOcc(
      spark.range(9100, 9101).select(col("id").as("k"), lit(1.0).as("v")),
      s"$base/data", vdir, "k", "a2")
    val e2 = intercept[java.util.ConcurrentModificationException] {
      VersionLog.commitRebase(spark, vdir, rv, Seq.empty, snap.limit(0),
        constraintsJson = Some(VersionLog.constraintsJsonOf(2,
          Map("v_cap" -> "v < 1000", "k_pos" -> "k >= 0"))))
    }
    assert(e2.getMessage.contains("validation scan") ||
      e2.getMessage.contains("intermediate commits"))
  }

  test("SQL frontend: ADD/DROP CONSTRAINT, INSERT and UPDATE enforcement") {
    val base = freshOcc("sql")
    val reg = Map("ctab" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    val m = TableSql(spark, reg,
      "ALTER TABLE ctab ADD CONSTRAINT v_nonneg CHECK (v >= 0)").head()
    assert(m.getAs[String]("constraint_added") == "v_nonneg")
    spark.range(9000, 9001).select(col("id").as("k"), lit(-4.0).as("v"))
      .createOrReplaceTempView("cons_bad")
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, reg, "INSERT INTO ctab SELECT * FROM cons_bad")
    }
    assert(e.getMessage.contains("v_nonneg"))
    intercept[IllegalArgumentException] {
      TableSql(spark, reg, "UPDATE ctab SET v = v - 1000 WHERE k BETWEEN 0 AND 5")
    }
    TableSql(spark, reg, "ALTER TABLE ctab DROP CONSTRAINT v_nonneg")
    TableSql(spark, reg, "INSERT INTO ctab SELECT * FROM cons_bad")
    val n = TableSql(spark, reg,
      "SELECT count(*) AS n FROM ctab WHERE v < 0").head().getLong(0)
    assert(n == 1L)
  }
}
