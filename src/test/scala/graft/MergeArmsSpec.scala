package graft

import org.apache.spark.sql.functions._

/** General MERGE arm contracts ([[graft.io.FileSkipping.mergeArmsOcc]])
  * — the full Delta MERGE INTO surface beyond the plain upsert:
  *
  *   - conditional UPDATE (explicit assignments or SET *) and DELETE on
  *     match, first-true-wins in listed order, unmatched-by-any-arm rows
  *     ride along unchanged;
  *   - conditional INSERT of unmatched source rows;
  *   - NOT MATCHED BY SOURCE arms (the side the keyed upsert cannot
  *     express) — and their full-table victim cost;
  *   - CDC: pre/post image pairs, delete rows, insert rows in one slot;
  *   - rejections: key assignment, unknown SET column, duplicate source
  *     keys, constraint-violating changed rows;
  *   - SQL: alias-qualified conditions/assignments rewrite to the joined
  *     frame; an INSERT condition referencing the target rejects.
  */
class MergeArmsSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}
  import FileSkipping.MergeArm._

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"),
      concat(lit("t"), (col("id") % 7).cast("string")).as("tag"))

  private def freshOcc(name: String): String = {
    val base = scratch(s"ma_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 4000).repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    base
  }

  test("conditional update + delete + insert, first-true-wins, riders unchanged") {
    val base = freshOcc("basic")
    // delta: keys 100..299 (matched) + 5000..5009 (unmatched)
    val delta = rows(100, 300).unionByName(rows(5000, 5010))
      .withColumn("v", lit(500.0))
    val arms = Seq(
      MatchedDelete(Some(col("k") % 2 === 0)),                  // evens die
      MatchedUpdate(Some(col("k") % 3 === 0),                   // odd multiples of 3
        Some(Seq("tag" -> lit("ARM2"), "v" -> (col("__src_v") + 1)))),
      NotMatchedInsert(Some(col("k") < 5005)))                  // half the inserts
    val (v, nUpd, nDel, nIns) = FileSkipping.mergeArmsOcc(spark, s"$base/data",
      s"$base/versions", "k", delta, arms, "m1")
    assert(v == 1)
    assert(nDel == 100, s"evens in [100,300): $nDel")           // 100 evens
    assert(nUpd == 33, s"odd %3 in [100,300): $nUpd")           // 105..297 step 6
    assert(nIns == 5, nIns.toString)
    val head = VersionLog.readVersion(spark, s"$base/versions", 1)
    assert(head.count() == 4000 - 100 + 5)
    // first-true-wins: k=102 (even AND %3) deleted, not updated
    assert(head.filter(col("k") === 102).count() == 0)
    assert(head.filter(col("k") === 105).select("tag").head().getString(0) == "ARM2")
    assert(head.filter(col("k") === 105).select("v").head().getDouble(0) == 501.0)
    // matched by no arm (odd, not %3): untouched
    assert(head.filter(col("k") === 101).select("tag").head().getString(0) == "t3")
    // unmatched target rows untouched
    assert(head.filter(col("k") === 50).select("v").head().getDouble(0) == 50.0)
    assert(head.filter(col("k") >= 5000).count() == 5)
  }

  test("NOT MATCHED BY SOURCE delete syncs target to source (full-table victims)") {
    val base = freshOcc("nmbs")
    // source = keys 1000..2999 only; sync: keep matched (update tag),
    // drop everything the source no longer carries
    val delta = rows(1000, 3000)
    val arms = Seq(
      MatchedUpdate(None, Some(Seq("tag" -> lit("KEPT")))),
      SourceMissingDelete(Some(col("k") < 3500)))               // spare 3500+
    val (v, nUpd, nDel, nIns) = FileSkipping.mergeArmsOcc(spark, s"$base/data",
      s"$base/versions", "k", delta, arms, "m2")
    assert(v == 1 && nUpd == 2000 && nDel == 1500 && nIns == 0,
      s"upd=$nUpd del=$nDel ins=$nIns")
    val head = VersionLog.readVersion(spark, s"$base/versions", 1)
    assert(head.count() == 2500)
    assert(head.filter(col("tag") === "KEPT").count() == 2000)
    assert(head.filter(col("k") >= 3500).count() == 500, "conditioned NMBS spares rows")
  }

  test("SET * replaces with the source row; CDC carries the exact op mix") {
    val base = freshOcc("cdc")
    val cdc = s"$base/cdc"
    val delta = rows(0, 100).withColumn("v", lit(-9.0))
      .unionByName(rows(6000, 6020))
    val arms = Seq(
      MatchedUpdate(None, None),                                 // SET *
      NotMatchedInsert(None))
    val (v, nUpd, nDel, nIns) = FileSkipping.mergeArmsOcc(spark, s"$base/data",
      s"$base/versions", "k", delta, arms, "m3", cdcDir = Some(cdc))
    assert(v == 1 && nUpd == 100 && nDel == 0 && nIns == 20)
    val head = VersionLog.readVersion(spark, s"$base/versions", 1)
    assert(head.filter(col("k") < 100).filter(col("v") =!= -9.0).count() == 0)
    val ops = FileSkipping.readTableChanges(spark, cdc, 1, 1)
      .groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops == Map("update_preimage" -> 100L, "update_postimage" -> 100L,
      "insert" -> 20L), ops.toString)
  }

  test("rejections: key assignment, unknown column, duplicate source keys, constraints") {
    val base = freshOcc("reject")
    val e1 = intercept[IllegalArgumentException] {
      FileSkipping.mergeArmsOcc(spark, s"$base/data", s"$base/versions", "k",
        rows(0, 10), Seq(MatchedUpdate(None, Some(Seq("k" -> lit(9L))))), "m4")
    }
    assert(e1.getMessage.contains("clustering key"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      FileSkipping.mergeArmsOcc(spark, s"$base/data", s"$base/versions", "k",
        rows(0, 10), Seq(MatchedUpdate(None, Some(Seq("nope" -> lit(1))))), "m5")
    }
    assert(e2.getMessage.contains("unknown column"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      FileSkipping.mergeArmsOcc(spark, s"$base/data", s"$base/versions", "k",
        rows(0, 10).unionByName(rows(0, 1)),
        Seq(MatchedUpdate(None, None)), "m6")
    }
    assert(e3.getMessage.contains("one row per"), e3.getMessage)
    FileSkipping.alterAddConstraint(spark, s"$base/versions", "v_floor", "v >= 0")
    val e4 = intercept[IllegalArgumentException] {
      FileSkipping.mergeArmsOcc(spark, s"$base/data", s"$base/versions", "k",
        rows(0, 10), Seq(MatchedUpdate(None, Some(Seq("v" -> lit(-1.0))))), "m7")
    }
    assert(e4.getMessage.contains("v_floor"), e4.getMessage)
    assert(VersionLog.head(spark, s"$base/versions") == 1, // only the ADD CONSTRAINT
      "no rejected merge may commit")
  }

  test("SQL: general arms parse, aliases rewrite, INSERT cond sees source only") {
    val base = freshOcc("sql")
    val reg = Map("mt" -> TableSql.TableRef(s"$base/data", s"$base/versions", "k"))
    rows(200, 400).unionByName(rows(7000, 7050)).withColumn("v", lit(77.0))
      .createOrReplaceTempView("ma_src")
    val res = TableSql(spark, reg,
      """MERGE INTO mt USING ma_src ON mt.k = ma_src.k
         WHEN MATCHED AND mt.v < 40 THEN UPDATE SET tag = 'LOW', v = ma_src.v + 1
         WHEN MATCHED THEN DELETE
         WHEN NOT MATCHED AND ma_src.k < 7025 THEN INSERT *
         WHEN NOT MATCHED BY SOURCE AND mt.k >= 3900 THEN DELETE""").head()
    val (nUpd, nDel, nIns) = (res.getLong(1), res.getLong(2), res.getLong(3))
    // matched [200,400): v = k%97 < 40 → updated, else deleted
    val expUpd = (200L until 400L).count(k => k % 97 < 40)
    assert(nUpd == expUpd, s"upd=$nUpd expected=$expUpd")
    assert(nDel == (200 - expUpd) + 100, s"del=$nDel") // matched deletes + k>=3900
    assert(nIns == 25, s"ins=$nIns")
    val head = VersionLog.readVersion(spark, s"$base/versions", 1)
    assert(head.filter(col("tag") === "LOW")
      .filter(col("v") =!= 78.0).count() == 0, "assignment rewrote src alias")
    assert(head.filter(col("k") >= 3900 && col("k") < 4000).count() == 0)
    val e = intercept[IllegalArgumentException] {
      TableSql(spark, reg,
        """MERGE INTO mt USING ma_src ON mt.k = ma_src.k
           WHEN NOT MATCHED AND mt.v > 0 THEN INSERT *""")
    }
    assert(e.getMessage.contains("SOURCE only"), e.getMessage)
  }
}
