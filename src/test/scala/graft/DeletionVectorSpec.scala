package graft

import org.apache.spark.sql.functions._

/** Deletion-vector (merge-on-read DELETE) contracts — round 15:
  *
  *   - logical equivalence: a DV delete reads back exactly like the
  *     copy-on-write delete of the same range, while the PHYSICAL file
  *     set is untouched (zero write amplification — the reason DVs exist
  *     at 100 TB);
  *   - positions, not keys: a re-inserted deleted key survives;
  *   - sidecar merge: a second delete touching the same file carries the
  *     first delete's positions forward (one pointer per manifest row);
  *   - CDC: deleted rows emit exactly once (a second overlapping delete
  *     never re-emits already-deleted rows);
  *   - OCC: DV commits are content-changing and VISIBLE to racing
  *     validators under the (file, dv_file) presence key — a merge pinned
  *     before the DV commit that rewrites the same file aborts instead of
  *     silently resurrecting the deleted rows (the lost-update the
  *     file-keyed presence window could not see), and vice versa;
  *   - materialization: MERGE, OPTIMIZE and ZORDER rewrite DV'd files
  *     clean (head carries no pointer; content preserved);
  *   - time travel composes: the pre-delete version still reads all rows;
  *     every file-pruned snapshot read (range, box, semi-join) applies
  *     DVs through the same engine as the whole-table read;
  *   - vacuum: sidecars are log-referenced storage — live while any
  *     retained version points at them, reclaimed once only dropped
  *     versions do;
  *   - `maxDvRows` bounds a sidecar: an over-limit DV delete refuses.
  */
class DeletionVectorSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"),
      concat(lit("t"), (col("id") % 7).cast("string")).as("tag"))

  private def freshOcc(name: String, n: Long = 4000, nFiles: Int = 8,
                       extraStats: Seq[String] = Nil): String = {
    val base = scratch(s"dv_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, n).repartitionByRange(nFiles, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k", extraStats))
    base
  }

  private def keysAt(base: String, v: Int): Seq[Long] =
    VersionLog.readVersion(spark, s"$base/versions", v)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq

  private def headV(base: String): Int = VersionLog.head(spark, s"$base/versions")

  private def manifestFiles(base: String, v: Int): Set[String] =
    VersionLog.manifestAt(spark, s"$base/versions", v)
      .select("file").collect().map(_.getString(0)).toSet

  private def dvPointers(base: String, v: Int): Map[String, String] = {
    val man = VersionLog.manifestAt(spark, s"$base/versions", v)
    if (!man.columns.contains("dv_file")) Map.empty
    else man.select("file", "dv_file").collect()
      .flatMap(r => Option(r.getString(1)).map(d => r.getString(0) -> d)).toMap
  }

  test("DV delete ≡ copy-on-write delete logically; physical file set untouched") {
    val dv = freshOcc("logical_dv")
    val cow = freshOcc("logical_cow")
    val filesBefore = manifestFiles(dv, 0)
    val (v1, nDel, nVec) = FileSkipping.deleteRangeDvOcc(spark, s"$dv/data",
      s"$dv/versions", "k", lit(700), lit(1900), "t1")
    val (v2, _, _) = FileSkipping.deleteRangeOcc(spark, s"$cow/data",
      s"$cow/versions", "k", lit(700), lit(1900), "t1")
    assert(nDel == 1201L) // BETWEEN is inclusive both ends
    assert(keysAt(dv, v1) == keysAt(cow, v2))
    assert(keysAt(dv, v1) == ((0L until 700L) ++ (1901L until 4000L)))
    // merge-on-read: same files, only pointers changed — vs copy-on-write,
    // which retired covered files and rewrote boundaries
    assert(manifestFiles(dv, v1) == filesBefore)
    assert(nVec > 0 && dvPointers(dv, v1).size == nVec)
    assert(manifestFiles(cow, v2) != manifestFiles(cow, 0))
    // full column content (not just keys) survives on the DV read path
    val got = VersionLog.readVersion(spark, s"$dv/versions", v1)
    val want = VersionLog.readVersion(spark, s"$cow/versions", v2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("positions not keys: a re-inserted deleted key survives the existing DV") {
    val base = freshOcc("reinsert")
    val (v1, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(100), lit(200), "t1")
    assert(!keysAt(base, v1).contains(150L))
    // re-insert key 150 with a recognizable value — appendOcc's band
    // check would abort a CONCURRENT writer; serially it just lands
    val delta = spark.range(150, 151).select(col("id").as("k"),
      lit(123456.0).as("v"), lit("fresh").as("tag"))
    val v2 = FileSkipping.appendOcc(delta, s"$base/data", s"$base/versions", "k", "t2")
    val got = VersionLog.readVersion(spark, s"$base/versions", v2)
      .filter(col("k") === 150).collect()
    assert(got.length == 1 && got.head.getAs[String]("tag") == "fresh")
    // the DV'd file's old position for key 150 stays deleted — count holds
    assert(keysAt(base, v2).length == keysAt(base, v1).length + 1)
  }

  test("second delete merges the touched file's sidecar; CDC emits each row exactly once") {
    val base = freshOcc("merge_sidecar")
    val cdc = s"$base/cdc"
    val (v1, n1, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(10), lit(20), "t1", cdcDir = Some(cdc))
    val (v2, n2, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(15), lit(30), "t2", cdcDir = Some(cdc))
    assert(n1 == 11L && n2 == 10L) // [15,20] already deleted — not re-counted
    assert(keysAt(base, v2) == ((0L until 10L) ++ (31L until 4000L)))
    // one pointer per manifest row: the re-touched file points at t2's
    // sidecar, which CARRIES t1's positions for that file
    val ptrs = dvPointers(base, v2)
    assert(ptrs.values.toSet.size == 1 && ptrs.values.head.endsWith("dv-t2"))
    // CDC: v1's slot has [10,20], v2's slot has [21,30] minus nothing —
    // exactly once across the two commits
    val feeds = FileSkipping.readCommittedFeeds(spark, cdc)
    val deleted = feeds.filter(col("op") === "delete")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(deleted == (10L to 30L))
    assert(feeds.count() == 21)
  }

  test("OCC: a merge pinned before a DV delete that rewrites the same file aborts (no resurrection)") {
    val base = freshOcc("race_merge")
    val pin = VersionLog.begin(spark, s"$base/versions")
    // DV delete lands first
    val (v1, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(100), lit(120), "t1")
    assert(v1 == 1)
    // merge pinned at v0 upserts key 110 — its rewrite covers the DV'd
    // file; committing from pre-DV content would resurrect [100,120]
    val delta = spark.range(110, 111).select(col("id").as("k"),
      lit(-1.0).as("v"), lit("merge").as("tag"))
    val e = intercept[java.util.ConcurrentModificationException] {
      FileSkipping.mergeKeyedOcc(spark, s"$base/data", s"$base/versions",
        "k", delta, "t2", pinned = Some(pin))
    }
    assert(e.getMessage.contains("re-run against the new head"))
    // the retry against the new head lands and the deleted range stays deleted
    FileSkipping.mergeKeyedOcc(spark, s"$base/data", s"$base/versions",
      "k", delta, "t2b")
    val ks = keysAt(base, headV(base))
    assert(ks.contains(110L) && !ks.contains(100L) && !ks.contains(120L))
  }

  test("OCC: a DV delete pinned before a racing merge on the same band aborts") {
    val base = freshOcc("race_dv")
    val pin = VersionLog.begin(spark, s"$base/versions")
    val delta = spark.range(110, 111).select(col("id").as("k"),
      lit(-1.0).as("v"), lit("merge").as("tag"))
    FileSkipping.mergeKeyedOcc(spark, s"$base/data", s"$base/versions",
      "k", delta, "t1")
    intercept[java.util.ConcurrentModificationException] {
      FileSkipping.deleteRangeDvOcc(spark, s"$base/data", s"$base/versions",
        "k", lit(100), lit(120), "t2", pinned = Some(pin))
    }
    // retry against head: the merge's fresh row for 110 dies too
    val (v2, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(100), lit(120), "t2b")
    assert(!keysAt(base, v2).exists(k => k >= 100 && k <= 120))
  }

  test("OCC: two DV deletes racing from the same pin — second aborts, first's rows never lost") {
    val base = freshOcc("race_two_dv")
    val pin = VersionLog.begin(spark, s"$base/versions")
    val (v1, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(50), lit(60), "a", pinned = Some(pin))
    intercept[java.util.ConcurrentModificationException] {
      FileSkipping.deleteRangeDvOcc(spark, s"$base/data", s"$base/versions",
        "k", lit(55), lit(70), "b", pinned = Some(pin))
    }
    val (v2, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(55), lit(70), "b2")
    assert(keysAt(base, v2) == ((0L until 50L) ++ (71L until 4000L)))
    assert(v1 == 1 && v2 == 2)
  }

  test("OPTIMIZE materializes DVs: head rewrites clean even when nothing is 'small'") {
    val base = freshOcc("materialize")
    val (v1, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(700), lit(1900), "t1")
    val before = keysAt(base, v1)
    // smallBytes = 1: no file qualifies by size — the DV'd files rewrite
    // anyway (materialization is the point of OPTIMIZE on a MoR table)
    val (v2, compacted, written) = FileSkipping.compactSmallOcc(spark,
      s"$base/data", s"$base/versions", "k", smallBytes = 1L,
      targetBytes = 512L * 1024, txnId = "opt")
    assert(compacted > 0 && written > 0)
    assert(dvPointers(base, v2).isEmpty)
    assert(keysAt(base, v2) == before)
    // and the old version still reads through its sidecar (MVCC)
    assert(keysAt(base, v1) == before)
  }

  test("ZORDER materializes DVs and never resurrects") {
    val base = freshOcc("zorder")
    val (v1, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(0), lit(999), "t1")
    val (v2, _, _) = FileSkipping.zorderOcc(spark, s"$base/data",
      s"$base/versions", "k", Seq("k", "v"), "z1", bits = 8, outFiles = 4,
      pinned = None, curve = "morton")
    assert(dvPointers(base, v2).isEmpty)
    assert(keysAt(base, v2) == (1000L until 4000L))
  }

  test("time travel and pruned reads compose with DVs") {
    val base = freshOcc("travel")
    val (v1, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(1000), lit(1099), "t1")
    assert(keysAt(base, 0).length == 4000) // pre-delete version intact
    val pruned = VersionLog.prunedReadVersion(spark, s"$base/versions", v1,
      lit(950), lit(1150))
    assert(pruned.filter(col("k").between(950, 1150))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
      == ((950L to 999L) ++ (1100L to 1150L)))
  }

  test("vacuum reclaims dead sidecars, keeps live ones; zero-hit delete commits nothing") {
    val base = freshOcc("vacuum")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // zero-hit: range outside the table — no commit, no sidecar
    val (v0, n0, f0) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(99000), lit(99500), "t0")
    assert(v0 == 0 && n0 == 0L && f0 == 0 && headV(base) == 0)
    val (v1, _, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data",
      s"$base/versions", "k", lit(10), lit(20), "t1")
    val sidecar = new org.apache.hadoop.fs.Path(s"$base/data/dv-t1")
    assert(fs.exists(sidecar))
    // retain v1 (head): the sidecar is live — vacuum must keep it
    VersionLog.vacuum(spark, s"$base/data", s"$base/versions", retainLast = 1)
    assert(fs.exists(sidecar))
    assert(keysAt(base, v1) == ((0L until 10L) ++ (21L until 4000L)))
    // materialize, then vacuum to the clean head: sidecar now dead
    val (v2, _, _) = FileSkipping.compactSmallOcc(spark, s"$base/data",
      s"$base/versions", "k", 1L, 512L * 1024, "opt")
    VersionLog.vacuum(spark, s"$base/data", s"$base/versions", retainLast = 1)
    assert(!fs.exists(sidecar))
    assert(keysAt(base, v2) == ((0L until 10L) ++ (21L until 4000L)))
  }

  test("pruned snapshot reads apply DVs: range, box and semi-join") {
    import spark.implicits._
    val base = freshOcc("pruned", extraStats = Seq("k"))
    val vdir = s"$base/versions"
    val (v1, nDel, _) = FileSkipping.deleteRangeDvOcc(spark, s"$base/data", vdir,
      "k", lit(1000), lit(1099), "t1")
    assert(nDel == 100L)
    def range(v: Int, lo: Long, hi: Long) = VersionLog.prunedReadVersion(spark, vdir, v, lit(lo), lit(hi))
    def box(v: Int, lo: Long, hi: Long) =
      FileSkipping.prunedReadVersionMulti(spark, vdir, v, Seq(("k", lit(lo), lit(hi))))
    def semi(v: Int, keys: Long*) = FileSkipping.semiJoinReadVersion(spark, vdir, v, keys.toDF("k"))
    def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("k").collect().map(_.getLong(0)).toSet
    val deleted = (1000L to 1099L).toSet
    // the head never returns a DV-deleted row, on any read shape — no
    // residual filter, so the read itself must drop them
    for (df <- Seq(range(v1, 950, 1150), box(v1, 950, 1150), semi(v1, 1000, 1050, 1200))) {
      val ks = keys(df)
      assert((ks & deleted).isEmpty, s"DV-deleted rows resurrected: ${(ks & deleted).size}")
      assert(ks.contains(1100L) || ks.contains(1200L))
    }
    // a pin from before the delete still returns the deleted rows
    for (df <- Seq(range(0, 950, 1150), box(0, 950, 1150), semi(0, 1000, 1050)))
      assert(Set(1000L, 1050L).subsetOf(keys(df)))
    // an empty admit is zero rows with the table's schema
    val tableSchema = VersionLog.readVersion(spark, vdir, v1).schema.map(f => (f.name, f.dataType))
    for (df <- Seq(range(v1, 90000, 99999), box(v1, 90000, 99999), semi(v1, 99999))) {
      assert(df.count() == 0)
      assert(df.schema.map(f => (f.name, f.dataType)) == tableSchema)
    }
  }

  test("maxDvRows bounds the sidecar: an over-limit DV delete is refused") {
    val base = freshOcc("maxdvrows")
    FileSkipping.deleteRangeDvOcc(spark, s"$base/data", s"$base/versions",
      "k", lit(10), lit(20), "t1")
    val e = intercept[IllegalArgumentException] {
      FileSkipping.deleteRangeDvOcc(spark, s"$base/data", s"$base/versions",
        "k", lit(0), lit(4000), "t2", maxDvRows = 100L)
    }
    assert(e.getMessage.contains("copy-on-write"))
  }

  test("SQL frontend: DELETE on a deletionVectors table is merge-on-read; SELECT applies DVs") {
    val base = freshOcc("sql")
    val reg = Map("dvtab" -> TableSql.TableRef(s"$base/data", s"$base/versions",
      "k", deletionVectors = true))
    val filesBefore = manifestFiles(base, 0)
    val m = TableSql(spark, reg, "DELETE FROM dvtab WHERE k BETWEEN 700 AND 1900").collect().head
    assert(m.getAs[Long]("rows_deleted") == 1201L)
    assert(manifestFiles(base, m.getAs[Long]("committed_version").toInt) == filesBefore)
    val cnt = TableSql(spark, reg, "SELECT count(*) AS n FROM dvtab").collect().head.getLong(0)
    assert(cnt == 2799L)
    val tt = TableSql(spark, reg,
      "SELECT count(*) AS n FROM dvtab VERSION AS OF 0").collect().head.getLong(0)
    assert(tt == 4000L)
  }
}
