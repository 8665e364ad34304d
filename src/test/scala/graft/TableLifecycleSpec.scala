package graft

import org.apache.spark.sql.functions._

/** Round-12 table-format lifecycle contracts:
  *
  *   - a post-`_SUCCESS` bookkeeping failure (classification marker,
  *     idempotence token) surfaces as the typed do-NOT-retry
  *     [[graft.io.CommittedButIncomplete]] with `head()` already at the
  *     committed version — never a retriable-looking abort (round-11
  *     verdict #1), injected through a real FileSystem wrapper
  *     ([[graft.util.FaultFs]]);
  *   - the CDC slot lifecycle completes: incremental consumption via a
  *     version cursor never re-reads old slots, and committed slots are
  *     physically reclaimable once consumers are past them
  *     ([[graft.io.FileSkipping.vacuumFeeds]], round-11 verdict #4),
  *     with cutoff→head replay still exact afterwards;
  *   - "nothing to consume yet" is an ordinary poll result, not an
  *     exception (round-11 review on `readCommittedFeeds`);
  *   - a zero-file snapshot (a delete retired every file) reads as a
  *     LOUD typed error, not `NoSuchElementException` out of `head()`
  *     (round-11 review);
  *   - cross-type band bounds (a key column physically widened across
  *     the log's history) abort validation with the documented typed
  *     message, not a raw ClassCastException (round-11 review).
  */
class TableLifecycleSpec extends SparkSpec {
  import graft.io.{CommittedButIncomplete, FileSkipping, VersionLog}

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
      (col("id") % 997 / 7.0).as("v"))

  private def freshTable(name: String, nFiles: Int = 8): String = {
    val base = scratch(s"lifec_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 8000).repartitionByRange(nFiles, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    FileSkipping.buildManifest(spark, s"$base/data", "k")
      .write.mode("overwrite").parquet(s"$base/manifest")
    base
  }

  test("_REWRITE_ONLY marker-create failure after _SUCCESS: typed do-NOT-retry, head already committed") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.faultfs.impl", classOf[graft.util.FaultFs].getName)
    hc.setBoolean("fs.faultfs.impl.disable.cache", true)
    val base = freshTable("marker_fault")
    // the LOG lives on the fault-injecting FS; data files stay local —
    // the production split (log on the object store) and the injection
    // seam the round-11 verdict asked for
    val vdir = s"faultfs:$base/versions"
    VersionLog.commitSnapshot(spark, vdir,
      FileSkipping.buildManifest(spark, s"$base/data", "k")) // v0
    val before = spark.read.parquet(s"$base/data").collect().toSeq
    graft.util.FaultFs.failCreatesContaining = Some("_REWRITE_ONLY")
    val e =
      try intercept[CommittedButIncomplete] {
        FileSkipping.compactSmallOcc(spark, s"$base/data", vdir, "k",
          smallBytes = 64L * 1024 * 1024, targetBytes = 16L * 1024 * 1024, "CPT")
      } finally graft.util.FaultFs.failCreatesContaining = None
    assert(e.version == 1, s"compaction should have committed as v1, got ${e.version}")
    assert(e.getMessage.contains("do NOT retry"), e.getMessage)
    // the commit LANDED: head is the compacted version, content exact
    assert(VersionLog.head(spark, vdir) == 1)
    val got = VersionLog.readVersion(spark, vdir, 1).collect().toSeq
    assert(got.toSet == before.toSet && got.size == before.size,
      "compacted head diverged from the pre-compaction content")
    // the marker is the one missing piece; the documented remediation
    // (stamp it manually) restores the rewrite-only classification
    assert(!VersionLog.isRewriteOnly(spark, vdir, 1))
    val mp = new org.apache.hadoop.fs.Path(s"$vdir/v1/_REWRITE_ONLY")
    mp.getFileSystem(spark.sessionState.newHadoopConf()).create(mp, true).close()
    assert(VersionLog.isRewriteOnly(spark, vdir, 1))
  }

  test("post-commit failure on a CDC merge: the COMMITTED transaction's slot survives, marker stamped, typed rethrow") {
    // the round-11 ADVICE low on commitWithCdc, end to end: a failure
    // AFTER the snapshot's _SUCCESS (here: the schema record create,
    // injected) must NOT delete the committed transaction's feed slot —
    // the abort-looking cleanup would lose committed changes and the
    // error would invite a double-applying retry. commitWithCdc catches
    // the TYPED CommittedButIncomplete, stamps the feed marker with the
    // committed version, and rethrows.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.faultfs.impl", classOf[graft.util.FaultFs].getName)
    hc.setBoolean("fs.faultfs.impl.disable.cache", true)
    val base = freshTable("cdc_fault")
    val vdir = s"faultfs:$base/versions"
    val cdc = s"$base/cdc"
    VersionLog.commitSnapshot(spark, vdir,
      FileSkipping.buildManifest(spark, s"$base/data", "k")) // v0
    val delta = rows(100, 130).withColumn("tag", lit("CF"))
      .withColumn("score", col("k") * 1.0)
    graft.util.FaultFs.failCreatesContaining = Some("_schema.json")
    val e =
      try intercept[CommittedButIncomplete] {
        FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k", delta, "CF",
          cdcDir = Some(cdc), evolveSchema = true)
      } finally graft.util.FaultFs.failCreatesContaining = None
    assert(e.version == 1 && e.getMessage.contains("do NOT retry"), e.getMessage)
    // the commit LANDED and the feed handoff completed despite the throw
    assert(VersionLog.head(spark, vdir) == 1)
    assert(new java.io.File(s"$cdc/txn-CF/_COMMITTED_v1").exists(),
      "committed transaction's feed slot missing its marker after a post-commit failure")
    val feed = FileSkipping.readCommittedFeeds(spark, cdc)
    assert(feed.filter(col("op") === "update_postimage").count() == 30,
      "committed feed rows lost after a post-commit failure")
    // manual remediation: write the missing schema record, reads recover
    val json = spark.read.parquet(s"$base/data").schema
      .add(org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)).json
    val sp = new org.apache.hadoop.fs.Path(s"$vdir/v1/_schema.json")
    val out = sp.getFileSystem(spark.sessionState.newHadoopConf()).create(sp, true)
    out.write(json.getBytes("UTF-8")); out.close()
    val head = VersionLog.readVersion(spark, vdir, 1)
    assert(head.columns.contains("score") && head.count() == 8000)
    assert(head.filter(col("score").isNotNull).count() == 30)
  }

  test("feed cursor: incremental consumption reads only new slots; vacuumFeeds reclaims consumed ones; replay stays exact") {
    val base = freshTable("feedcur")
    val vdir = s"$base/versions"
    val cdc = s"$base/cdc"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    // nothing to consume yet — an ordinary poll result, not an error
    assert(FileSkipping.committedFeedSlots(spark, cdc).isEmpty)
    val (none, c0) = FileSkipping.readCommittedFeedsSince(spark, cdc, 0)
    assert(none.isEmpty && c0 == 0)
    def merge(tag: String, lo: Long) =
      FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
        rows(lo, lo + 30).withColumn("tag", lit(tag)), tag,
        pinned = Some(VersionLog.begin(spark, vdir)), cdcDir = Some(cdc))
    assert(merge("M1", 100) == 1)
    assert(merge("M2", 3100) == 2)
    val (Some(d12), c12) = FileSkipping.readCommittedFeedsSince(spark, cdc, 0): @unchecked
    assert(c12 == 2 && d12.filter(col("op") === "update_postimage").count() == 60)
    // third merge AFTER the cursor advanced: the next poll reads ONLY
    // its slot — provably, because the consumed slots are then DELETED
    // and consumption keeps working
    assert(merge("M3", 6100) == 3)
    assert(FileSkipping.vacuumFeeds(spark, cdc, consumedThrough = 2) == 2)
    assert(FileSkipping.committedFeedSlots(spark, cdc).map(_._1) == Seq(3),
      "vacuumFeeds left consumed slots on disk")
    val (Some(d3), c3) = FileSkipping.readCommittedFeedsSince(spark, cdc, 2): @unchecked
    assert(c3 == 3)
    // cutoff→head replay stays exact after the reclaim: v2 + slot-3
    // changes must equal the head, row for row
    val replayed = VersionLog.readVersion(spark, vdir, 2)
      .unionByName(d3.filter(col("op") =!= "update_preimage").drop("op"))
      .exceptAll(d3.filter(col("op") === "update_preimage").drop("op"))
    val head = VersionLog.readVersion(spark, vdir, 3)
    assert(replayed.exceptAll(head).count() == 0 && head.exceptAll(replayed).count() == 0,
      "post-vacuum cutoff->head feed replay diverged")
    // a poll already at head: nothing new, cursor unchanged
    val (again, c4) = FileSkipping.readCommittedFeedsSince(spark, cdc, 3)
    assert(again.isEmpty && c4 == 3)
  }

  test("a zero-file snapshot reads loudly typed, never NoSuchElementException") {
    val base = freshTable("zerofiles")
    val vdir = s"$base/versions"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    // retire EVERY file: the full key range is covered and null-free
    val (v, retired, rewritten) = FileSkipping.deleteRangeOcc(spark, s"$base/data", vdir,
      "k", lit(-1L), lit(10000L), "WIPE")
    assert(v == 1 && retired == 8 && rewritten == 0)
    val e = intercept[IllegalStateException] {
      VersionLog.readVersion(spark, vdir, 1).collect()
    }
    assert(e.getMessage.contains("zero files"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      VersionLog.prunedReadVersion(spark, vdir, 1, lit(0L), lit(10L)).collect()
    }
    assert(e2.getMessage.contains("zero files"), e2.getMessage)
    // the pre-delete version still reads fine
    assert(VersionLog.readVersion(spark, vdir, 0).count() == 8000)
  }

  test("cross-type band bounds (key widened across history) abort with the typed message, not ClassCastException") {
    import spark.implicits._
    val base = scratch("lifec_xtype")
    graft.util.Staging.deleteRecursive(base)
    val vdir = s"$base/versions"
    // a legacy log whose snapshots carry INT key stats
    def intStats(file: String, lo: Int, hi: Int) =
      Seq((file, lo, hi, 10L, 10L)).toDF("file", "min_key", "max_key", "n_rows", "n_keys")
    VersionLog.commitSnapshot(spark, vdir, intStats("f0", 0, 999))       // v0
    val pin = VersionLog.begin(spark, vdir)
    // an intermediate commit keeps the INT stats shape
    VersionLog.commitRebase(spark, vdir, pin._1, Seq.empty, intStats("f1", 2000, 2999)) // v1
    // the pinned transaction arrives with WIDENED (long) stats
    val longStats = Seq(("f2", 2500L, 2600L, 5L, 5L))
      .toDF("file", "min_key", "max_key", "n_rows", "n_keys")
    val e = intercept[IllegalStateException] {
      VersionLog.commitRebase(spark, vdir, pin._1, Seq.empty, longStats)
    }
    assert(e.getMessage.contains("different physical types"), e.getMessage)
    assert(e.getMessage.contains("Long") && e.getMessage.contains("Integer"), e.getMessage)
    // the abort released the claim: a same-typed retry against the new
    // head still lands
    assert(VersionLog.commitRebase(spark, vdir, 1, Seq.empty,
      intStats("f2", 2500, 2600)) == 2)
  }

  test("appendOcc onto a zero-file no-record snapshot DEFINES and RECORDS the schema (no memo-warmth dependence)") {
    // round-12 advice: the unconditional schema probe regressed this
    // append into a loud 'zero files' failure — worse, one whose outcome
    // depended on whether THIS JVM had warmed the bootstrap memo earlier
    val base = freshTable("zeroappend")
    val vdir = s"$base/versions"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    val (v1, retired, _) = FileSkipping.deleteRangeOcc(spark, s"$base/data", vdir,
      "k", lit(-1L), lit(10000L), "WIPE0") // v1: zero files, no record
    assert(v1 == 1 && retired == 8)
    val v2 = FileSkipping.appendOcc(rows(0, 50), s"$base/data", vdir, "k", "BOOT")
    assert(v2 == 2)
    // the append recorded its schema — the untyped-empty state can never
    // recur on this log, and the next divergent append rejects loudly
    assert(VersionLog.schemaAt(spark, vdir, 2)
      .exists(_.fieldNames.sameElements(Array("k", "tag", "v"))),
      "bootstrap append did not record the schema")
    assert(VersionLog.readVersion(spark, vdir, 2).count() == 50)
    val e = intercept[IllegalArgumentException] {
      FileSkipping.appendOcc(rows(50, 60).drop("tag"), s"$base/data", vdir, "k", "DIV")
    }
    assert(e.getMessage.contains("missing: tag"), e.getMessage)
  }

  test("a log re-created at the same path with a different schema validates against the NEW schema (memo keyed by log identity)") {
    // round-12 advice: the bootstrap-schema memo was keyed by path alone,
    // so after a delete + re-create (every spec/bench scratch flow) the
    // contract checked appends against the DEAD table's schema
    val base = scratch("lifec_memoid")
    def build(r: org.apache.spark.sql.DataFrame): Unit = {
      graft.util.Staging.deleteRecursive(base)
      r.repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(s"$base/data")
      FileSkipping.buildManifest(spark, s"$base/data", "k")
        .write.mode("overwrite").parquet(s"$base/manifest")
      VersionLog.commit(spark, s"$base/versions", s"$base/manifest") // v0
    }
    build(rows(0, 1000))
    // warm the memo with the (k, tag, v) schema
    assert(FileSkipping.appendOcc(rows(1000, 1010), s"$base/data",
      s"$base/versions", "k", "W1") == 1)
    // re-create the log AT THE SAME PATH with a different schema
    def scored(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 7).cast("double").as("score"))
    build(scored(0, 1000))
    // a conforming new-schema append must pass (a stale memo rejected it)
    assert(FileSkipping.appendOcc(scored(1000, 1010), s"$base/data",
      s"$base/versions", "k", "W2") == 1)
    // and an old-schema append must now reject against the NEW schema
    val e = intercept[IllegalArgumentException] {
      FileSkipping.appendOcc(rows(2000, 2010), s"$base/data",
        s"$base/versions", "k", "W3")
    }
    assert(e.getMessage.contains("score"), e.getMessage)
  }

  test("a consumer behind the feed-vacuum cutoff fails LOUDLY; full-history reads refuse after any vacuum") {
    // round-12 verdict #3: vacuumFeeds' scaladoc promised the loud gap
    // but the poll silently folded only the surviving slots and advanced
    // its cursor past commits it never saw — silent CDC data loss
    val base = freshTable("feedgap")
    val vdir = s"$base/versions"
    val cdc = s"$base/cdc"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    def merge(tag: String, lo: Long) =
      FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
        rows(lo, lo + 30).withColumn("tag", lit(tag)), tag,
        pinned = Some(VersionLog.begin(spark, vdir)), cdcDir = Some(cdc))
    assert(merge("G1", 100) == 1)
    assert(merge("G2", 3100) == 2)
    assert(merge("G3", 6100) == 3)
    assert(FileSkipping.vacuumFeeds(spark, cdc, consumedThrough = 2) == 2)
    // an up-to-date consumer is unaffected
    val (Some(d3), c3) = FileSkipping.readCommittedFeedsSince(spark, cdc, 2): @unchecked
    assert(c3 == 3 && d3.filter(col("op") === "update_postimage").count() == 30)
    // a LAGGING consumer fails loudly naming the cutoff
    val e = intercept[IllegalArgumentException] {
      FileSkipping.readCommittedFeedsSince(spark, cdc, 0)
    }
    assert(e.getMessage.contains("behind the vacuum cutoff v2"), e.getMessage)
    // a full-history rebuild refuses outright — only the surviving slots
    // would be a silent-partial answer
    val e2 = intercept[IllegalArgumentException] {
      FileSkipping.readCommittedFeeds(spark, cdc)
    }
    assert(e2.getMessage.contains("vacuumed through v2"), e2.getMessage)
    // the watermark is monotonic: a lower repeat neither deletes nor lowers
    assert(FileSkipping.vacuumFeeds(spark, cdc, consumedThrough = 1) == 0)
    val e3 = intercept[IllegalArgumentException] {
      FileSkipping.readCommittedFeedsSince(spark, cdc, 1)
    }
    assert(e3.getMessage.contains("v2"), e3.getMessage)
    // an OVER-LARGE cutoff (a cursor from the wrong table, Int.MaxValue)
    // clamps to the highest stamped slot — future commits must stay
    // consumable, not land below a bricked watermark (round-13 review)
    assert(merge("G4", 7000) == 4)
    assert(FileSkipping.vacuumFeeds(spark, cdc, consumedThrough = Int.MaxValue) == 2)
    val (none4, c4) = FileSkipping.readCommittedFeedsSince(spark, cdc, 4)
    assert(none4.isEmpty && c4 == 4, "a consumer at the clamped watermark must poll cleanly")
    assert(merge("G5", 7400) == 5)
    val (Some(d5), c5) = FileSkipping.readCommittedFeedsSince(spark, cdc, 4): @unchecked
    assert(c5 == 5 && d5.filter(col("op") === "update_postimage").count() == 30,
      "a commit after an over-large vacuum cutoff was unconsumable")
  }

  test("a committed-but-unstamped feed slot BLOCKS cursor advancement instead of being skipped (commit-ordered visibility)") {
    // round-12 advice (medium): slot markers are stamped after
    // commitRebase returns with no cross-writer ordering, so v+1's marker
    // can be visible before v's — a poll in that window used to advance
    // its cursor past v and exclude the committed slot FOREVER. The
    // pre-_SUCCESS _INTENT_v<N> marker makes visibility commit-ordered:
    // this test reconstructs the exact window on disk.
    val base = freshTable("feedorder")
    val vdir = s"$base/versions"
    val cdc = s"$base/cdc"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    def merge(tag: String, lo: Long) =
      FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
        rows(lo, lo + 30).withColumn("tag", lit(tag)), tag,
        pinned = Some(VersionLog.begin(spark, vdir)), cdcDir = Some(cdc))
    assert(merge("O1", 100) == 1)
    assert(merge("O2", 3100) == 2)
    assert(merge("O3", 6100) == 3)
    // steady state RETAINS committed intents (reclaimed only by
    // vacuumFeeds — a post-stamp delete raced the poll's two listings,
    // round-14 advice) but none may be pending: all three slots stamped
    assert(new java.io.File(s"$cdc/_INTENT_v1").exists()
      && new java.io.File(s"$cdc/_INTENT_v2").exists()
      && new java.io.File(s"$cdc/_INTENT_v3").exists(),
      "committed transactions must retain their visibility intents until vacuum")
    // reconstruct the stamp window on v2: intent present, marker not yet
    val slots = FileSkipping.committedFeedSlots(spark, cdc)
    assert(slots.map(_._1) == Seq(1, 2, 3))
    val slot2 = new java.io.File(new java.net.URI(slots(1)._2))
    assert(new java.io.File(slot2, "_COMMITTED_v2").delete())
    // a FULL-history read inside the window fails loudly too — a union
    // that includes v3 but silently misses committed v2 would be the
    // same partial answer (round-13 review)
    val eFull = intercept[IllegalArgumentException] {
      FileSkipping.readCommittedFeeds(spark, cdc)
    }
    assert(eFull.getMessage.contains("committed-but-unstamped"), eFull.getMessage)
    // the poll consumes ONLY v1 — advancing to 3 would skip v2 forever
    val (Some(d1), c1) = FileSkipping.readCommittedFeedsSince(spark, cdc, 0): @unchecked
    assert(c1 == 1, s"cursor advanced past a committed-but-unstamped slot: $c1")
    assert(d1.filter(col("op") === "update_postimage").count() == 30)
    // the stamp lands (the writer's next instant, or the operator's
    // CommittedButIncomplete remediation): the next poll picks up v2 AND v3
    assert(new java.io.File(slot2, "_COMMITTED_v2").createNewFile())
    val (Some(d23), c23) = FileSkipping.readCommittedFeedsSince(spark, cdc, c1): @unchecked
    assert(c23 == 3 && d23.filter(col("op") === "update_postimage").count() == 60)
  }

  test("feed poll TOCTOU: an intent landing AFTER the root listing, with its successor stamped before the slot scan, still holds the cursor") {
    // round-13 advice (medium): intents used to come from the SAME root
    // listing as the slot set. A writer whose _INTENT_vN landed after
    // that listing — while a LATER writer committed AND stamped v(N+1)
    // before the serial slot-marker scans ran — presented as "v(N+1)
    // stamped, no pending intent for vN", and the cursor advanced past
    // committed-but-unstamped vN forever. Intents are now snapshotted in
    // a SECOND listing taken AFTER the slot scan, and a committed
    // version's intent is RETAINED until vacuumFeeds (round-14 advice:
    // the old post-stamp delete could land, with the stamp, between the
    // two listings — neither set then carried v). RaceFs reconstructs the
    // exact window: the first root listing fires a hook that creates
    // _INTENT_v1 and stamps v2's slot before the listing is returned.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.racefs.impl", classOf[graft.util.RaceFs].getName)
    hc.setBoolean("fs.racefs.impl.disable.cache", true)
    val base = scratch("lifec_toctou")
    graft.util.Staging.deleteRecursive(base)
    // two unstamped slots on disk, no intents visible yet: writer A (v1)
    // hasn't dropped its intent, writer B (v2) hasn't stamped
    rows(0, 10).withColumn("op", lit("insert"))
      .coalesce(1).write.parquet(s"$base/cdc/txn-A")
    rows(100, 110).withColumn("op", lit("insert"))
      .coalesce(1).write.parquet(s"$base/cdc/txn-B")
    val cdc = s"racefs:$base/cdc"
    try {
      graft.util.RaceFs.needle = Some("lifec_toctou/cdc")
      graft.util.RaceFs.onFirstListing = Some(() => {
        assert(new java.io.File(s"$base/cdc/_INTENT_v1").createNewFile())
        assert(new java.io.File(s"$base/cdc/txn-B/_COMMITTED_v2").createNewFile())
      })
      val (got, c) = FileSkipping.readCommittedFeedsSince(spark, cdc, 0)
      assert(c == 0 && got.isEmpty,
        s"cursor advanced to $c past committed-but-unstamped v1 (TOCTOU window re-opened)")
    } finally {
      graft.util.RaceFs.needle = None
      graft.util.RaceFs.onFirstListing = None
    }
    // A's stamp lands (the intent STAYS — retained until vacuum under
    // the round-14 protocol): the next poll delivers BOTH commits in order
    assert(new java.io.File(s"$base/cdc/txn-A/_COMMITTED_v1").createNewFile())
    val (Some(both), c2) = FileSkipping.readCommittedFeedsSince(spark, cdc, 0): @unchecked
    assert(c2 == 2 && both.count() == 20)
  }

  test("vacuumFeeds refuses to reclaim a COMMITTED transaction's pending intent; true debris still reclaims") {
    // round-13 verdict #3: a CommittedButIncomplete slot (committed,
    // never stamped) presents exactly like abort debris to the old
    // vacuum — the intent was deleted as "crash debris", erasing the
    // only thing holding consumers, and the commit's changes were
    // silently never consumed. With the version log passed in, the
    // vacuum now checks the on-disk evidence (v<N>/_SUCCESS) BEFORE
    // deleting anything and fails loudly naming the remediation.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.faultfs.impl", classOf[graft.util.FaultFs].getName)
    hc.setBoolean("fs.faultfs.impl.disable.cache", true)
    val base = freshTable("vac_guard")
    val vdir = s"$base/versions"
    val cdc = s"faultfs:$base/cdc"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    // V1 commits but its slot stamp is injected to fail: committed-but-
    // unstamped, intent left behind ON PURPOSE (the consumer hold)
    graft.util.FaultFs.failCreatesContaining = Some("_COMMITTED_v1")
    val e =
      try intercept[CommittedButIncomplete] {
        FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
          rows(100, 130).withColumn("tag", lit("V1")), "V1", cdcDir = Some(cdc))
      } finally graft.util.FaultFs.failCreatesContaining = None
    assert(e.version == 1)
    // a later CDC merge lands normally above it
    assert(FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(3100, 3130).withColumn("tag", lit("V2")), "V2", cdcDir = Some(cdc)) == 2)
    // the vacuum refuses — and deletes NOTHING (evidence check first)
    val ex = intercept[IllegalStateException] {
      FileSkipping.vacuumFeeds(spark, cdc, consumedThrough = 2, versionsDir = Some(vdir))
    }
    assert(ex.getMessage.contains("_COMMITTED_v1") && ex.getMessage.contains("COMMITTED"),
      ex.getMessage)
    assert(new java.io.File(s"$base/cdc/_INTENT_v1").exists(),
      "the refusing vacuum deleted the committed transaction's intent")
    assert(new java.io.File(s"$base/cdc/txn-V1").isDirectory &&
      new java.io.File(s"$base/cdc/txn-V2").isDirectory,
      "the refusing vacuum deleted feed slots")
    // consumers are still holding (nothing skipped)
    val (none, c0) = FileSkipping.readCommittedFeedsSince(spark, cdc, 0)
    assert(none.isEmpty && c0 == 0)
    // remediation (the CommittedButIncomplete message): stamp the slot;
    // consumption resumes and the SAME vacuum call now reclaims both
    assert(new java.io.File(s"$base/cdc/txn-V1/_COMMITTED_v1").createNewFile())
    val (Some(d12), c12) = FileSkipping.readCommittedFeedsSince(spark, cdc, 0): @unchecked
    assert(c12 == 2 && d12.filter(col("op") === "update_postimage").count() == 60)
    assert(FileSkipping.vacuumFeeds(spark, cdc, 2, Some(vdir)) == 2)
    // TRUE debris — an intent whose version the LOG no longer carries
    // (ancient crashed writer, its version since vacuumed) — still
    // reclaims silently: no _SUCCESS, no hold
    assert(FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(6100, 6130).withColumn("tag", lit("V3")), "V3", cdcDir = Some(cdc)) == 3)
    VersionLog.vacuum(spark, s"$base/data", vdir, retainLast = 1) // drops v0-v2 dirs
    assert(new java.io.File(s"$base/cdc/_INTENT_v2").createNewFile())
    assert(FileSkipping.vacuumFeeds(spark, cdc, 3, Some(vdir)) == 1)
    assert(!new java.io.File(s"$base/cdc/_INTENT_v2").exists(),
      "abort/crash debris intent not reclaimed")
    // stale intent of a CONSUMED commit (the slot was stamped, its
    // post-stamp intent delete IO-failed, the slot has since been
    // vacuumed): it sits at/below the watermark, so the evidence check
    // must NOT hold on it — versions are monotonic, the vacuum that set
    // the watermark saw the slot stamped (round-14 self-review: holding
    // would brick every later vacuum of a fully-consumed feed)
    assert(new java.io.File(s"$base/cdc/_INTENT_v3").createNewFile())
    assert(FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(9100, 9130).withColumn("tag", lit("V4")), "V4", cdcDir = Some(cdc)) == 4)
    assert(FileSkipping.vacuumFeeds(spark, cdc, 4, Some(vdir)) == 1)
    assert(!new java.io.File(s"$base/cdc/_INTENT_v3").exists(),
      "stale consumed-commit intent below the watermark not reclaimed")
  }

  test("RESTORE races a concurrent merge: one side aborts loudly, head is never a silent mix") {
    // round-13 verdict stretch acceptance: the rollback commit composes
    // with OCC writers like any content change — a restore must never
    // land OVER a racer's committed changes (it would silently drop
    // them), and a merge must never land over a restore it never saw.
    // Both directions, deterministic via pinned snapshots.
    val base = freshTable("restore_race")
    val vdir = s"$base/versions"
    VersionLog.commitSnapshot(spark, vdir,
      FileSkipping.buildManifest(spark, s"$base/data", "k")) // v0
    assert(FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(100, 130).withColumn("tag", lit("R1")), "R1") == 1)
    // restore pinned at v1; a merge lands first -> the restore aborts
    val pin = VersionLog.begin(spark, vdir)
    assert(FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(200, 230).withColumn("tag", lit("R2")), "R2") == 2)
    intercept[java.util.ConcurrentModificationException] {
      FileSkipping.restoreVersion(spark, vdir, 0, pinned = Some(pin))
    }
    assert(VersionLog.head(spark, vdir) == 2, "aborted restore moved head")
    // merge pinned at v2; a restore lands first -> the merge aborts
    val pin2 = VersionLog.begin(spark, vdir)
    assert(FileSkipping.restoreVersion(spark, vdir, 0) == 3)
    intercept[java.util.ConcurrentModificationException] {
      FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
        rows(300, 330).withColumn("tag", lit("R3")), "R3", pinned = Some(pin2))
    }
    // the restored head IS v0, row for row; history stays inspectable
    val head = VersionLog.readVersion(spark, vdir, 3)
    val v0 = VersionLog.readVersion(spark, vdir, 0)
    assert(head.exceptAll(v0).count() == 0 && v0.exceptAll(head).count() == 0,
      "restored head diverged from the target version")
    assert(VersionLog.readVersion(spark, vdir, 2)
      .filter(col("tag") === "R2").count() == 30,
      "pre-restore history no longer readable")
    // a vacuumed target refuses loudly
    VersionLog.vacuum(spark, s"$base/data", vdir, retainLast = 1)
    val e = intercept[IllegalArgumentException] {
      FileSkipping.restoreVersion(spark, vdir, 1)
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
  }

  test("ZORDER rewrite: content exact, dim stats carried, rewrite-only class, racing merge aborts") {
    // the OPTIMIZE … ZORDER BY verb's commit semantics (its PRUNING
    // claim is q211's physical probe): a content-preserving rewrite-only
    // transaction whose snapshot carries the clustered dims' per-file
    // extents, composing with concurrent writers like compaction
    val base = freshTable("zorder")
    val vdir = s"$base/versions"
    VersionLog.commitSnapshot(spark, vdir,
      FileSkipping.buildManifest(spark, s"$base/data", "k")) // v0
    val before = spark.read.parquet(s"$base/data").collect().toSeq
    val (v, rewritten, written) = FileSkipping.zorderOcc(spark, s"$base/data", vdir,
      "k", ("k", "v"), "ZO")
    assert(v == 1 && rewritten == 8 && written >= 1)
    // content exact, row for row
    val head = VersionLog.readVersion(spark, vdir, 1).collect().toSeq
    assert(head.toSet == before.toSet && head.size == before.size,
      "z-ordered head diverged from the input content")
    // the snapshot carries BOTH dims' extents and the rewrite-only class
    val man = VersionLog.manifestAt(spark, vdir, 1)
    assert(Seq("min_k", "max_k", "min_v", "max_v").forall(man.columns.contains),
      s"dim stats missing from the z-ordered snapshot: ${man.columns.mkString(",")}")
    assert(VersionLog.describeHistory(spark, vdir).collect()(1).getBoolean(3),
      "ZORDER commit not classified rewrite-only")
    // racing content commit: the stale z-order aborts (its inputs were
    // rewritten under it), never lands a layout that drops the merge
    val pin = VersionLog.begin(spark, vdir)
    assert(FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(100, 130).withColumn("tag", lit("ZR")), "ZR") == 2)
    intercept[java.util.ConcurrentModificationException] {
      FileSkipping.zorderOcc(spark, s"$base/data", vdir, "k", ("k", "v"), "ZO2",
        pinned = Some(pin))
    }
    assert(VersionLog.head(spark, vdir) == 2, "aborted ZORDER moved head")
  }

  test("appendOcc memoizes the bootstrap schema probe (zero footer re-opens), still rejects divergence") {
    // round-13 verdict #6: a schema contract that probes one parquet
    // footer on EVERY append costs ~4 RPCs + a Spark job on an object
    // store. With no schema record the table's schema is immutable by the
    // very contract being enforced, so one probe per (log, JVM) serves
    // all later appends — memo identity-tagged by the log's v0 part file.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[graft.util.CountFs].getName)
    hc.setBoolean("fs.countfs.impl.disable.cache", true)
    val base = scratch("lifec_appmemo")
    graft.util.Staging.deleteRecursive(base)
    val dataDir = s"countfs:$base/data"
    val vdir = s"$base/versions"
    def delta(lo: Long) = rows(lo, lo + 20)
    delta(0).coalesce(1).write.parquet(dataDir)
    VersionLog.commitSnapshot(spark, vdir, FileSkipping.buildManifest(spark, dataDir, "k"))
    // the first append probes the one v0 file's footer (the contract
    // schema); later appends must never re-open it — fresh-file stats
    // reads touch only each append's own slot
    assert(FileSkipping.appendOcc(delta(100), dataDir, vdir, "k", "A1") == 1)
    val probedFile = new java.io.File(s"$base/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.head
    try {
      graft.util.CountFs.openNeedle = Some(probedFile)
      graft.util.CountFs.openHits.set(0)
      assert(FileSkipping.appendOcc(delta(200), dataDir, vdir, "k", "A2") == 2)
      assert(FileSkipping.appendOcc(delta(300), dataDir, vdir, "k", "A3") == 3)
      val opens = graft.util.CountFs.openHits.get()
      assert(opens == 0,
        s"steady-state appends opened the contract-probe footer $opens time(s) " +
          "— the per-append footer read is back")
      // the MEMOIZED schema still enforces the contract loudly
      val bad = delta(400).withColumn("k", col("k").cast("string"))
      val e = intercept[IllegalArgumentException] {
        FileSkipping.appendOcc(bad, dataDir, vdir, "k", "A4")
      }
      assert(e.getMessage.contains("physical TYPE"), e.getMessage)
      assert(VersionLog.head(spark, vdir) == 3, "a rejected append committed")
    } finally graft.util.CountFs.openNeedle = None
  }

  test("OPTIMIZE … WHERE races a merge: disjoint bands compose, an in-range rewrite aborts the compactor") {
    // round-14 verdict stretch acceptance: scoped compaction keeps full
    // OPTIMIZE's rewrite-only composition contract. 8 key-sorted files
    // over keys 0..7999; the scope covers the LOW quarter.
    val base = freshTable("optwhere_race")
    val vdir = s"$base/versions"
    VersionLog.commitSnapshot(spark, vdir,
      FileSkipping.buildManifest(spark, s"$base/data", "k")) // v0
    val scope = Some((lit(0L), lit(1999L)))
    // (a) a merge REWRITES an in-range file under the pinned compactor:
    // stale input — the compactor aborts loudly, head never a mix
    val pin0 = VersionLog.begin(spark, vdir)
    assert(FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(100, 130).withColumn("tag", lit("LO")), "LO") == 1)
    intercept[java.util.ConcurrentModificationException] {
      FileSkipping.compactSmallOcc(spark, s"$base/data", vdir, "k",
        Long.MaxValue, Long.MaxValue, "OW1", pinned = Some(pin0), scope = scope)
    }
    assert(VersionLog.head(spark, vdir) == 1, "aborted scoped compactor moved head")
    // (b) a merge in the HIGH band lands while the scoped compactor is
    // pinned: disjoint file sets — BOTH land (the compactor's commit is
    // rewrite-only, the merge touched no in-range file)
    val pin1 = VersionLog.begin(spark, vdir)
    assert(FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(7000, 7030).withColumn("tag", lit("HI")), "HI") == 2)
    val (v, compacted, written) = FileSkipping.compactSmallOcc(spark,
      s"$base/data", vdir, "k", smallBytes = Long.MaxValue, targetBytes = Long.MaxValue,
      txnId = "OW2", pinned = Some(pin1), scope = scope)
    // the sampled range partitioner puts ~2-3 files (plus the LO-merge
    // rewrite) in or straddling [0,1999] — but never the high half
    assert(v == 3 && compacted >= 2 && compacted <= 5 && written == 1,
      s"scoped compactor must fold only the in-range files, got ($v,$compacted,$written)")
    assert(VersionLog.manifestAt(spark, vdir, 3)
      .filter(col("min_key") >= 4000L).count() >= 3,
      "high-band files must survive the scoped compaction untouched")
    // content after both: merges applied AND low band compacted, no loss
    val head = VersionLog.readVersion(spark, vdir, 3)
    assert(head.count() == 8000 && head.filter(col("tag") === "HI").count() == 30
      && head.filter(col("tag") === "LO").count() == 30)
  }

  test("a head data file deleted outside the log: DESCRIBE DETAIL and OPTIMIZE fail loudly, naming it") {
    // no silent drops: a live file the log references but the filesystem
    // lost must never count as 0 bytes (DETAIL) or be skipped (OPTIMIZE)
    val base = freshTable("lostfile", nFiles = 4)
    val vdir = s"$base/versions"
    VersionLog.commitSnapshot(spark, vdir,
      FileSkipping.buildManifest(spark, s"$base/data", "k")) // v0
    val reg = Map("t" -> graft.io.TableSql.TableRef(s"$base/data", vdir, "k"))
    assert(graft.io.TableSql(spark, reg, "DESCRIBE DETAIL t").head()
      .getAs[Long]("size_bytes") > 0)
    val lost = VersionLog.manifestAt(spark, vdir, 0).select("file").collect()
      .map(_.getString(0)).min
    assert(new java.io.File(new java.net.URI(lost).getPath).delete())
    val lostPath = new org.apache.hadoop.fs.Path(lost).toUri.getPath
    val detail = intercept[IllegalStateException] {
      graft.io.TableSql(spark, reg, "DESCRIBE DETAIL t").collect()
    }
    assert(detail.getMessage.contains(lostPath), detail.getMessage)
    val optimize = intercept[IllegalStateException] {
      graft.io.TableSql(spark, reg, "OPTIMIZE t").collect()
    }
    assert(optimize.getMessage.contains(lostPath), optimize.getMessage)
    assert(VersionLog.head(spark, vdir) == 0, "a failed OPTIMIZE must not commit")
  }
}
