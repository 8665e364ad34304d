package graft

import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.{Failure, Success, Try}

/** The OCC multi-writer conflict machinery, exercised by GENUINELY
  * concurrent threads — the paths q192 cannot pin from a single thread
  * ([[graft.io.VersionLog.commitRebase]]'s claim/spin/validate loop and
  * both abort classes):
  *
  *   - two racing writers with OVERLAPPING key bands: exactly one lands,
  *     the other aborts with `ConcurrentModificationException`, its
  *     claim is released, and the retry against the new head converges
  *     to the serial result;
  *   - the FILE-conflict abort (both transactions rewrote the same
  *     file — the stale-rewrite anomaly);
  *   - the claim spin-wait (an in-flight committer's `_SUCCESS` lands
  *     mid-spin and the waiter rebases one version later) and the
  *     orphaned-claim timeout;
  *   - two racing writers with DISJOINT bands: both land, any commit
  *     order, union exact.
  *
  * Spark's scheduler is thread-safe (one shared local session, jobs
  * submitted from scalatest-side threads) — the races here are real
  * claim-file races on the version log, not simulations.
  */
class ConcurrencySpec extends SparkSpec {
  import graft.io.{FileSkipping, VersionLog}

  /** Fresh 8-file range-sorted table (keys 0..7999, ~1000/file) with
    * manifest + a bootstrapped version log. Returns (dataDir, vdir). */
  private def freshTable(name: String): (String, String) = {
    val base = scratch(s"conc_$name")
    graft.util.Staging.deleteRecursive(base)
    spark.range(8000).select(col("id").as("k"),
        concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
        (col("id") % 997 / 7.0).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    FileSkipping.buildManifest(spark, s"$base/data", "k")
      .write.mode("overwrite").parquet(s"$base/manifest")
    VersionLog.commit(spark, s"$base/versions", s"$base/manifest") // v0
    (s"$base/data", s"$base/versions")
  }

  private def insertsDf(lo: Long, n: Long, tag: String) =
    spark.range(lo, lo + n).select(col("id").as("k"), lit(tag).as("tag"),
      lit(9.9).as("v"))

  /** Every claim in the log must be SPENT (its snapshot landed): an
    * aborted transaction must release its claim, or the slot is blocked
    * for every later writer. */
  private def noOrphanedClaims(vdir: String): Unit = {
    val claims = new java.io.File(vdir).listFiles()
      .filter(_.getName.startsWith(".claim-v")).map(_.getName.stripPrefix(".claim-"))
    claims.foreach { v =>
      assert(new java.io.File(s"$vdir/$v/_SUCCESS").exists(),
        s"claim for $v has no landed snapshot — aborted txn leaked its claim")
    }
  }

  test("racing writers with overlapping bands: one lands, one aborts, claim released, retry converges") {
    val (data, vdir) = freshTable("band")
    // two blind INSERTS into overlapping key ranges — no shared files
    // (removed = none on both sides), so only the key-band check can see
    // the write-write anomaly
    val insA = insertsDf(1000000L, 60, "OCC-A")
    val insB = insertsDf(1000030L, 60, "OCC-B") // overlaps A on [1000030, 1000059]
    val pinA = VersionLog.begin(spark, vdir)
    val pinB = VersionLog.begin(spark, vdir)
    assert(pinA._1 == 0 && pinB._1 == 0, "both transactions must pin v0")
    val fA = Future(Try(FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", insA, "A", Some(pinA))))
    val fB = Future(Try(FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", insB, "B", Some(pinB))))
    val (rA, rB) = (Await.result(fA, 5.minutes), Await.result(fB, 5.minutes))
    val outcomes = Seq("A" -> rA, "B" -> rB)
    val winners = outcomes.collect { case (n, Success(v)) => (n, v) }
    val losers = outcomes.collect { case (n, Failure(e)) => (n, e) }
    assert(winners.size == 1 && losers.size == 1,
      s"expected exactly one commit and one abort, got winners=$winners losers=$losers")
    assert(winners.head._2 == 1, "the winner must have committed v1")
    losers.foreach { case (_, e) =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString)
      assert(e.getMessage.contains("key band"), s"expected a band-conflict abort: ${e.getMessage}")
    }
    // the aborted claim must be RELEASED: head is v1 and no claim file
    // exists without a landed snapshot
    assert(VersionLog.head(spark, vdir) == 1)
    noOrphanedClaims(vdir)
    // retry-after-abort: re-pin the NEW head, recompute, commit — the
    // loser's delta now sees the winner's rows (overlap keys become
    // matched updates) and converges to the serial winner-then-loser result
    val (loserName, _) = losers.head
    val loserDelta = if (loserName == "A") insA else insB
    val v2 = FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", loserDelta,
      s"$loserName-retry", pinned = Some(VersionLog.begin(spark, vdir)))
    assert(v2 == 2, s"retry must rebase onto v1 and land as v2, got $v2")
    val winnerDelta = if (loserName == "A") insB else insA
    val expected = spark.range(8000).select(col("id").as("k"),
        concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
        (col("id") % 997 / 7.0).as("v"))
      .unionByName(winnerDelta.join(loserDelta.select("k"), Seq("k"), "left_anti"))
      .unionByName(loserDelta)
    val got = VersionLog.readVersion(spark, vdir, v2)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0,
      "retried merge diverged from the serial winner-then-loser result")
  }

  test("file-conflict abort: a second rewrite of the same file is based on stale content") {
    val (data, vdir) = freshTable("file")
    // both transactions UPDATE keys inside file 0's band (keys 0..~999):
    // different keys, same rewritten file — the rebase would silently
    // drop A's updates if B's stale rewrite of that file landed
    val updA = spark.range(100, 111).select(col("id").as("k"), lit("F-A").as("tag"), lit(1.1).as("v"))
    val updB = spark.range(200, 211).select(col("id").as("k"), lit("F-B").as("tag"), lit(2.2).as("v"))
    val pinA = VersionLog.begin(spark, vdir)
    val pinB = VersionLog.begin(spark, vdir)
    assert(FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", updA, "FA", Some(pinA)) == 1)
    val e = intercept[java.util.ConcurrentModificationException] {
      FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", updB, "FB", Some(pinB))
    }
    assert(e.getMessage.contains("removed") && e.getMessage.contains("rewrote"),
      s"expected the FILE-conflict class, got: ${e.getMessage}")
    noOrphanedClaims(vdir)
    // the retry converges: both update sets present at the new head
    val v2 = FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", updB, "FB-retry",
      pinned = Some(VersionLog.begin(spark, vdir)))
    val head = VersionLog.readVersion(spark, vdir, v2)
    assert(head.filter(col("tag") === "F-A").count() == 11)
    assert(head.filter(col("tag") === "F-B").count() == 11)
  }

  test("claim spin-wait: an in-flight committer's snapshot lands mid-spin; the waiter rebases one later") {
    val (_, vdir) = freshTable("spin")
    // another writer holds v1's claim but its snapshot has not landed yet
    new java.io.File(s"$vdir/.claim-v1").createNewFile()
    val added = insertsDf(2000000L, 5, "SPIN")
      .groupBy(lit(s"$vdir/fake.parquet").as("file"))
      .agg(min(col("k")).as("min_key"), max(col("k")).as("max_key"),
        count(lit(1)).as("n_rows"), count(col("k")).as("n_keys"))
    val waiter = Future(Try(VersionLog.commitRebase(spark, vdir, 0, Seq.empty, added,
      spinMs = 100L, maxSpins = 100)))
    // let the waiter enter its spin loop, then land v1 (disjoint insert
    // band far from the waiter's, so the rebase validates cleanly)
    Thread.sleep(600)
    VersionLog.manifestAt(spark, vdir, 0)
      .write.mode("overwrite").parquet(s"$vdir/v1")
    val r = Await.result(waiter, 5.minutes)
    assert(r == Success(2), s"waiter should rebase onto the landed v1 and commit v2, got $r")
    assert(VersionLog.head(spark, vdir) == 2)
  }

  test("orphaned claim: a claim whose snapshot never lands fails loudly after maxSpins") {
    val (_, vdir) = freshTable("orphan")
    new java.io.File(s"$vdir/.claim-v1").createNewFile()
    val added = insertsDf(3000000L, 5, "ORPH")
      .groupBy(lit(s"$vdir/fake2.parquet").as("file"))
      .agg(min(col("k")).as("min_key"), max(col("k")).as("max_key"),
        count(lit(1)).as("n_rows"), count(col("k")).as("n_keys"))
    val e = intercept[IllegalStateException] {
      VersionLog.commitRebase(spark, vdir, 0, Seq.empty, added, spinMs = 20L, maxSpins = 3)
    }
    assert(e.getMessage.contains("orphaned claim"), e.getMessage)
    // the orphaned claim is NOT ours to release — remediation is manual,
    // as documented; head unchanged
    assert(VersionLog.head(spark, vdir) == 0)
  }

  /** 1 big file (keys 0..3999) + 8 small files (keys 4000..7999) — the
    * post-streaming-ingest layout a compactor maintains. */
  private def freshSkewedTable(name: String): (String, String) = {
    val base = scratch(s"conc_$name")
    graft.util.Staging.deleteRecursive(base)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
      (col("id") % 997 / 7.0).as("v"))
    rows(0, 4000).coalesce(1).write.mode("overwrite").parquet(s"$base/data")
    rows(4000, 8000).repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("append").parquet(s"$base/data")
    FileSkipping.buildManifest(spark, s"$base/data", "k")
      .write.mode("overwrite").parquet(s"$base/manifest")
    VersionLog.commit(spark, s"$base/versions", s"$base/manifest") // v0
    (s"$base/data", s"$base/versions")
  }

  private def bigFileLen(data: String): Long = {
    val p = new org.apache.hadoop.fs.Path(data)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).max
  }

  test("rewrite-only class: OCC compaction rebases over a file-disjoint merge despite full band overlap") {
    val (data, vdir) = freshSkewedTable("compact_after")
    // merge confined to the BIG file + a beyond-range insert: its key
    // band [0, beyond] SPANS the small files' band, so plain band
    // validation would abort the compaction — only the rewrite-only
    // class lets the canonical compaction-racing-merge pair both land
    val delta = spark.range(100, 141).select(col("id").as("k"), lit("RW-M").as("tag"), lit(3.3).as("v"))
      .unionByName(insertsDf(1000000L, 10, "RW-I"))
    val pinM = VersionLog.begin(spark, vdir)
    val pinC = VersionLog.begin(spark, vdir)
    assert(FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", delta, "RWM", Some(pinM)) == 1)
    val (vC, compacted, written) = FileSkipping.compactSmallOcc(
      spark, data, vdir, "k", smallBytes = bigFileLen(data), targetBytes = Long.MaxValue,
      "RWC", pinned = Some(pinC))
    assert(vC == 2, s"compaction must rebase onto the merge's v1 and land as v2, got $vC")
    assert(compacted == 8 && written == 1, s"expected 8 smalls -> 1 file, got $compacted -> $written")
    assert(VersionLog.isRewriteOnly(spark, vdir, 2) && !VersionLog.isRewriteOnly(spark, vdir, 1))
    // content at the head == the merge alone (compaction invisible), and
    // the head references fewer files
    val expected = spark.range(8000).filter(!col("id").between(100, 140))
      .select(col("id").as("k"), concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
        (col("id") % 997 / 7.0).as("v"))
      .unionByName(delta)
    val got = VersionLog.readVersion(spark, vdir, vC)
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0,
      "compaction racing a merge changed table content")
    assert(VersionLog.manifestAt(spark, vdir, 2).count() <
      VersionLog.manifestAt(spark, vdir, 1).count())
  }

  test("rewrite-only class: a merge rebases over an intermediate rewrite-only compaction") {
    val (data, vdir) = freshSkewedTable("merge_after")
    val pinC = VersionLog.begin(spark, vdir)
    val pinM = VersionLog.begin(spark, vdir)
    val (vC, compacted, _) = FileSkipping.compactSmallOcc(
      spark, data, vdir, "k", smallBytes = bigFileLen(data), targetBytes = Long.MaxValue,
      "RWC2", pinned = Some(pinC))
    assert(vC == 1 && compacted == 8)
    // the merge's band spans the compaction's; without the intermediate
    // commit's _REWRITE_ONLY marker the band check would abort it. Its
    // FILES (the big one) are disjoint from the compacted smalls.
    val delta = spark.range(200, 241).select(col("id").as("k"), lit("RW-M2").as("tag"), lit(4.4).as("v"))
      .unionByName(insertsDf(2000000L, 10, "RW-I2"))
    val vM = FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", delta, "RWM2", Some(pinM))
    assert(vM == 2, s"merge must rebase over the rewrite-only compaction, got $vM")
    val expected = spark.range(8000).filter(!col("id").between(200, 240))
      .select(col("id").as("k"), concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
        (col("id") % 997 / 7.0).as("v"))
      .unionByName(delta)
    val got = VersionLog.readVersion(spark, vdir, vM)
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0)
  }

  test("rewrite-only class does NOT waive file conflicts: merge into a compacted file aborts, retry converges") {
    val (data, vdir) = freshSkewedTable("filewins")
    val pinC = VersionLog.begin(spark, vdir)
    val pinM = VersionLog.begin(spark, vdir)
    assert(FileSkipping.compactSmallOcc(spark, data, vdir, "k",
      smallBytes = bigFileLen(data), targetBytes = Long.MaxValue,
      "RWC3", pinned = Some(pinC))._1 == 1)
    // this merge UPDATES keys inside a small file the compaction just
    // retired — its rewrite is stale content and must abort even though
    // the intermediate commit is rewrite-only
    val delta = spark.range(4100, 4141).select(col("id").as("k"), lit("RW-M3").as("tag"), lit(5.5).as("v"))
    val e = intercept[java.util.ConcurrentModificationException] {
      FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", delta, "RWM3", Some(pinM))
    }
    assert(e.getMessage.contains("removed"), e.getMessage)
    noOrphanedClaims(vdir)
    val vM = FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", delta, "RWM3-retry",
      pinned = Some(VersionLog.begin(spark, vdir)))
    assert(vM == 2)
    val got = VersionLog.readVersion(spark, vdir, vM)
    assert(got.filter(col("tag") === "RW-M3").count() == 41)
    assert(got.count() == 8000)
  }

  test("OCC delete: band-disjoint racing deletes both land; a delete racing a same-band merge aborts") {
    val (data, vdir) = freshTable("occdel")
    // two racing deletes at opposite ends of the keyspace — file- and
    // band-disjoint, both pinned at v0, both must land
    val pinA = VersionLog.begin(spark, vdir)
    val pinB = VersionLog.begin(spark, vdir)
    val cdc = s"${data.stripSuffix("/data")}/delcdc"
    val fA = Future(Try(FileSkipping.deleteRangeOcc(spark, data, vdir, "k",
      lit(100L), lit(300L), "DELA", Some(pinA), cdcDir = Some(cdc))))
    val fB = Future(Try(FileSkipping.deleteRangeOcc(spark, data, vdir, "k",
      lit(7500L), lit(7700L), "DELB", Some(pinB), cdcDir = Some(cdc))))
    val (rA, rB) = (Await.result(fA, 5.minutes), Await.result(fB, 5.minutes))
    assert(rA.isSuccess && rB.isSuccess, s"disjoint deletes must both land: A=$rA B=$rB")
    assert(Set(rA.get._1, rB.get._1) == Set(1, 2))
    noOrphanedClaims(vdir)
    val expected = spark.range(8000)
      .filter(!col("id").between(100, 300) && !col("id").between(7500, 7700))
      .select(col("id").as("k"), concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
        (col("id") % 997 / 7.0).as("v"))
    val got = VersionLog.readVersion(spark, vdir, 2)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0)
    // the committed delete feeds reconstitute the snapshot: head ∪ feeds == v0
    val feed = spark.read.option("recursiveFileLookup", "true").parquet(cdc)
    assert(feed.select("op").distinct().collect().map(_.getString(0)).toSeq == Seq("delete"))
    val rebuilt = got.unionByName(feed.drop("op"))
    val v0 = VersionLog.readVersion(spark, vdir, 0)
    assert(rebuilt.exceptAll(v0).count() == 0 && v0.exceptAll(rebuilt).count() == 0,
      "committed OCC delete feeds do not reconstitute the pinned snapshot")
    // a delete pinned BEFORE a same-band merge lands must abort — its
    // answer would silently miss the merge's rows in the range
    val pinDel = VersionLog.begin(spark, vdir)
    val pinMrg = VersionLog.begin(spark, vdir)
    val mrg = spark.range(4000, 4011).select(col("id").as("k"), lit("OD-M").as("tag"), lit(1.0).as("v"))
    assert(FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", mrg, "ODM", Some(pinMrg)) == 3)
    val e = intercept[java.util.ConcurrentModificationException] {
      FileSkipping.deleteRangeOcc(spark, data, vdir, "k", lit(3900L), lit(4100L),
        "ODD", Some(pinDel))
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    noOrphanedClaims(vdir)
    // the retry against the new head deletes the merge's rows too
    val (v4, _, _) = FileSkipping.deleteRangeOcc(spark, data, vdir, "k",
      lit(3900L), lit(4100L), "ODD-retry", pinned = Some(VersionLog.begin(spark, vdir)))
    assert(v4 == 4)
    val head = VersionLog.readVersion(spark, vdir, v4)
    assert(head.filter(col("k").between(3900L, 4100L)).count() == 0,
      "retried delete missed rows (the merge's included)")
  }

  test("OCC append: private slots kill the listing-diff race; overlapping blind appends abort") {
    val (data, vdir) = freshTable("occappend")
    // two racing appends into DISJOINT key ranges: both land, no
    // mis-attribution possible (each writer's files live in its own slot)
    val pinA = VersionLog.begin(spark, vdir)
    val pinB = VersionLog.begin(spark, vdir)
    val fA = Future(Try(FileSkipping.appendOcc(insertsDf(5000000L, 40, "AP-A"),
      data, vdir, "k", "APA", Some(pinA))))
    val fB = Future(Try(FileSkipping.appendOcc(insertsDf(6000000L, 40, "AP-B"),
      data, vdir, "k", "APB", Some(pinB))))
    val (rA, rB) = (Await.result(fA, 5.minutes), Await.result(fB, 5.minutes))
    assert(rA.isSuccess && rB.isSuccess, s"disjoint appends must both land: A=$rA B=$rB")
    assert(Set(rA.get, rB.get) == Set(1, 2))
    noOrphanedClaims(vdir)
    val head = VersionLog.readVersion(spark, vdir, 2)
    assert(head.count() == 8080)
    assert(head.filter(col("tag") === "AP-A").count() == 40)
    assert(head.filter(col("tag") === "AP-B").count() == 40)
    // overlapping blind appends are the write-write anomaly: one aborts
    val pinC = VersionLog.begin(spark, vdir)
    val pinD = VersionLog.begin(spark, vdir)
    assert(FileSkipping.appendOcc(insertsDf(7000000L, 40, "AP-C"),
      data, vdir, "k", "APC", Some(pinC)) == 3)
    val e = intercept[java.util.ConcurrentModificationException] {
      FileSkipping.appendOcc(insertsDf(7000020L, 40, "AP-D"),
        data, vdir, "k", "APD", Some(pinD))
    }
    assert(e.getMessage.contains("key band"), e.getMessage)
    noOrphanedClaims(vdir)
  }

  test("aborted OCC merge with a change feed: slot deleted on abort, committed feeds replay exactly once across the retry") {
    val (data, vdir) = freshTable("bandcdc")
    val cdc = s"${data.stripSuffix("/data")}/cdc"
    // overlapping blind inserts — same race as the first band test, but
    // BOTH transactions write change feeds: the loser's slot must vanish
    // with its abort (round-10 verdict #1: it used to stay consumable,
    // double-counting once the retry wrote a second slot)
    val insA = insertsDf(1000000L, 60, "CDC-A")
    val insB = insertsDf(1000030L, 60, "CDC-B")
    val pinA = VersionLog.begin(spark, vdir)
    val pinB = VersionLog.begin(spark, vdir)
    val fA = Future(Try(FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", insA, "CA",
      Some(pinA), cdcDir = Some(cdc))))
    val fB = Future(Try(FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", insB, "CB",
      Some(pinB), cdcDir = Some(cdc))))
    val (rA, rB) = (Await.result(fA, 5.minutes), Await.result(fB, 5.minutes))
    val outcomes = Seq(("CA", insA, rA), ("CB", insB, rB))
    val winners = outcomes.filter(_._3.isSuccess)
    val losers = outcomes.filter(_._3.isFailure)
    assert(winners.size == 1 && losers.size == 1,
      s"expected exactly one commit and one abort, got $outcomes")
    val (winTxn, _, _) = winners.head
    val (loseTxn, loserDelta, _) = losers.head
    noOrphanedClaims(vdir)
    // the WINNER's slot is committed-stamped; the LOSER's slot is GONE
    assert(new java.io.File(s"$cdc/txn-$winTxn").listFiles()
        .exists(_.getName.startsWith("_COMMITTED_v")),
      "committed transaction's feed slot missing its _COMMITTED marker")
    assert(!new java.io.File(s"$cdc/txn-$loseTxn").exists(),
      "aborted transaction left its change-feed slot consumable")
    // retry under a fresh txn id (ids are per-attempt in production)
    val v2 = FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", loserDelta,
      s"$loseTxn-retry", pinned = Some(VersionLog.begin(spark, vdir)), cdcDir = Some(cdc))
    assert(v2 == 2)
    // a hard-crashed writer's marker-less slot must be invisible to the
    // committed-feeds consumer (the one window the abort delete can't cover)
    spark.range(1).select(lit(-1L).as("k"), lit("ghost").as("tag"), lit(0.0).as("v"),
        lit("insert").as("op"))
      .write.mode("overwrite").parquet(s"$cdc/txn-ghost")
    val feed = FileSkipping.readCommittedFeeds(spark, cdc)
    assert(feed.filter(col("tag") === "ghost").count() == 0,
      "readCommittedFeeds consumed a marker-less (crashed-writer) slot")
    // committed feeds replay base -> head EXACTLY once: a leaked aborted
    // slot (or a double-counted retry) would break the multiset equality
    val head = VersionLog.readVersion(spark, vdir, v2)
    val base0 = VersionLog.readVersion(spark, vdir, 0)
    val replayed = base0
      .unionByName(feed.filter(col("op") =!= "update_preimage").drop("op"))
      .exceptAll(feed.filter(col("op") === "update_preimage").drop("op"))
    assert(replayed.exceptAll(head).count() == 0 && head.exceptAll(replayed).count() == 0,
      "committed OCC feeds do not replay base -> head exactly once")
  }

  test("six writers with retry-until-commit loops converge: every delta lands exactly once") {
    // the LIVENESS face of OCC: production writers do not stop at one
    // abort — they re-pin and re-run. Six threads race six key-disjoint
    // UPDATE deltas packed so several share a data file (real
    // file-conflict aborts, not just claim races), each retrying with a
    // fresh pin and per-attempt txn id until its commit lands. The log
    // must reach v6 with every claim spent, and the head must equal all
    // six deltas applied — any lost update, double-apply, or leaked
    // abort slot breaks the multiset equality.
    val (data, vdir) = freshTable("manywriters")
    val cdc = s"${data.stripSuffix("/data")}/mwcdc"
    val deltas = (0 until 6).map { w =>
      // 450-key stride on a ~1000-keys-per-file layout: several writers
      // UPDATE inside the same file, so racing commits hit REAL file
      // conflicts (not just claim races) and must retry through them
      val lo = w * 450L
      w -> spark.range(lo, lo + 20).select(col("id").as("k"),
        lit(s"MW-$w").as("tag"), lit(w.toDouble).as("v"))
    }
    val fs = deltas.map { case (w, delta) =>
      Future {
        var attempt = 0
        var committed = -1
        while (committed < 0) {
          attempt += 1
          assert(attempt <= 12, s"writer $w starved after $attempt attempts")
          try committed = FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", delta,
            s"MW$w-a$attempt", pinned = Some(VersionLog.begin(spark, vdir)),
            cdcDir = Some(cdc))
          catch { case _: java.util.ConcurrentModificationException => () }
        }
        committed
      }
    }
    val versions = fs.map(Await.result(_, 10.minutes))
    assert(versions.toSet == (1 to 6).toSet,
      s"six commits must land as v1..v6, got $versions")
    noOrphanedClaims(vdir)
    val expected = spark.range(8000)
      .filter((0 until 6).map(w => !col("id").between(w * 450L, w * 450L + 19))
        .reduce(_ && _))
      .select(col("id").as("k"),
        concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
        (col("id") % 997 / 7.0).as("v"))
      .unionByName(deltas.map(_._2).reduce(_ unionByName _))
    val got = VersionLog.readVersion(spark, vdir, 6)
    assert(got.count() == 8000)
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0,
      "six-writer convergence diverged from the serial union")
    // and the committed feeds alone replay base -> head (aborted
    // attempts' slots must all be gone)
    val feed = FileSkipping.readCommittedFeeds(spark, cdc)
    val replayed = VersionLog.readVersion(spark, vdir, 0)
      .unionByName(feed.filter(col("op") =!= "update_preimage").drop("op"))
      .exceptAll(feed.filter(col("op") === "update_preimage").drop("op"))
    assert(replayed.exceptAll(got).count() == 0 && got.exceptAll(replayed).count() == 0,
      "committed feeds of six retrying writers do not replay base -> head")
  }

  test("racing writers with disjoint bands: both land, union exact under either commit order") {
    val (data, vdir) = freshTable("disjoint")
    // updates confined to opposite ends of the keyspace: file-disjoint
    // AND band-disjoint, so neither abort class may fire
    val updA = spark.range(10, 40).select(col("id").as("k"), lit("D-A").as("tag"), lit(1.0).as("v"))
    val updB = spark.range(7900, 7950).select(col("id").as("k"), lit("D-B").as("tag"), lit(2.0).as("v"))
    val cdc = s"${data.stripSuffix("/data")}/cdc"
    val pinA = VersionLog.begin(spark, vdir)
    val pinB = VersionLog.begin(spark, vdir)
    val fA = Future(Try(FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", updA, "DA",
      Some(pinA), cdcDir = Some(cdc))))
    val fB = Future(Try(FileSkipping.mergeKeyedOcc(spark, data, vdir, "k", updB, "DB",
      Some(pinB), cdcDir = Some(cdc))))
    val (rA, rB) = (Await.result(fA, 5.minutes), Await.result(fB, 5.minutes))
    assert(rA.isSuccess && rB.isSuccess, s"disjoint writers must both land: A=$rA B=$rB")
    assert(Set(rA.get, rB.get) == Set(1, 2), s"expected versions {1,2}, got {$rA,$rB}")
    noOrphanedClaims(vdir)
    val expected = spark.range(8000)
      .filter(!col("id").between(10, 39) && !col("id").between(7900, 7949))
      .select(col("id").as("k"),
        concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
        (col("id") % 997 / 7.0).as("v"))
      .unionByName(updA).unionByName(updB)
    val got = VersionLog.readVersion(spark, vdir, 2)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0,
      "concurrent disjoint merges diverged from the serial union")
    // each committed transaction's PRIVATE feed slot exists (concurrent
    // appends into one dir would collide in _temporary staging), and the
    // combined committed feeds replay base -> head exactly:
    // base + postimages + inserts - preimages == head
    val feed = spark.read.option("recursiveFileLookup", "true").parquet(cdc)
    assert(new java.io.File(s"$cdc/txn-DA").isDirectory && new java.io.File(s"$cdc/txn-DB").isDirectory)
    val base = VersionLog.readVersion(spark, vdir, 0)
    val replayed = base
      .unionByName(feed.filter(col("op") =!= "update_preimage").drop("op"))
      .exceptAll(feed.filter(col("op") === "update_preimage").drop("op"))
    assert(replayed.exceptAll(got).count() == 0 && got.exceptAll(replayed).count() == 0,
      "committed OCC feeds do not replay base -> head")
  }

  test("vacuum racing a pinned committer at the retention edge: land or the loud 'vacuumed while in flight' abort, never a torn snapshot") {
    // round-11 verdict #8. The scratch dirs carry "injected" in their
    // name ON PURPOSE: when vacuum wins mid-validation, the committer's
    // read of its vacuumed pin fails Spark tasks before commitRebase
    // translates the failure into the loud contract abort — those task
    // failures ARE the injected race, and TaskFailureAudit's convention
    // exempts failures whose description (the file path) says so.
    (0 until 4).foreach { round =>
      val (data, vdir) = freshTable(s"vacrace_injected_$round")
      // advance to v1; the pin sits exactly at the retention edge once
      // v2 lands (retainLast = 1 keeps the head only)
      FileSkipping.appendOcc(insertsDf(1000000L, 20, "ADV1"), data, vdir, "k", "ADV1") // v1
      val pin = VersionLog.begin(spark, vdir) // pinned at v1
      FileSkipping.appendOcc(insertsDf(2000000L, 20, "ADV2"), data, vdir, "k", "ADV2") // v2
      val fCommit = Future {
        Thread.sleep(round.toLong * 15) // vary the interleaving per round
        Try(FileSkipping.appendOcc(insertsDf(3000000L, 20, "MINE"),
          data, vdir, "k", "MINE", pinned = Some(pin)))
      }
      val fVacuum = Future {
        Thread.sleep((3 - round).toLong * 15)
        Try(VersionLog.vacuum(spark, data, vdir, retainLast = 1))
      }
      val (rc, rv) = (Await.result(fCommit, 5.minutes), Await.result(fVacuum, 5.minutes))
      assert(rv.isSuccess, s"vacuum must never tear: $rv")
      rc match {
        case Success(v) =>
          // landed before (or around) the vacuum: the committed snapshot
          // must be whole and contain the delta exactly once
          val got = VersionLog.readVersion(spark, vdir, v)
          assert(got.filter(col("tag") === "MINE").count() == 20)
        case Failure(e: IllegalStateException) =>
          assert(e.getMessage.contains("vacuumed while"),
            s"round $round: wrong abort shape: ${e.getMessage}")
          // the documented remediation converges: re-pin, re-run
          val v2 = FileSkipping.appendOcc(insertsDf(3000000L, 20, "MINE"),
            data, vdir, "k", "MINE-retry", pinned = Some(VersionLog.begin(spark, vdir)))
          assert(VersionLog.readVersion(spark, vdir, v2)
            .filter(col("tag") === "MINE").count() == 20)
        case Failure(other) => fail(s"round $round: torn outcome: $other")
      }
      // never torn: head readable, every surviving claim spent
      assert(VersionLog.readVersion(spark, vdir, VersionLog.head(spark, vdir))
        .filter(col("tag") === "ADV2").count() == 20)
      noOrphanedClaims(vdir)
    }
  }

  test("OCC streaming-shaped ingest racing a rewrite-only compactor: both land, every batch exactly once") {
    // the q207 composition, genuinely threaded: a serial foreachBatch
    // writer (ingestBatchOcc) races the nightly compactor. The ingest
    // removes no files and the compactor is rewrite-only, so NEITHER
    // abort class may fire in either direction — both must land without
    // a single exception, interleaved any way the scheduler likes.
    val (data, vdir) = freshTable("ingestcompact")
    val batches = (0 until 4).map(b =>
      b -> insertsDf(1000000L * (b + 1), 25, s"B$b"))
    val fIngest = Future {
      batches.map { case (id, df) =>
        Try(FileSkipping.ingestBatchOcc(df, id.toLong, data, "k", vdir))
      }
    }
    val fCompact = Future {
      (0 until 3).map { i =>
        Thread.sleep(40)
        Try(FileSkipping.compactSmallOcc(spark, data, vdir, "k",
          smallBytes = 64L * 1024 * 1024, targetBytes = 32L * 1024 * 1024, s"CPT$i"))
      }
    }
    val (ri, rcomp) = (Await.result(fIngest, 10.minutes), Await.result(fCompact, 10.minutes))
    assert(ri.forall(_.isSuccess), s"ingest batches must all land: $ri")
    assert(rcomp.forall(_.isSuccess), s"rewrite-only compactions must all land: $rcomp")
    noOrphanedClaims(vdir)
    val head = VersionLog.head(spark, vdir)
    val got = VersionLog.readVersion(spark, vdir, head)
    // every batch exactly once, base intact, regardless of interleaving
    assert(got.count() == 8000 + 4 * 25)
    (0 until 4).foreach(b =>
      assert(got.filter(col("tag") === s"B$b").count() == 25, s"batch $b lost or duplicated"))
    // a crash-REPLAYED batch is a no-op: its token short-circuits
    val v2 = FileSkipping.ingestBatchOcc(batches(2)._2, 2L, data, "k", vdir)
    assert(VersionLog.head(spark, vdir) == head, "replayed batch committed twice")
    assert(VersionLog.hasMarker(spark, vdir, v2, "_BATCH_2"))
    // the marker-less sliver (_SUCCESS landed, token create crashed):
    // delete the token, replay again — the manifest backstop re-stamps
    // it on the SAME version instead of committing a duplicate
    val tp = new org.apache.hadoop.fs.Path(s"$vdir/v$v2/_BATCH_2")
    tp.getFileSystem(spark.sessionState.newHadoopConf()).delete(tp, false)
    val v3 = FileSkipping.ingestBatchOcc(batches(2)._2, 2L, data, "k", vdir)
    assert(v3 == v2 && VersionLog.head(spark, vdir) == head,
      "marker-less replay re-committed an already-committed batch")
    assert(VersionLog.hasMarker(spark, vdir, v2, "_BATCH_2"), "backstop did not re-stamp the token")
  }

  test("an incremental feed consumer racing live writers never skips a commit (commit-ordered visibility, threaded)") {
    // the round-12 advice race, run GENUINELY: two writer threads land 10
    // sequential versions (key-disjoint bands, real file-conflict retries)
    // while a consumer thread polls with a cursor as fast as it can.
    // Without the _INTENT protocol a poll landing between writer A's
    // `_SUCCESS` and its slot stamp — while writer B's LATER version is
    // already stamped — advances the cursor past A's slot forever; with
    // it the poll holds below the pending version and folds every commit
    // exactly once. The cursor-fold total must equal the full feed's.
    val (data, vdir) = freshTable("feedrace")
    val cdc = s"${data.stripSuffix("/data")}/frcdc"
    val nCommits = 10
    val writers = (0 until 2).map { w =>
      Future {
        (0 until nCommits / 2).foreach { i =>
          val lo = (w * (nCommits / 2) + i) * 100L
          var attempt = 0
          var done = false
          while (!done) {
            attempt += 1
            assert(attempt <= 15, s"writer $w starved on delta $i")
            try {
              FileSkipping.mergeKeyedOcc(spark, data, vdir, "k",
                spark.range(lo, lo + 10).select(col("id").as("k"),
                  lit(s"FR-$w-$i").as("tag"), lit(1.0).as("v")),
                s"FR$w-$i-a$attempt", pinned = Some(VersionLog.begin(spark, vdir)),
                cdcDir = Some(cdc))
              done = true
            } catch { case _: java.util.ConcurrentModificationException => () }
          }
        }
      }
    }
    val perPoll = scala.collection.mutable.ArrayBuffer.empty[Long]
    val consumer = Future {
      var cursor = 0
      var polls = 0
      while (cursor < nCommits) {
        polls += 1
        assert(polls <= 2000, s"consumer starved at cursor $cursor")
        val (df, next) = FileSkipping.readCommittedFeedsSince(spark, cdc, cursor)
        df.foreach(d => perPoll += d.filter(col("op") === "update_postimage").count())
        cursor = next
        if (df.isEmpty) Thread.sleep(50)
      }
      cursor
    }
    writers.foreach(Await.result(_, 10.minutes))
    assert(Await.result(consumer, 10.minutes) == nCommits)
    noOrphanedClaims(vdir)
    // every commit's postimages folded exactly once — a skipped (or
    // double-read) slot breaks the total
    assert(perPoll.sum == nCommits * 10L,
      s"cursor consumer folded ${perPoll.sum} postimage rows, expected ${nCommits * 10}")
    // steady state: committed intents are RETAINED (reclaimed only by
    // vacuumFeeds — the post-stamp delete raced the poll's two listings,
    // round-14 advice), but every one must resolve as consumed: each
    // retained intent's version has a stamped slot, and none is PENDING
    // (a pending intent here would mean a consumer is stalled forever)
    val intents = new java.io.File(cdc).listFiles()
      .filter(_.getName.startsWith("_INTENT_v"))
      .map(_.getName.stripPrefix("_INTENT_v").toInt).toSet
    val stamped = FileSkipping.committedFeedSlots(spark, cdc).map(_._1).toSet
    assert(intents.subsetOf(stamped),
      s"pending visibility intents leaked: ${(intents -- stamped).toSeq.sorted}")
    // and the feed vacuum reclaims them with the slots
    assert(FileSkipping.vacuumFeeds(spark, cdc, nCommits, Some(vdir)) == nCommits)
    assert(!new java.io.File(cdc).listFiles().exists(_.getName.startsWith("_INTENT_v")),
      "vacuumFeeds left consumed intents behind")
  }
}
