package graft

import org.apache.spark.sql.functions._

/** Version-log and manifest EDGE contracts added in round 11:
  *
  *   - a corrupt `_head` pointer (digits past Int range — the case plain
  *     digit-filtering misses) degrades head() to the listing, never
  *     throws;
  *   - vacuum racing an open pin fails LOUDLY at commit, with the
  *     "vacuumed while in flight" message, never a wrong rebase;
  *   - the versioned streaming ingest reclaims a claim orphaned by a
  *     crash between the claim create and the snapshot's `_SUCCESS`
  *     (round-10 review: every replay used to abort — a stuck stream);
  *   - PRE-n_keys 4-column manifests survive every mutation: the stats
  *     union is schema-tolerant and covered files demote to the rewrite
  *     path (slower, never wrong — round-10 review: the union used to
  *     throw mid-mutation, after replacement files had landed);
  *   - a version log whose snapshots straddle the stats upgrade still
  *     rebases;
  *   - multi-column stats carried IN the snapshot schema give 2D
  *     file-pruned reads at both a pinned version and the post-merge
  *     head (the q202 shape), with strictly fewer files opened;
  *   - [[FileSkipping.buildManifest]] lists a layout's files as Spark's
  *     reader does: `_`/`.`-named files and dirs below it are hidden.
  */
class VersionLogEdgeSpec extends SparkSpec {
  import graft.io.{FileSkipping, VersionLog}

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
      (col("id") % 997 / 7.0).as("v"))

  /** 4-file range-sorted table, keys 0..3999 (~1000/file). */
  private def freshTable(name: String): String = {
    val base = scratch(s"vledge_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 4000).repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    FileSkipping.buildManifest(spark, s"$base/data", "k")
      .write.mode("overwrite").parquet(s"$base/manifest")
    base
  }

  /** The same table with a PRE-round-10 manifest (no n_keys column). */
  private def freshLegacyTable(name: String): String = {
    val base = scratch(s"vledge_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 4000).repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    FileSkipping.buildManifest(spark, s"$base/data", "k").drop("n_keys")
      .write.mode("overwrite").parquet(s"$base/manifest")
    base
  }

  test("buildManifest lists a layout's files as Spark's reader does: _ and . names are hidden") {
    val base = freshTable("hidden")
    val data = java.nio.file.Paths.get(s"$base/data")
    val one = data.toFile.listFiles().map(_.toPath)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    for (d <- Seq("_temporary/0", ".staging")) {
      java.nio.file.Files.createDirectories(data.resolve(d))
      java.nio.file.Files.copy(one, data.resolve(s"$d/${one.getFileName}"))
    }
    java.nio.file.Files.copy(one, data.resolve(s"_${one.getFileName}"))
    val man = FileSkipping.buildManifest(spark, s"$base/data", "k")
    val listed = man.select("file").collect().map(_.getString(0)).toSet
    val read = spark.read.parquet(s"$base/data").select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(listed.size == 4 && listed == read)
    assert(man.agg(sum("n_rows")).head().getLong(0) == 4000L)
  }

  test("corrupt _head pointer (Int overflow digits) degrades to the listing, never throws") {
    val base = freshTable("headhint")
    val vdir = s"$base/versions"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    VersionLog.commit(spark, vdir, s"$base/manifest") // v1
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$vdir/_head"),
      "99999999999999999999".getBytes("UTF-8")) // all digits, > Int.MaxValue
    assert(VersionLog.head(spark, vdir) == 1,
      "overflowing _head hint must fall back to the listing")
    // and a later commit repairs the pointer
    assert(VersionLog.commit(spark, vdir, s"$base/manifest") == 2)
    assert(VersionLog.head(spark, vdir) == 2)
  }

  test("vacuum under an open pin: the pinned transaction aborts loudly, never rebases wrong") {
    val base = freshTable("vacpin")
    val vdir = s"$base/versions"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    val pin = VersionLog.begin(spark, vdir)           // pinned at v0
    // another writer advances the head, then maintenance vacuums v0 away
    FileSkipping.appendOcc(rows(100000, 100010), s"$base/data", vdir, "k", "ADV") // v1
    val (_, dropped) = VersionLog.vacuum(spark, s"$base/data", vdir, retainLast = 1)
    assert(dropped == 1)
    val e = intercept[IllegalStateException] {
      FileSkipping.appendOcc(rows(200000, 200010), s"$base/data", vdir, "k",
        "PIN", pinned = Some(pin))
    }
    assert(e.getMessage.contains("vacuumed while"), e.getMessage)
    // head intact, re-running against the new head works
    assert(VersionLog.head(spark, vdir) == 1)
    assert(FileSkipping.appendOcc(rows(200000, 200010), s"$base/data", vdir, "k",
      "PIN2", pinned = Some(VersionLog.begin(spark, vdir))) == 2)
  }

  test("versioned ingest reclaims a claim orphaned between claim create and snapshot _SUCCESS") {
    val base = freshTable("orphaningest")
    val vdir = s"$base/versions"
    val b0 = rows(0, 100).withColumnRenamed("k", "ts")
    assert(FileSkipping.ingestBatchVersioned(b0, 0L, s"$base/ingest", "ts", vdir) == 0)
    // simulate a crash AFTER claiming v1, BEFORE its snapshot landed
    new java.io.File(s"$vdir/.claim-v1").createNewFile()
    val b1 = rows(100, 250).withColumnRenamed("k", "ts")
    // the replay must reclaim the orphan and commit, not abort forever
    assert(FileSkipping.ingestBatchVersioned(b1, 1L, s"$base/ingest", "ts", vdir) == 1)
    assert(VersionLog.readVersion(spark, vdir, 1).count() == 250)
    // a re-replay of batch 1 short-circuits on its marker (unchanged)
    assert(FileSkipping.ingestBatchVersioned(b1, 1L, s"$base/ingest", "ts", vdir) == 1)
    assert(VersionLog.head(spark, vdir) == 1)
  }

  test("versioned ingest replay after a landed-snapshot-no-marker crash commits nothing twice") {
    val base = freshTable("markerwindow")
    val vdir = s"$base/versions"
    val b0 = rows(0, 100).withColumnRenamed("k", "ts")
    val b1 = rows(100, 250).withColumnRenamed("k", "ts")
    assert(FileSkipping.ingestBatchVersioned(b0, 0L, s"$base/ingest", "ts", vdir) == 0)
    assert(FileSkipping.ingestBatchVersioned(b1, 1L, s"$base/ingest", "ts", vdir) == 1)
    // simulate the crash sliver: v1 landed (_SUCCESS present) but its
    // _BATCH_1 marker never got stamped
    assert(new java.io.File(s"$vdir/v1/_BATCH_1").delete())
    // the replay must recognize the slot already committed at the head —
    // NOT land a duplicate v2 with batch 1's rows folded twice
    assert(FileSkipping.ingestBatchVersioned(b1, 1L, s"$base/ingest", "ts", vdir) == 1)
    assert(VersionLog.head(spark, vdir) == 1, "marker-window replay committed a duplicate version")
    assert(VersionLog.readVersion(spark, vdir, 1).count() == 250)
    // and the backstop re-stamped the marker, restoring the fast path
    assert(VersionLog.hasMarker(spark, vdir, 1, "_BATCH_1"))
  }

  test("legacy 4-column manifest: deleteRange demotes covered files to the rewrite path, content exact") {
    val base = freshLegacyTable("legacydel")
    val vdir = s"$base/versions"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0: LEGACY schema
    // [1000, 1999] covers file 1 ENTIRELY — with n_keys the file would
    // retire unread; without it nothing can prove null-freeness, so the
    // covered file must DEMOTE to the rewrite path instead of crashing
    // the stats union (round-10 review)
    val (v1, unread, rewritten) = FileSkipping.deleteRangeOcc(spark, s"$base/data", vdir, "k",
      lit(1000L), lit(1999L), "LDEL")
    assert(unread == 0, "a legacy manifest cannot prove null-freeness — no unread retire")
    assert(rewritten >= 1)
    assert(VersionLog.manifestAt(spark, vdir, v1).columns.contains("n_keys"),
      "the rewrite upgrades the snapshot schema")
    val expected = rows(0, 4000).filter(!col("k").between(1000, 1999))
    val data = VersionLog.prunedReadVersion(spark, vdir, v1,
      lit(Long.MinValue), lit(Long.MaxValue))
    assert(data.count() == expected.count())
    assert(data.exceptAll(expected).count() == 0 && expected.exceptAll(data).count() == 0)
  }

  test("legacy 4-column manifest: mergeKeyed and compactSmall complete, content exact") {
    val base = freshLegacyTable("legacymerge")
    val vdir = s"$base/versions"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0: LEGACY schema
    val delta = rows(500, 520).withColumn("tag", lit("LM"))
      .unionByName(rows(900000, 900010).withColumn("tag", lit("LI")))
    val v1 = FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k", delta, "LM")
    val afterMerge = VersionLog.readVersion(spark, vdir, v1)
    assert(afterMerge.filter(col("tag") === "LM").count() == 20)
    assert(afterMerge.filter(col("tag") === "LI").count() == 10)
    assert(afterMerge.count() == 4010)
    // the merge's snapshot (now mixed legacy/new rows) feeds compaction
    val (v2, compacted, written) = FileSkipping.compactSmallOcc(spark, s"$base/data", vdir,
      "k", smallBytes = Long.MaxValue, targetBytes = Long.MaxValue, "LC")
    assert(compacted >= 2 && written >= 1)
    val expectedAfter = rows(0, 4000).filter(!col("k").between(500, 519))
      .unionByName(rows(500, 520).withColumn("tag", lit("LM")))
      .unionByName(rows(900000, 900010).withColumn("tag", lit("LI")))
    val afterCompact = VersionLog.readVersion(spark, vdir, v2)
    assert(afterCompact.count() == 4010)
    assert(afterCompact.exceptAll(expectedAfter).count() == 0 &&
      expectedAfter.exceptAll(afterCompact).count() == 0)
  }

  test("mixed-schema version log: rebase and versioned ingest union across the stats upgrade") {
    val base = freshLegacyTable("legacylog")
    val vdir = s"$base/versions"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0: LEGACY schema
    // an OCC merge commits post-upgrade stats onto the legacy v0
    val v1 = FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(100, 120).withColumn("tag", lit("MX")), "MX")
    assert(v1 == 1)
    val head = VersionLog.readVersion(spark, vdir, v1)
    assert(head.filter(col("tag") === "MX").count() == 20)
    assert(head.count() == 4000)
    // and the versioned ingest unions its stats onto the mixed head
    val b = rows(700000, 700050)
    assert(FileSkipping.ingestBatchVersioned(b, 7L, s"$base/data", "k", vdir) == 2)
    assert(VersionLog.readVersion(spark, vdir, 2).count() == 4050)
  }

  test("2D snapshot stats (q202 shape): box-pruned reads open strictly fewer files at BOTH versions") {
    val base = scratch("vledge_occ2d")
    graft.util.Staging.deleteRecursive(base)
    import graft.relational.ZOrder
    // 4096 points on a 64x64 grid, z-clustered, zk injective (integer
    // y: `/` is DOUBLE division in Spark — shiftright keeps the grid)
    val src = spark.range(4096).select(
      col("id"), (col("id") % 64).as("x"), shiftright(col("id"), 6).as("y"),
      (col("id") % 997 / 7.0).as("price"))
    def withZk(df: org.apache.spark.sql.DataFrame) = df.select(
      (ZOrder.zValue(col("x"), col("y"), 6) * lit(1L << 20) + col("id")).as("zk"),
      col("x"), col("y"), col("price"))
    withZk(src).repartitionByRange(16, col("zk")).sortWithinPartitions("zk")
      .write.mode("overwrite").parquet(s"$base/data")
    val vdir = s"$base/versions"
    VersionLog.commitSnapshot(spark, vdir,
      FileSkipping.buildManifest(spark, s"$base/data", "zk", Seq("x", "y")))
    val delta = withZk(src.filter(col("id") % 17 === 0)
      .withColumn("price", col("price") * 2))
    // the snapshot's x/y stats ride the merge: no column list to pass
    val v1 = FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "zk", delta, "E2D")
    assert(v1 == 1)
    Seq(0, v1).foreach { v =>
      val pruned = FileSkipping.prunedReadVersionMulti(spark, vdir, v,
        Seq(("x", lit(8L), lit(15L)), ("y", lit(48L), lit(55L))))
      val total = VersionLog.manifestAt(spark, vdir, v).count()
      assert(pruned.inputFiles.length < total,
        s"v$v: 2D probe opened ${pruned.inputFiles.length} of $total files — no pruning")
      val got = pruned.filter(col("x").between(8, 15) && col("y").between(48, 55))
      val factor = if (v == 0) lit(1.0) else when(col("id") % 17 === 0, 2.0).otherwise(1.0)
      val expected = src.filter(col("x").between(8, 15) && col("y").between(48, 55))
        .select(col("x"), col("y"), (col("price") * factor).as("price"))
      assert(got.count() == 64, s"v$v: box must hold 8x8 grid points, got ${got.count()}")
      assert(got.select("x", "y", "price").exceptAll(expected).count() == 0,
        s"v$v: 2D-pruned content diverged")
    }
  }

  test("OCC ingest batch-0 attach to a long-lived table is RPC-bounded: no token walk without a slot") {
    // round-12 verdict #5: with no previous-batch token to stop at, the
    // replay probe walked head→v0 probing _BATCH markers — O(head) RPCs
    // when a stream attaches to a long-lived table. The probe is now
    // gated on the batch's slot dir existing (a previous attempt writes
    // its slot BEFORE committing, so no slot proves no prior commit);
    // CountFs counts the marker probes to pin the bound.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[graft.util.CountFs].getName)
    hc.setBoolean("fs.countfs.impl.disable.cache", true)
    val base = freshTable("attach")
    val vdir = s"countfs:$base/versions"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    // a long-lived table: 20 empty rebase commits before the stream attaches
    val emptyStats = FileSkipping.buildManifest(spark, s"$base/data", "k").limit(0)
    for (_ <- 1 to 20)
      VersionLog.commitRebase(spark, vdir, VersionLog.head(spark, vdir),
        Seq.empty, emptyStats)
    assert(VersionLog.head(spark, vdir) == 20)
    try {
      graft.util.CountFs.needle = Some("_BATCH_")
      graft.util.CountFs.hits.set(0)
      val v = FileSkipping.ingestBatchOcc(rows(0, 50), 0L, s"$base/ingest", "k", vdir)
      assert(v == 21)
      val fresh = graft.util.CountFs.hits.get()
      assert(fresh == 0,
        s"a fresh batch 0 probed $fresh _BATCH tokens — the O(head) walk is back")
      // replay (slot exists now): the token sits at head — found in one probe
      graft.util.CountFs.hits.set(0)
      assert(FileSkipping.ingestBatchOcc(rows(0, 50), 0L, s"$base/ingest", "k", vdir) == v)
      val replay = graft.util.CountFs.hits.get()
      assert(replay <= 2, s"a replayed batch probed $replay tokens — expected O(1)")
    } finally graft.util.CountFs.needle = None
  }

  test("describeHistory drives ZERO per-version exists() probes (flat driver RPCs in history length)") {
    // round-13 verdict #4: the marker/schema-record checks were two
    // serial exists() round-trips PER VERSION — O(history) driver RPCs
    // on an object store. Both sets now come from ONE recursive listing;
    // CountFs pins the serial-probe count at zero for any history
    // length (the listing itself is paginated by entry count, the flat
    // shape — see CountFs.exists's scaladoc for why the two counters
    // differ).
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[graft.util.CountFs].getName)
    hc.setBoolean("fs.countfs.impl.disable.cache", true)
    val base = freshTable("deschist")
    val vdir = s"countfs:$base/versions"
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0
    val emptyStats = FileSkipping.buildManifest(spark, s"$base/data", "k").limit(0)
    for (_ <- 1 to 12)
      VersionLog.commitRebase(spark, vdir, VersionLog.head(spark, vdir),
        Seq.empty, emptyStats)
    // one schema record mid-history so the has_schema_record column is live
    FileSkipping.alterAddColumn(spark, vdir, "extra",
      org.apache.spark.sql.types.DoubleType)
    // the flagged O(history) shape was one exists(v$v/_SUCCESS) + one
    // exists(v$v/_schema.json) per version; Spark's own multi-path read
    // validation stats the v-DIRS (part of the single allowed read), so
    // the pin targets exactly the marker probes
    try {
      graft.util.CountFs.existsNeedle = Some("vledge_deschist/versions/v0/_SUCCESS")
      graft.util.CountFs.existsHits.set(0)
      val hist = VersionLog.describeHistory(spark, vdir).collect()
      assert(graft.util.CountFs.existsHits.get() == 0,
        "describeHistory exists()-probed v0/_SUCCESS — the per-version serial " +
          "round-trips are back")
      // and the answer is still exact
      assert(hist.map(_.getInt(0)).toSeq == (0 to 13).toSeq,
        s"history versions wrong: ${hist.map(_.getInt(0)).mkString(",")}")
      assert(hist.count(_.getBoolean(4)) >= 1, "schema-record commit not flagged")
      graft.util.CountFs.existsNeedle = Some("_schema.json")
      graft.util.CountFs.existsHits.set(0)
      VersionLog.describeHistory(spark, vdir).collect()
      assert(graft.util.CountFs.existsHits.get() == 0,
        "describeHistory exists()-probed _schema.json per version — the O(history) " +
          "serial round-trips are back")
    } finally graft.util.CountFs.existsNeedle = None
  }

  test("TIMESTAMP AS OF: boundary, clock-skew ties, mtime fallback, pre-floor refusal, vacuum refusal") {
    val base = freshTable("tstravel")
    val vdir = s"$base/versions"
    val emptyStats = FileSkipping.buildManifest(spark, s"$base/data", "k").limit(0)
    def commitAt(ts: Long): Int = VersionLog.commitRebase(spark, vdir,
      VersionLog.head(spark, vdir), Seq.empty, emptyStats, markers = Seq(s"_TS_$ts"))
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0: WALL-CLOCK stamp
    val wall = VersionLog.timestampAt(spark, vdir, 0)
    assert(math.abs(wall - System.currentTimeMillis) < 600000,
      s"v0's auto stamp $wall is not the commit wall clock")
    // deterministic explicit stamps above the wall clock, with a TIE
    // (v2, v3 share a stamp — concurrent writers' clocks) and a SKEWED
    // v4 whose wall clock runs BEHIND its parent
    val t1 = wall + 100000
    assert(commitAt(t1) == 1)
    assert(commitAt(t1 + 50) == 2)
    assert(commitAt(t1 + 50) == 3)      // tie with v2
    assert(commitAt(t1 - 40000) == 4)   // skew: stamped before v1!
    def at(ts: Long) = VersionLog.versionAtTimestamp(spark, vdir, ts)
    assert(at(t1 - 1) == 0, "an instant just before v1's stamp must resolve v0")
    assert(at(t1) == 1, "AS OF exactly a commit stamp must resolve that commit")
    // tie + skew: version order is truth — v2 and v3 share a stamp, and
    // the skewed v4's ADJUSTED stamp (max(own, parent)) joins the tie,
    // so the instant resolves the LATEST of the tied versions; v4 never
    // resolves EARLIER than its parent despite its backwards wall clock
    assert(at(t1 + 50) == 4,
      "equal adjusted stamps must resolve to the latest version")
    assert(at(t1 + 49) == 1)
    // mtime fallback: a version with no _TS_ marker (legacy / crashed
    // bookkeeping) resolves via its _SUCCESS mtime
    assert(new java.io.File(s"$base/versions/v2/_TS_${t1 + 50}").delete())
    assert(VersionLog.timestampAt(spark, vdir, 2) ==
      new java.io.File(s"$base/versions/v2/_SUCCESS").lastModified)
    // pre-floor refusal
    val e = intercept[IllegalArgumentException] { at(wall - 1) }
    assert(e.getMessage.contains("predates"), e.getMessage)
    // vacuum moves the floor: an instant inside the REclaimed window
    // refuses instead of silently serving the earliest survivor
    VersionLog.vacuum(spark, s"$base/data", vdir, retainLast = 2) // keeps v3, v4
    val e2 = intercept[IllegalArgumentException] { at(t1) }
    assert(e2.getMessage.contains("vacuumed") && e2.getMessage.contains("v3"),
      e2.getMessage)
  }

  test("N-dim z-order: Column formula, Scala ref and SQL twin agree; 2-dim overload unchanged") {
    import graft.relational.ZOrder
    // lockstep across arities: the Column formula evaluated by Spark
    // equals the Scala reference for 3 and 4 dims, and the general
    // formula at d=2 reproduces the original pair interleave exactly
    val probes = Seq(Seq(3L, 5L, 7L), Seq(0L, 255L, 128L), Seq(511L, 1L, 63L))
    val got = spark.range(1).select(
      probes.zipWithIndex.map { case (p, i) =>
        ZOrder.zValue(p.map(v => lit(v)), 8).as(s"z$i") }: _*).head()
    probes.zipWithIndex.foreach { case (p, i) =>
      assert(got.getLong(i) == ZOrder.ref(p, 8), s"3-dim mismatch at $p") }
    assert(ZOrder.ref(Seq(3L, 5L), 8) == ZOrder.ref(3L, 5L, 8),
      "general formula at d=2 must equal the pair interleave")
    val sql4 = spark.sql(
      s"SELECT ${ZOrder.zValueSql(Seq("9", "4", "2", "250"), 8)} AS z").head().getLong(0)
    assert(sql4 == ZOrder.ref(Seq(9L, 4L, 2L, 250L), 8), "SQL twin diverged at d=4")
    // distinct 3-dim points keep distinct codes within the bit budget
    assert(ZOrder.ref(Seq(1L, 2L, 3L), 8) != ZOrder.ref(Seq(3L, 2L, 1L), 8))
  }

  test("checkpoint: DESCRIBE reads checkpoint + tail only, vacuumed history survives, committers compose") {
    val base = freshTable("ckpt")
    val vdir = s"$base/versions"
    val emptyStats = FileSkipping.buildManifest(spark, s"$base/data", "k").limit(0)
    def commitEmpty(): Int = VersionLog.commitRebase(spark, vdir,
      VersionLog.head(spark, vdir), Seq.empty, emptyStats)
    VersionLog.commit(spark, vdir, s"$base/manifest") // v0: 4 files
    (1 to 7).foreach(_ => commitEmpty())              // v1..v7
    // checkpoint through v5; v6..v7 are tail
    assert(VersionLog.checkpoint(spark, vdir, upTo = 5) == 5)
    // monotonicity: re-checkpointing at or below the pointer refuses
    intercept[IllegalArgumentException] { VersionLog.checkpoint(spark, vdir, upTo = 5) }
    // DESCRIBE must not OPEN any snapshot parquet at or below the
    // checkpoint — the summary parquet carries those rows (CountFs pins
    // the BYTES claim the round-14 verdict asked for)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[graft.util.CountFs].getName)
    hc.setBoolean("fs.countfs.impl.disable.cache", true)
    val hist = try {
      graft.util.CountFs.openNeedle = Some("vledge_ckpt/versions/v")
      graft.util.CountFs.openHits.set(0)
      val h = VersionLog.describeHistory(spark, s"countfs:$vdir").collect()
      // only the two TAIL snapshot dirs (v6, v7) may be opened — one
      // parquet part + footer reads each; v0..v5 come from the summary
      val opened = graft.util.CountFs.openHits.get()
      assert(opened > 0 && opened <= 8,
        s"DESCRIBE opened $opened snapshot files — expected only the v6..v7 tail")
      graft.util.CountFs.openNeedle = Some("vledge_ckpt/versions/v3/")
      graft.util.CountFs.openHits.set(0)
      VersionLog.describeHistory(spark, s"countfs:$vdir").collect()
      assert(graft.util.CountFs.openHits.get() == 0,
        "DESCRIBE opened a checkpointed version's snapshot — the O(history) bytes are back")
      h
    } finally graft.util.CountFs.openNeedle = None
    assert(hist.map(_.getInt(0)).toSeq == (0 to 7).toSeq)
    assert(hist.head.getLong(1) == 4, s"v0 must summarize 4 files, got ${hist.head}")
    // vacuum composes: the checkpoint is the METADATA retention floor —
    // dropped versions keep their history rows, counts intact
    VersionLog.vacuum(spark, s"$base/data", vdir, retainLast = 2) // keeps v6, v7
    val hist2 = VersionLog.describeHistory(spark, vdir).collect()
    assert(hist2.map(_.getInt(0)).toSeq == (0 to 7).toSeq,
      s"checkpointed-then-vacuumed versions lost their history rows: ${hist2.map(_.getInt(0)).mkString(",")}")
    assert(hist2.head.getLong(1) == 4)
    // a racing committer composes: versions landing while a checkpoint
    // runs are tail for THIS checkpoint and fold into the next one
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racer = Future { (1 to 3).map(_ => commitEmpty()) }
    val c2 = VersionLog.checkpoint(spark, vdir) // at whatever head it sees
    val landed = Await.result(racer, 2.minutes)
    assert(landed == Seq(8, 9, 10))
    val hist3 = VersionLog.describeHistory(spark, vdir).collect()
    assert(hist3.map(_.getInt(0)).toSeq == (0 to 10).toSeq,
      s"history after racing checkpoint lost versions: ${hist3.map(_.getInt(0)).mkString(",")}")
    // and the next checkpoint folds the racer's commits
    if (c2 < 10) assert(VersionLog.checkpoint(spark, vdir) == 10)
    assert(VersionLog.describeHistory(spark, vdir).collect()
      .map(_.getInt(0)).toSeq == (0 to 10).toSeq)
    // a CORRUPT pointer fails LOUDLY — unlike _head, the checkpoint is
    // not redundant once vacuum dropped the folded dirs, so degrading
    // to "never checkpointed" would silently lose v0..v5 from history
    def rawWrite(txt: String): Unit = { // bypasses Hadoop: drop the stale CRC sidecar
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(vdir, "._last_checkpoint.crc"))
      java.nio.file.Files.write(java.nio.file.Paths.get(vdir, "_last_checkpoint"),
        txt.getBytes("UTF-8"))
    }
    rawWrite("garbage")
    val ce = intercept[IllegalStateException] { VersionLog.describeHistory(spark, vdir) }
    assert(ce.getMessage.contains("corrupt") && ce.getMessage.contains("ckpt-"),
      ce.getMessage)
    rawWrite("10") // operator remediation: restore the pointer
    assert(VersionLog.describeHistory(spark, vdir).collect()
      .map(_.getInt(0)).toSeq == (0 to 10).toSeq)
  }
}
