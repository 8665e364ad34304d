package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bloom

import graft.io.Tables
import graft.relational.{IncrementalAgg, ZOrder}
import graft.text.TextOps

/** Wave-5 scale-path contracts: the properties the oracle can't see —
  * bloom soundness + actual pruning, z-order file-extent locality from a
  * real layout job, merge plan shape, and heavy-hitter candidate
  * containment.
  */
class ScaleOpsSpec extends SparkSpec {

  /** v0 of `base/versions` over `base/data`'s files (key stats plus
    * `extra` columns' min/max); returns the log dir. */
  private def bootstrap(base: String, keyCol: String, extra: Seq[String] = Nil): String = {
    val vdir = s"$base/versions"
    graft.io.VersionLog.commitSnapshot(spark, vdir,
      graft.io.FileSkipping.buildManifest(spark, s"$base/data", keyCol, extra))
    vdir
  }

  private def headVersion(vdir: String): Int = graft.io.VersionLog.head(spark, vdir)
  private def headOf(vdir: String) = graft.io.VersionLog.readVersion(spark, vdir, headVersion(vdir))
  private def headManifest(vdir: String) =
    graft.io.VersionLog.manifestAt(spark, vdir, headVersion(vdir)).drop("rewrite_only")
  private def headFiles(vdir: String): Set[String] =
    headManifest(vdir).select("file").collect().map(_.getString(0)).toSet
  private def nameOf(file: String): String = new org.apache.hadoop.fs.Path(file).getName

  /** Top-level parquet files of `dir`: name → (bytes, mtime). */
  private def topLevelFiles(dir: String): Map[String, (Long, Long)] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap

  /** Names of every parquet file under `dir`, transaction slots included. */
  private def parquetNames(dir: String): Set[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      files.iterator.asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    } finally files.close()
  }

  /** The head snapshot's key stats equal a from-scratch scan of exactly
    * the files it references. */
  private def assertStatsRebuilt(vdir: String, keyCol: String): Unit = {
    val maintained = headManifest(vdir)
      .select("file", "min_key", "max_key", "n_rows", "n_keys").filter(col("n_rows") > 0)
    val rebuilt = spark.read.parquet(headFiles(vdir).toSeq: _*)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"),
        count(lit(1)).as("n_rows"), count(col(keyCol)).as("n_keys"))
    assert(maintained.exceptAll(rebuilt).count() == 0 && rebuilt.exceptAll(maintained).count() == 0,
      "snapshot stats diverge from a full rebuild over its files")
  }

  test("Bloom has no false negatives and prunes the non-member stream") {
    val keys = (0L until 5000L).map(k => k * 2654435761L + 17).toArray
    val bits = Bloom.build(keys)
    assert(keys.forall(Bloom.mightContain(bits, _)), "false negative")
    val keySet = keys.toSet
    val nonMembers = (0L until 20000L).map(k => k * 928371L + 5)
      .filterNot(keySet.contains)
    val fp = nonMembers.count(Bloom.mightContain(bits, _))
    assert(fp.toDouble / nonMembers.size < 0.02,
      s"FPR ${fp.toDouble / nonMembers.size} — sizing regressed")
  }

  test("distributed bloom build is bit-identical to the driver-side build") {
    import spark.implicits._
    val keys = (0L until 40000L).map(k => k * 2654435761L + 17)
    val local = Bloom.build(keys.toArray)
    // 13 uneven partitions + duplicated keys: OR-merge must be insensitive
    // to partitioning and idempotent under repeats
    val dist = Bloom.buildDistributed(
      spark.createDataset(keys ++ keys.take(5000)).repartition(13).rdd,
      keys.length.toLong)
    assert(java.util.Arrays.equals(local, dist),
      "distributed OR-merge diverged from driver-side build")
  }

  test("q126 builds its bloom distributively — no row-scale collect in the pack") {
    // The scale contract the oracle can't see: the benchmark gram set must
    // never land on the driver as rows. Locked in at the source level —
    // the q126 region may not contain a collect() call.
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/queries/ScaleOpsPack.scala")), "UTF-8")
    val start = src.indexOf("q126_bloom_decontam")
    // q126's OWN block: up to the next registered query (the original
    // scan ran to `override def oracles`, which silently widened the
    // locked region to every query added after q126)
    val endCandidates = Seq("\"q164_", "override def oracles")
      .map(src.indexOf(_, start + 1)).filter(_ > start)
    val end = endCandidates.min
    assert(start > 0 && end > start, "q126 region not found")
    val region = src.substring(start, end)
    assert(!region.contains(".collect()"),
      "q126 regained a driver-side collect — bloom build must stay distributed")
    assert(region.contains("buildDistributed"), "q126 no longer uses the distributed build")
  }

  test("q126 bloom prefilter prunes most train grams yet keeps every exact match") {
    import spark.implicits._
    val d = sf("sf0.001")
    val base = Tables.documents(spark, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
    val grams = base.select(col("doc_id"),
        explode(array_distinct(TextOps.wordNgrams(col("w"), 5))).as("s"))
      .select(col("doc_id"), TextOps.hash32(col("s")).as("g"))
    val benchHashes = grams.filter(pmod(col("doc_id"), lit(17)) === 0)
      .select("g").distinct().as[Long].collect()
    val bloom = Bloom.build(benchHashes)
    val train = grams.filter(pmod(col("doc_id"), lit(17)) =!= 0).cache()
    try {
      val total = train.count()
      val kept = train.filter(Bloom.probe(bloom)(col("g"))).count()
      val exact = train.join(
        broadcast(grams.filter(pmod(col("doc_id"), lit(17)) === 0).select("g").distinct()),
        "g").count()
      assert(kept >= exact, s"bloom dropped true matches: kept=$kept exact=$exact")
      assert(kept < total / 2, s"bloom barely pruned: kept=$kept of $total")
    } finally { train.unpersist(); () }
  }

  test("z-order layout job yields files whose (x,y) extents are small tiles") {
    val d = sf("sf0.001")
    val out = util.Staging.dirFor("zorder_layout_spec", d)
    util.Staging.deleteRecursive(out)
    val li = Tables.lineitem(spark, d).select(
      ZOrder.zValue(col("l_partkey"), col("l_suppkey"), 8).as("z"),
      pmod(col("l_partkey"), lit(256L)).as("x"),
      pmod(col("l_suppkey"), lit(256L)).as("y"))
    li.repartitionByRange(8, col("z")).sortWithinPartitions("z")
      .write.mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length >= 4, s"expected several files, got ${files.length}")
    // every z-range file must cover a FRACTION of both dimension domains —
    // that's the property row-group min/max pruning exploits on either
    // filter column (a plain x-sort would leave y spanning its full domain
    // in every file)
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(max("x") - min("x"), max("y") - min("y")).head
      (r.getLong(0), r.getLong(1))
    }
    val avgY = spans.map(_._2).sum.toDouble / spans.length
    assert(avgY <= 160, s"z-order lost y-locality: avg y-span $avgY of 256")
    assert(spans.map(_._1).max <= 255 && spans.nonEmpty)
  }

  test("z-order layout measurably prunes row-groups on a 2D range filter") {
    // The extent test above shows WHY pruning can work; this one measures
    // that it DOES: the same rows written z-ordered vs hash-ordered with
    // small row-groups, probed with a ~0.4%-selectivity 2D box. The scan's
    // numOutputRows counts rows surviving parquet row-group min/max skip
    // (the residual filter runs above the scan), so the ratio between
    // layouts IS the pruning win — the mechanism a 100 TB scan relies on
    // for any engine without file-level stats (and the same stats
    // file-skipping uses where a table format carries them).
    val d = sf("sf0.01")
    // both dims need a full 0..255 domain at sf0.01 (l_suppkey's is ~100)
    val rows = Tables.lineitem(spark, d).select(
      ZOrder.zValue(col("l_partkey"), col("l_orderkey"), 8).as("z"),
      graft.util.Parity.keyHash(col("l_linenumber") + col("l_orderkey") * 8).as("r"),
      pmod(col("l_partkey"), lit(256L)).as("x"),
      pmod(col("l_orderkey"), lit(256L)).as("y"))
    val zDir = util.Staging.dirFor("zorder_prune_z", d)
    val hDir = util.Staging.dirFor("zorder_prune_h", d)
    util.Staging.deleteRecursive(zDir); util.Staging.deleteRecursive(hDir)
    rows.repartitionByRange(8, col("z")).sortWithinPartitions("z")
      .write.option("parquet.block.size", 32 * 1024).mode("overwrite").parquet(zDir)
    rows.repartitionByRange(8, col("r")).sortWithinPartitions("r")
      .write.option("parquet.block.size", 32 * 1024).mode("overwrite").parquet(hDir)

    def scannedRows(dir: String): Long = {
      val df = spark.read.parquet(dir)
        .filter(col("x").between(40, 55) && col("y").between(200, 215))
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case _ if p.children.isEmpty => Seq(p)
        case _ => p.children.flatMap(leaves)
      }
      leaves(df.queryExecution.executedPlan)
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value }
        .sum
    }
    val zScan = scannedRows(zDir)
    val hScan = scannedRows(hDir)
    info(s"scan rows after row-group skip: z-ordered=$zScan, hash-ordered=$hScan " +
      f"(${hScan.toDouble / math.max(zScan, 1)}%.1fx pruning win)")
    // identical answers, different IO
    val zRes = spark.read.parquet(zDir)
      .filter(col("x").between(40, 55) && col("y").between(200, 215))
      .select("x", "y", "z").orderBy("z", "x", "y").collect().toSeq
    val hRes = spark.read.parquet(hDir)
      .filter(col("x").between(40, 55) && col("y").between(200, 215))
      .select("x", "y", "z").orderBy("z", "x", "y").collect().toSeq
    assert(zRes == hRes && zRes.nonEmpty)
    assert(hScan > 0 && zScan * 2 <= hScan,
      s"z-order did not prune: scanned $zScan (z) vs $hScan (hash-ordered)")
  }

  test("manifest file skipping opens strictly fewer files and stays exact") {
    val d = sf("sf0.01")
    SparkEntry.stage(spark, d)
    val base = util.Staging.dirFor("orders_bydate_log", d)
    val lo = lit("1998-03-01").cast("timestamp")
    val hi = lit("1998-04-30").cast("timestamp")
    def numFilesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case _ if p.children.isEmpty => Seq(p)
        case _ => p.children.flatMap(leaves)
      }
      leaves(df.queryExecution.executedPlan)
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value }
        .sum
    }
    val total = spark.read.parquet(s"$base/data").inputFiles.length
    val pruned = graft.io.VersionLog.prunedReadVersion(spark, s"$base/versions", 0, lo, hi)
      .filter(col("o_orderdate").between(lo, hi))
    val full = spark.read.parquet(s"$base/data")
      .filter(col("o_orderdate").between(lo, hi))
    // identical answers
    assert(pruned.count() > 0 && pruned.count() == full.count())
    // measurably fewer file opens (a 2-month probe over ~80 months of
    // 16 range-sorted files should admit 1-2)
    val opened = numFilesScanned(pruned)
    assert(total >= 16 && opened * 4 <= total,
      s"manifest barely pruned: opened $opened of $total files")
    // empty admit: a range before the data's min returns an EMPTY frame
    // with the data schema, not an error
    val none = graft.io.VersionLog.prunedReadVersion(spark, s"$base/versions", 0,
      lit("1960-01-01").cast("timestamp"), lit("1960-12-31").cast("timestamp"))
    assert(none.count() == 0 && none.schema == full.schema)
  }

  test("write-path manifest maintenance equals a full rebuild; pruning stays exact") {
    import graft.io.{FileSkipping, VersionLog}
    val base = scratch("fskip_incr")
    graft.util.Staging.deleteRecursive(base)
    val orders = graft.io.Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    // o_orderdate is TIMESTAMP_NTZ → keep the split as an opaque literal
    val split = orders.agg(percentile_approx(col("o_orderdate"), lit(0.8), lit(100)))
      .head().get(0)
    // bootstrap: the older 80% as the base table + its v0 snapshot
    orders.filter(col("o_orderdate") < lit(split))
      .repartitionByRange(4, col("o_orderdate")).sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(s"$base/data")
    val vdir = bootstrap(base, "o_orderdate")
    // steady state: the newest 20% appended as one transaction — only the
    // appended files are ever scanned for stats
    val v1 = FileSkipping.appendOcc(orders.filter(col("o_orderdate") >= lit(split)).coalesce(1),
      s"$base/data", vdir, "o_orderdate", "APPEND")
    // the incrementally maintained snapshot IS the full rebuild
    assertStatsRebuilt(vdir, "o_orderdate")
    // and pruning through it stays exact over the full (base ∪ delta) range
    val lo = lit(split)
    val hi = lit(split) + expr("INTERVAL 90 DAY")
    val pruned = VersionLog.prunedReadVersion(spark, vdir, v1, lo, hi)
      .filter(col("o_orderdate").between(lo, hi))
    val full = orders.filter(col("o_orderdate").between(lo, hi))
    assert(pruned.count() > 0 && pruned.count() == full.count())
  }

  test("appendWithManifest lists through the Hadoop FileSystem: file: scheme + nested base files") {
    // round-8 review: the java.io.File listing was local-FS-only and
    // top-level-only. This drives the append (appendOcc) through a
    // non-java.io path string (file: URI — same code path any Hadoop
    // scheme takes) with a NESTED data file the log never committed: the
    // append's private slot means no listing diff can claim it.
    import graft.io.FileSkipping
    val localBase = scratch("fskip_hadoop")
    graft.util.Staging.deleteRecursive(localBase)
    val base = s"file:$localBase"
    val orders = graft.io.Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val split = orders.agg(percentile_approx(col("o_orderdate"), lit(0.8), lit(100)))
      .head().get(0)
    orders.filter(col("o_orderdate") < lit(split))
      .coalesce(2).write.mode("overwrite").parquet(s"$base/data")
    val vdir = bootstrap(base, "o_orderdate")
    val filesBefore = headFiles(vdir)
    // plant a nested pre-existing file (a partitioned-layout shape)
    orders.filter(col("o_orderdate") < lit(split)).limit(10)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/data/nested")
    FileSkipping.appendOcc(orders.filter(col("o_orderdate") >= lit(split)).coalesce(1),
      s"$base/data", vdir, "o_orderdate", "APPEND")
    val gained = headFiles(vdir) -- filesBefore
    assert(gained.size == 1, s"expected exactly the 1 appended file, got $gained")
    assert(!gained.exists(_.contains("/nested/")),
      s"nested pre-existing file mis-attributed to the append: $gained")
    // and the new snapshot row's stats admit the delta range
    val hi = headManifest(vdir)
      .filter(col("file").isin(gained.toSeq: _*))
      .agg(max("max_key")).head().get(0)
    assert(hi != null)
  }

  test("deleteRange retires covered files unread, rewrites only boundary files, keeps the rest byte-identical") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_delete")
    graft.util.Staging.deleteRecursive(localBase)
    val orders = graft.io.Tables.orders(spark, sf("sf0.01"))
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    orders.repartitionByRange(16, col("o_orderdate")).sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(s"$localBase/data")
    val vdir = bootstrap(localBase, "o_orderdate")
    val before = topLevelFiles(s"$localBase/data")
    val lo = lit("1995-01-01").cast("timestamp")
    val hi = lit("1995-12-31").cast("timestamp")
    val expected = orders.filter(!(col("o_orderdate") >= lo && col("o_orderdate") <= hi))
    val expectedCount = expected.count()
    val (v1, retired, rewritten) = FileSkipping.deleteRangeOcc(
      spark, s"$localBase/data", vdir, "o_orderdate", lo, hi, "DEL")
    // a ~mid-table year over 16 range-sorted files: some files fully
    // covered (retired unread), at most the two boundary files rewritten
    assert(retired >= 1, s"no file was fully covered (retired=$retired)")
    assert(rewritten <= 2, s"more than boundary files rewritten: $rewritten")
    // MVCC: the mutation deletes nothing — every pre-delete file is still
    // on disk byte-identical (v0 reads it); the head drops exactly the
    // retired and rewritten ones
    assert(topLevelFiles(s"$localBase/data") == before, "the delete touched a file on disk")
    val survivors = before.keySet.intersect(headFiles(vdir).map(nameOf))
    assert(before.size - survivors.size == retired + rewritten)
    // head content == orders minus the range, and the snapshot's stats
    // agree with a full rebuild over its files
    val remaining = headOf(vdir)
    assert(remaining.count() == expectedCount)
    assert(remaining.exceptAll(expected).count() == 0)
    assertStatsRebuilt(vdir, "o_orderdate")
    // VACUUM is the physical delete: the retired and rewritten originals
    // go, the survivors stay byte-identical
    val (deleted, dropped) = VersionLog.vacuum(spark, s"$localBase/data", vdir, 1)
    assert(deleted == retired + rewritten && dropped == 1, s"vacuum: ($deleted, $dropped)")
    val afterVacuum = topLevelFiles(s"$localBase/data")
    assert(afterVacuum.keySet == survivors && survivors.forall(k => afterVacuum(k) == before(k)),
      "vacuum deleted a live file or kept a dead one")
    // and pruned reads through the head stay exact
    val lo2 = lit("1996-01-01").cast("timestamp")
    val hi2 = lit("1996-06-30").cast("timestamp")
    val pruned = VersionLog.prunedReadVersion(spark, vdir, v1, lo2, hi2)
      .filter(col("o_orderdate").between(lo2, hi2))
    val full = remaining.filter(col("o_orderdate").between(lo2, hi2))
    assert(pruned.count() == full.count() && pruned.count() > 0)
  }

  test("mergeKeyed rewrites only range-hit files, inserts beyond-range keys, keeps the rest byte-identical") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_merge")
    graft.util.Staging.deleteRecursive(localBase)
    val orders = graft.io.Tables.orders(spark, sf("sf0.01"))
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    orders.repartitionByRange(16, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(s"$localBase/data")
    val vdir = bootstrap(localBase, "o_orderkey")
    val before = topLevelFiles(s"$localBase/data")
    val v0Files = headFiles(vdir)
    // updates clustered in a narrow key band (hits 1–2 of 16 range-sorted
    // files) + one insert beyond every file's range
    val updates = orders.filter(col("o_orderkey").between(1000, 1030))
      .withColumn("o_orderpriority", lit("X-UPD"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val inserts = spark.range(1).select(
      lit(100000000L).as("o_orderkey"), lit("X-INS").as("o_orderpriority"),
      lit(1.25).as("o_totalprice"))
    val delta = updates.unionByName(inserts)
    val v1 = FileSkipping.mergeKeyedOcc(spark, s"$localBase/data", vdir, "o_orderkey",
      delta, "MERGE")
    val rewritten = (v0Files -- headFiles(vdir)).size
    val appended = (headFiles(vdir) -- v0Files).size
    assert(rewritten >= 1 && rewritten <= 2,
      s"a 31-key band over 16 range-sorted files should hit 1-2 files, hit $rewritten")
    assert(appended >= 1)
    // untouched files stay in the head byte-identical; nothing was deleted
    assert(topLevelFiles(s"$localBase/data") == before,
      "the merge modified or deleted a file on disk")
    assert(before.keySet.intersect(headFiles(vdir).map(nameOf)).size == before.size - rewritten)
    // content == the set-theoretic merge
    val expected = orders.filter(!col("o_orderkey").between(1000, 1030))
      .unionByName(updates).unionByName(inserts)
    val merged = headOf(vdir)
    assert(merged.count() == expected.count())
    assert(merged.exceptAll(expected).count() == 0 &&
      expected.exceptAll(merged).count() == 0)
    // snapshot stats == full rebuild; pruned reads stay exact (incl. the insert)
    assertStatsRebuilt(vdir, "o_orderkey")
    val pruned = VersionLog.prunedReadVersion(spark, vdir, v1,
        lit(99999999L), lit(100000001L))
      .filter(col("o_orderkey").between(99999999L, 100000001L))
    assert(pruned.count() == 1 && pruned.head.getString(1) == "X-INS")
  }

  test("mergeKeyed with no range hits takes the pure-insert path") {
    import graft.io.FileSkipping
    val localBase = scratch("fskip_merge_ins")
    graft.util.Staging.deleteRecursive(localBase)
    val orders = graft.io.Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    orders.coalesce(2).write.mode("overwrite").parquet(s"$localBase/data")
    val vdir = bootstrap(localBase, "o_orderkey")
    val v0Files = headFiles(vdir)
    val inserts = spark.range(3).select(
      (col("id") + 200000000L).as("o_orderkey"), lit("X-INS").as("o_orderpriority"),
      lit(2.5).as("o_totalprice"))
    FileSkipping.mergeKeyedOcc(spark, s"$localBase/data", vdir, "o_orderkey", inserts, "INS")
    assert(v0Files.subsetOf(headFiles(vdir)) && headFiles(vdir).size > v0Files.size)
    assert(headOf(vdir).count() == orders.count() + 3)
    assertStatsRebuilt(vdir, "o_orderkey")
  }

  test("compactSmall folds only sub-threshold files, leaves big files byte-identical, output is range-clustered") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_compact")
    graft.util.Staging.deleteRecursive(localBase)
    val orders = graft.io.Tables.orders(spark, sf("sf0.01"))
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val split = orders.agg(percentile_approx(col("o_orderdate"), lit(0.5), lit(100)))
      .head().get(0)
    // one BIG file (the older half, ~7500 rows) + 12 small micro-batch files
    orders.filter(col("o_orderdate") < lit(split))
      .coalesce(1).write.mode("overwrite").parquet(s"$localBase/data")
    orders.filter(col("o_orderdate") >= lit(split))
      .repartitionByRange(12, col("o_orderdate")).sortWithinPartitions("o_orderdate")
      .write.mode("append").parquet(s"$localBase/data")
    val vdir = bootstrap(localBase, "o_orderdate")
    val v0Files = headFiles(vdir)
    val before = topLevelFiles(s"$localBase/data")
    val bigName = before.maxBy(_._2._1)._1
    val smallTotal = before.filterNot(_._1 == bigName).values.map(_._1).sum
    // threshold sits between the big file and every micro-batch file;
    // target forces MULTIPLE output bins so disjointness is non-trivial
    val (v1, compacted, written) = FileSkipping.compactSmallOcc(
      spark, s"$localBase/data", vdir, "o_orderdate",
      smallBytes = before(bigName)._1, targetBytes = math.max(1, smallTotal / 3), "CPT")
    assert(compacted == 12, s"expected the 12 micro-batch files compacted, got $compacted")
    assert(written >= 2 && written < 12, s"expected a handful of bins, got $written")
    assert(topLevelFiles(s"$localBase/data") == before, "compaction touched a file on disk")
    assert(headFiles(vdir).map(nameOf).contains(bigName), "the big file left the head")
    assert(headFiles(vdir).size == v0Files.size - compacted + written)
    // pure layout change: content identical
    val now = headOf(vdir)
    assert(now.count() == orders.count())
    assert(now.exceptAll(orders).count() == 0 && orders.exceptAll(now).count() == 0)
    assertStatsRebuilt(vdir, "o_orderdate")
    // replacement files are keyspace-disjoint (range exchange): sorted by
    // min_key, each file's max <= the next file's min (equal keys may
    // share a boundary)
    val spans = headManifest(vdir)
      .filter(!col("file").isin(v0Files.toSeq: _*))
      .orderBy("min_key")
      .select(col("min_key").cast("string"), col("max_key").cast("string")).collect()
      .map(r => (r.getString(0), r.getString(1)))  // ISO text orders like the timestamp
    assert(spans.length == written, s"fresh snapshot rows ${spans.length} != written $written")
    spans.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"compacted files overlap: $hi > $lo2")
      case _ =>
    }
    // pruning through the folded snapshot stays exact
    val lo = lit(split)
    val hi = lit(split) + expr("INTERVAL 60 DAY")
    val pruned = VersionLog.prunedReadVersion(spark, vdir, v1, lo, hi)
      .filter(col("o_orderdate").between(lo, hi))
    val full = now.filter(col("o_orderdate").between(lo, hi))
    assert(pruned.count() == full.count() && pruned.count() > 0)
  }

  test("version log: pinned snapshots replay exactly; vacuum deletes only dead files") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_versions")
    graft.util.Staging.deleteRecursive(localBase)
    val orders = graft.io.Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    orders.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(s"$localBase/data")
    FileSkipping.buildManifest(spark, s"$localBase/data", "o_orderkey")
      .write.mode("overwrite").parquet(s"$localBase/manifest")
    val vdir = s"$localBase/versions"
    assert(VersionLog.commit(spark, vdir, s"$localBase/manifest") == 0)
    val updates = orders.filter(col("o_orderkey") % 53 === 0)
      .withColumn("o_orderpriority", lit("X-UPD"))
    FileSkipping.mergeKeyedOcc(spark, s"$localBase/data", vdir, "o_orderkey", updates, "M1")
    FileSkipping.deleteRangeOcc(spark, s"$localBase/data", vdir, "o_orderkey",
      lit(1L), lit(300L), "D2")
    assert(VersionLog.head(spark, vdir) == 2)
    // snapshot isolation: v0 replays the ORIGINAL table although the head
    // has retired its files twice since
    val v0 = VersionLog.readVersion(spark, vdir, 0)
    assert(v0.count() == orders.count())
    assert(v0.exceptAll(orders).count() == 0 && orders.exceptAll(v0).count() == 0)
    // head == the set-theoretic expectation
    val expected = orders.filter(col("o_orderkey") % 53 =!= 0).unionByName(updates)
      .filter(!col("o_orderkey").between(1L, 300L))
    val headV = VersionLog.readVersion(spark, vdir, 2)
    assert(headV.exceptAll(expected).count() == 0 && expected.exceptAll(headV).count() == 0)
    // vacuum to head only: both old versions dropped, dead files really
    // deleted, every head-referenced file survives, head still replays
    val beforeVacuum = parquetNames(s"$localBase/data")
    val headNames = headFiles(vdir).map(nameOf)
    val (deadCount, droppedVersions) = VersionLog.vacuum(spark, s"$localBase/data", vdir, 1)
    assert(droppedVersions == 2 && deadCount > 0)
    assert(!new java.io.File(s"$vdir/v0").exists() && !new java.io.File(s"$vdir/v1").exists())
    val afterVacuum = parquetNames(s"$localBase/data")
    assert(afterVacuum == headNames, "vacuum left orphans or deleted a live file")
    assert((beforeVacuum -- afterVacuum).size == deadCount)
    val replay = VersionLog.readVersion(spark, vdir, 2)
    assert(replay.exceptAll(expected).count() == 0 && expected.exceptAll(replay).count() == 0)
    // vacuum is a RECURRING maintenance call: another mutation + another
    // vacuum must work after older version dirs are already gone
    // (regression: the first cut read manifests for ALL versions < cutoff,
    // crashing on the deleted v0)
    FileSkipping.deleteRangeOcc(spark, s"$localBase/data", vdir, "o_orderkey",
      lit(400L), lit(500L), "D3") // v3
    val (dead2, dropped2) = VersionLog.vacuum(spark, s"$localBase/data", vdir, 1)
    assert(dropped2 == 1, s"second vacuum should drop exactly v2, dropped $dropped2")
    val expected2 = expected.filter(!col("o_orderkey").between(400L, 500L))
    val replay2 = VersionLog.readVersion(spark, vdir, 3)
    assert(replay2.exceptAll(expected2).count() == 0 && expected2.exceptAll(replay2).count() == 0)
    // idempotent when nothing is droppable
    assert(VersionLog.vacuum(spark, s"$localBase/data", vdir, 1) == (0, 0))
  }

  test("deleteRange keeps null-key rows in rewritten boundary files") {
    import graft.io.FileSkipping
    val localBase = scratch("fskip_nullkey")
    graft.util.Staging.deleteRecursive(localBase)
    // ~1/997 of keys nulled, scattered through files whose non-null
    // ranges overlap the deleted band
    val src = graft.io.Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .withColumn("o_orderkey",
        when(col("o_orderkey") % 13 === 0, lit(null)).otherwise(col("o_orderkey")))
    src.coalesce(4).write.mode("overwrite").parquet(s"$localBase/data")
    val vdir = bootstrap(localBase, "o_orderkey")
    val nNull = src.filter(col("o_orderkey").isNull).count()
    assert(nNull > 0, "fixture lost its null keys")
    FileSkipping.deleteRangeOcc(spark, s"$localBase/data", vdir, "o_orderkey",
      lit(200L), lit(900L), "DEL", cdcDir = Some(s"$localBase/cdc"))
    val survivors = headOf(vdir)
    // regression: the bare !(k >= lo && k <= hi) filter silently dropped
    // null-key rows from every rewritten boundary file
    assert(survivors.filter(col("o_orderkey").isNull).count() == nNull,
      "null-key rows were lost in the boundary rewrite")
    val feed = FileSkipping.readCommittedFeeds(spark, s"$localBase/cdc")
    assert(feed.filter(col("o_orderkey").isNull).count() == 0)
    val rebuilt = survivors.unionByName(feed.drop("op"))
    assert(rebuilt.exceptAll(src).count() == 0 && src.exceptAll(rebuilt).count() == 0)
  }

  test("deleteRange demotes covered-but-null-bearing files to the rewrite path; null rows survive") {
    import graft.io.FileSkipping
    val localBase = scratch("fskip_nullcovered")
    graft.util.Staging.deleteRecursive(localBase)
    // file A: non-null keys 1..1000 FULLY inside the deleted range, plus
    // null-key rows the range math cannot see; file B: keys 1200..1400,
    // also fully covered, provably null-free; file C: keys 2000..3000,
    // outside the range entirely
    val fileA = spark.range(1, 1001).select(
      when(col("id") % 10 === 0, lit(null).cast("long")).otherwise(col("id")).as("k"),
      lit("A").as("tag"))
    val fileB = spark.range(1200, 1401).select(col("id").as("k"), lit("B").as("tag"))
    val fileC = spark.range(2000, 3001).select(col("id").as("k"), lit("C").as("tag"))
    fileA.coalesce(1).write.mode("overwrite").parquet(s"$localBase/data")
    fileB.coalesce(1).write.mode("append").parquet(s"$localBase/data")
    fileC.coalesce(1).write.mode("append").parquet(s"$localBase/data")
    val vdir = bootstrap(localBase, "k")
    val nNull = fileA.filter(col("k").isNull).count()
    assert(nNull > 0)
    val (_, retired, rewritten) = FileSkipping.deleteRangeOcc(
      spark, s"$localBase/data", vdir, "k", lit(0L), lit(1500L), "DEL",
      cdcDir = Some(s"$localBase/cdc"))
    // regression (round-9 review): file A was retired UNREAD because its
    // non-null [min,max] is covered — deleting its null rows and omitting
    // them from the CDC feed. n_keys < n_rows now demotes it to the
    // rewrite path; the provably null-free file B still retires unread.
    assert(retired == 1, s"expected only the null-free covered file retired unread, got $retired")
    assert(rewritten == 1, s"expected the null-bearing covered file rewritten, got $rewritten")
    val survivors = headOf(vdir)
    assert(survivors.filter(col("k").isNull).count() == nNull,
      "null-key rows were lost from a covered file")
    assert(survivors.filter(col("k").isNotNull && col("k") < 2000L).count() == 0)
    // the feed holds exactly the deleted (non-null, in-range) rows, so
    // survivors ∪ feed == source exactly once — including A's null rows
    val feed = FileSkipping.readCommittedFeeds(spark, s"$localBase/cdc")
    val src = fileA.unionByName(fileB).unionByName(fileC)
    val rebuilt = survivors.unionByName(feed.drop("op"))
    assert(rebuilt.exceptAll(src).count() == 0 && src.exceptAll(rebuilt).count() == 0)
  }

  test("mergeKeyed rejects a duplicate-key delta before touching the table") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_dupdelta")
    graft.util.Staging.deleteRecursive(localBase)
    spark.range(100).select(col("id").as("k"), lit(1.0).as("v"))
      .coalesce(2).write.mode("overwrite").parquet(s"$localBase/data")
    val vdir = bootstrap(localBase, "k")
    val dup = spark.range(2).select(lit(7L).as("k"), col("id").cast("double").as("v"))
    val e = intercept[IllegalArgumentException] {
      FileSkipping.mergeKeyedOcc(spark, s"$localBase/data", vdir, "k", dup, "DUP")
    }
    assert(e.getMessage.contains("one row per"), e.getMessage)
    // the guard runs before any write: no slot, no commit, table untouched
    assert(!new java.io.File(s"$localBase/data/txn-DUP").exists())
    assert(VersionLog.head(spark, vdir) == 0 && headOf(vdir).count() == 100)
  }

  test("bloom manifest rejects non-integral keys and survives null keys") {
    import graft.io.FileSkipping
    val localBase = scratch("fskip_bloomkeys")
    graft.util.Staging.deleteRecursive(localBase)
    spark.range(500).select(
        when(col("id") % 50 === 0, lit(null).cast("long")).otherwise(col("id")).as("k"),
        col("id").cast("string").as("s"))
      .coalesce(4).write.mode("overwrite").parquet(s"$localBase/data")
    // a string key would silently cast every value to null — fail loudly
    val e = intercept[IllegalArgumentException] {
      FileSkipping.buildBloomManifest(spark, s"$localBase/data", "s", 64)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // null keys no longer NPE mid-job; non-null keys keep the
    // no-false-negative guarantee
    FileSkipping.buildBloomManifest(spark, s"$localBase/data", "k", 1024)
      .write.mode("overwrite").parquet(s"$localBase/bloom")
    val probe = Array(7L, 123L, 499L)
    val got = FileSkipping.bloomPointRead(spark, s"$localBase/data", s"$localBase/bloom", probe)
      .filter(col("k").isin(probe.map(Long.box).toIndexedSeq: _*)).count()
    assert(got == 3, s"bloom point read lost a non-null key (got $got of 3)")
  }

  test("version commit claims its slot atomically: a planted claim fails loudly, log unchanged") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_claim")
    graft.util.Staging.deleteRecursive(localBase)
    graft.io.Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_totalprice").coalesce(2)
      .write.mode("overwrite").parquet(s"$localBase/data")
    FileSkipping.buildManifest(spark, s"$localBase/data", "o_orderkey")
      .write.mode("overwrite").parquet(s"$localBase/manifest")
    val vdir = s"$localBase/versions"
    assert(VersionLog.commit(spark, vdir, s"$localBase/manifest") == 0)
    assert(VersionLog.commit(spark, vdir, s"$localBase/manifest") == 1)
    // another writer has claimed v2: this committer must fail loudly and
    // leave the log untouched — never silently clobber the slot
    new java.io.File(s"$vdir/.claim-v2").createNewFile()
    intercept[java.util.ConcurrentModificationException] {
      VersionLog.commit(spark, vdir, s"$localBase/manifest")
    }
    assert(VersionLog.head(spark, vdir) == 1)
    assert(!new java.io.File(s"$vdir/v2").exists())
    // vacuum clears superseded claims along with their versions
    VersionLog.vacuum(spark, s"$localBase/data", vdir, 1)
    assert(!new java.io.File(s"$vdir/.claim-v0").exists())
    assert(new java.io.File(s"$vdir/v1").exists())
  }

  test("multi-column manifest survives MERGE, delete, and compaction: folded == rebuild, 2D pruning stays exact") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_multifold")
    graft.util.Staging.deleteRecursive(localBase)
    // k range-sorted into 10 files; x = k/1000 rides along (tight per-file
    // extents, so 2D snapshot stats have real pruning power on BOTH columns)
    val src = spark.range(10000).select(col("id").as("k"),
      (col("id") / 1000).cast("long").as("x"), (col("id") % 997).cast("double").as("v"))
    src.repartitionByRange(10, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$localBase/data")
    // the snapshots carry min/max for k AND x: every commit recomputes
    // them for the files it writes
    val vdir = bootstrap(localBase, "k", Seq("k", "x"))
    def assertMultiFresh(): Unit = {
      val folded = headManifest(vdir).select("file", "min_k", "max_k", "min_x", "max_x")
      val rebuilt = spark.read.parquet(headFiles(vdir).toSeq: _*)
        .groupBy(input_file_name().as("file"))
        .agg(min("k"), max("k"), min("x"), max("x"))
      assert(folded.exceptAll(rebuilt).count() == 0 && rebuilt.exceptAll(folded).count() == 0,
        "multi-column snapshot stats diverged from a full rebuild")
    }
    def box(ranges: (String, Long, Long)*) =
      FileSkipping.prunedReadVersionMulti(spark, vdir, VersionLog.head(spark, vdir),
        ranges.map { case (c, lo, hi) => (c, lit(lo), lit(hi)) })
    // MERGE (the round-9 staleness case): updates in one band + an insert
    // carrying a brand-new x extent stale stats could never admit
    val delta = src.filter(col("k").between(1500, 1540))
      .withColumn("v", col("v") * 2)
      .unionByName(spark.range(1).select(lit(1000000L).as("k"), lit(999L).as("x"),
        lit(3.5).as("v")))
    FileSkipping.mergeKeyedOcc(spark, s"$localBase/data", vdir, "k", delta, "M")
    assertMultiFresh()
    // 2D pruning stays exact AND still prunes after the commit
    val pruned = box(("x", 2L, 3L), ("k", 2000L, 3500L))
      .filter(col("x").between(2L, 3L) && col("k").between(2000L, 3500L))
    val full = headOf(vdir)
      .filter(col("x").between(2L, 3L) && col("k").between(2000L, 3500L))
    assert(pruned.count() == full.count() && pruned.count() > 0)
    val opened = box(("x", 2L, 3L)).inputFiles.length
    val total = headFiles(vdir).size
    assert(opened < total, s"the commit destroyed pruning power: opened $opened of $total")
    // the merged insert's new extent is findable through the snapshot stats
    assert(box(("x", 999L, 999L)).filter(col("x") === 999L).count() == 1)
    // range delete and compaction carry the stats too
    FileSkipping.deleteRangeOcc(spark, s"$localBase/data", vdir, "k",
      lit(4200L), lit(5300L), "D")
    assertMultiFresh()
    FileSkipping.compactSmallOcc(spark, s"$localBase/data", vdir, "k",
      smallBytes = Long.MaxValue, targetBytes = Long.MaxValue, "C")
    assertMultiFresh()
    // content is never touched by the stats machinery
    val expected = src.filter(!col("k").between(1500, 1540)).unionByName(delta)
      .filter(!col("k").between(4200L, 5300L))
    val now = headOf(vdir)
    assert(now.exceptAll(expected).count() == 0 && expected.exceptAll(now).count() == 0)
  }

  test("time travel composes with file skipping: a pinned pruned read opens few files and stays exact") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_prunedversion")
    graft.util.Staging.deleteRecursive(localBase)
    val src = spark.range(16000).select(col("id").as("k"), (col("id") % 997).cast("double").as("v"))
    src.repartitionByRange(16, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$localBase/data")
    FileSkipping.buildManifest(spark, s"$localBase/data", "k")
      .write.mode("overwrite").parquet(s"$localBase/manifest")
    val vdir = s"$localBase/versions"
    VersionLog.commit(spark, vdir, s"$localBase/manifest") // v0
    // a later delete retires files from the head; the pinned pruned read
    // must still see v0's rows AND still prune v0's file set
    FileSkipping.deleteRangeOcc(spark, s"$localBase/data", vdir, "k",
      lit(2000L), lit(6000L), "DEL") // v1
    val pruned = VersionLog.prunedReadVersion(spark, vdir, 0, lit(3000L), lit(3499L))
    assert(pruned.inputFiles.length < 16,
      s"pinned pruned read opened ${pruned.inputFiles.length} of 16 files")
    val got = pruned.filter(col("k").between(3000L, 3499L))
    val expected = src.filter(col("k").between(3000L, 3499L))
    assert(got.count() == 500)
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0,
      "pinned pruned read diverged from the snapshot (deleted rows must still be visible at v0)")
    // empty admit keeps the snapshot's schema
    val none = VersionLog.prunedReadVersion(spark, vdir, 0, lit(900000L), lit(900001L))
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
  }

  test("head pointer is a hint: stale, torn, or missing pointers never change the answer") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_headptr")
    graft.util.Staging.deleteRecursive(localBase)
    spark.range(100).select(col("id").as("k"), lit(1.0).as("v"))
      .coalesce(2).write.mode("overwrite").parquet(s"$localBase/data")
    FileSkipping.buildManifest(spark, s"$localBase/data", "k")
      .write.mode("overwrite").parquet(s"$localBase/manifest")
    val vdir = s"$localBase/versions"
    (0 to 2).foreach(_ => VersionLog.commit(spark, vdir, s"$localBase/manifest"))
    assert(VersionLog.head(spark, vdir) == 2)
    val hp = new java.io.File(s"$vdir/_head")
    assert(hp.exists(), "commit must advance the _head pointer")
    // stale pointer (an older committer's overwrite): probe forward finds 2
    java.nio.file.Files.write(hp.toPath, "0".getBytes)
    assert(VersionLog.head(spark, vdir) == 2)
    // torn/garbage pointer: fall back to the listing
    java.nio.file.Files.write(hp.toPath, "garbage".getBytes)
    assert(VersionLog.head(spark, vdir) == 2)
    // missing pointer (pre-pointer logs): the listing bootstrap
    hp.delete()
    assert(VersionLog.head(spark, vdir) == 2)
    // and the next commit restores it
    assert(VersionLog.commit(spark, vdir, s"$localBase/manifest") == 3)
    assert(new String(java.nio.file.Files.readAllBytes(hp.toPath)).trim == "3")
  }

  test("merge CDC feed pairs pre/post images and isolates inserts") {
    import graft.io.FileSkipping
    val localBase = scratch("fskip_cdc")
    graft.util.Staging.deleteRecursive(localBase)
    val orders = graft.io.Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    orders.coalesce(4).write.mode("overwrite").parquet(s"$localBase/data")
    val vdir = bootstrap(localBase, "o_orderkey")
    val updates = orders.filter(col("o_orderkey") % 53 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val inserts = spark.range(2).select((col("id") + 300000000L).as("o_orderkey"),
      lit("X-INS").as("o_orderpriority"), lit(1.5).as("o_totalprice"))
    FileSkipping.mergeKeyedOcc(spark, s"$localBase/data", vdir, "o_orderkey",
      updates.unionByName(inserts), "CDC", cdcDir = Some(s"$localBase/cdc"))
    val cdc = FileSkipping.readCommittedFeeds(spark, s"$localBase/cdc").cache()
    try {
      val pre = cdc.filter(col("op") === "update_preimage")
      val post = cdc.filter(col("op") === "update_postimage")
      val ins = cdc.filter(col("op") === "insert")
      // every pre has exactly one post at the doubled price, same key set
      assert(pre.count() == updates.count() && post.count() == updates.count())
      assert(pre.select("o_orderkey").exceptAll(post.select("o_orderkey")).count() == 0)
      val priced = pre.select(col("o_orderkey"), (col("o_totalprice") * 2).as("p"))
        .join(post.select(col("o_orderkey"), col("o_totalprice").as("p")), Seq("o_orderkey", "p"))
      assert(priced.count() == updates.count(), "postimage price is not the doubled preimage")
      assert(ins.count() == 2 &&
        ins.filter(col("o_orderkey") >= 300000000L).count() == 2)
      // the feed replays the table delta: base + post + ins - pre == merged table
      val merged = headOf(vdir)
      val replayed = orders.unionByName(post.drop("op")).unionByName(ins.drop("op"))
        .exceptAll(pre.drop("op"))
      assert(merged.exceptAll(replayed).count() == 0 && replayed.exceptAll(merged).count() == 0)
    } finally cdc.unpersist()
  }

  test("delete CDC feed reconstitutes the source: survivors ∪ feed == table, exactly once") {
    import graft.io.FileSkipping
    val localBase = scratch("fskip_delcdc")
    graft.util.Staging.deleteRecursive(localBase)
    val orders = graft.io.Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    orders.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(s"$localBase/data")
    val vdir = bootstrap(localBase, "o_orderkey")
    val (_, retired, rewritten) = FileSkipping.deleteRangeOcc(
      spark, s"$localBase/data", vdir, "o_orderkey",
      lit(200L), lit(900L), "DEL", cdcDir = Some(s"$localBase/cdc"))
    assert(retired + rewritten > 0, "delete touched nothing — feed not exercised")
    val feed = FileSkipping.readCommittedFeeds(spark, s"$localBase/cdc")
    assert(feed.select("op").distinct().collect().map(_.getString(0)).toSeq == Seq("delete"))
    val expectedDeleted = orders.filter(col("o_orderkey").between(200L, 900L))
    assert(feed.count() == expectedDeleted.count() && feed.count() > 0)
    assert(feed.drop("op").exceptAll(expectedDeleted).count() == 0)
    // survivors ∪ feed == the original table, row-exact
    val survivors = headOf(vdir)
    val rebuilt = survivors.unionByName(feed.drop("op"))
    assert(rebuilt.exceptAll(orders).count() == 0 && orders.exceptAll(rebuilt).count() == 0)
  }

  test("streaming ingest slots land exactly-once through a mid-batch crash; manifest == rebuild") {
    import org.apache.spark.sql.types._
    import graft.io.{FileSkipping, VersionLog}
    import graft.streaming.Streams
    val d = sf("sf0.001")
    val localBase = scratch("fskip_ingest")
    graft.util.Staging.deleteRecursive(localBase)
    val src = Streams.prepareLateArrivalFiles(spark, d)
    // v0: an EMPTY table — the first batch's files define the schema
    val vdir = s"$localBase/versions"
    VersionLog.commitSnapshot(spark, vdir, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("file", StringType), StructField("min_key", TimestampType),
        StructField("max_key", TimestampType), StructField("n_rows", LongType),
        StructField("n_keys", LongType)))))
    // crash mid-batch-1: slot b1 holds partial-then-replaced output, the
    // replay commits it once (its _BATCH_1 token), and the harness itself
    // asserts the commit log gained batch 1 only after the recovered run
    Streams.drainWithCrashRecoveryInto(
      () => Streams.lateArrivalStream(spark, src), "fskip_ingest", "append", 1) {
      (b, id) => FileSkipping.ingestBatchOcc(b, id, s"$localBase/data", "ts", vdir); ()
    }
    // one slot and one commit per micro-batch
    (0 to 2).foreach { i =>
      assert(new java.io.File(s"$localBase/data/b$i").isDirectory, s"missing data slot b$i")
    }
    assert(VersionLog.head(spark, vdir) == 3, "the crash replay committed a batch twice")
    // exactly-once: the table equals the staged source, no dup, no loss
    val staged = spark.read.parquet(src)
    val table = headOf(vdir)
    assert(table.count() == staged.count())
    assert(table.exceptAll(staged).count() == 0 && staged.exceptAll(table).count() == 0)
    // the snapshot built batch by batch == a full rebuild over its files
    assertStatsRebuilt(vdir, "ts")
    // compaction folds the micro-batch slot files and content survives exactly
    val (_, compacted, written) = FileSkipping.compactSmallOcc(
      spark, s"$localBase/data", vdir, "ts",
      smallBytes = 64L * 1024 * 1024, targetBytes = 256L * 1024 * 1024, "CPT")
    assert(compacted == 3 && written == 1, s"expected 3 slots -> 1 file, got $compacted -> $written")
    val after = headOf(vdir)
    assert(after.exceptAll(staged).count() == 0 && staged.exceptAll(after).count() == 0)
  }

  test("versioned ingest: pinned snapshots survive later batches; the batch token makes replay a no-op") {
    import graft.io.{FileSkipping, VersionLog}
    val localBase = scratch("fskip_vingest")
    graft.util.Staging.deleteRecursive(localBase)
    val vdir = s"$localBase/versions"
    def batchDf(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id").as("k"), (col("id") % 7).cast("double").as("v"))
    // three serial batches, one version each
    assert(FileSkipping.ingestBatchVersioned(batchDf(0, 100), 0, s"$localBase/data", "k", vdir) == 0)
    assert(FileSkipping.ingestBatchVersioned(batchDf(100, 250), 1, s"$localBase/data", "k", vdir) == 1)
    // a reader pins v1 mid-ingest…
    val pinned = VersionLog.readVersion(spark, vdir, 1)
    val pinnedCount = pinned.count()
    assert(pinnedCount == 250)
    // …the crashed batch 1 REPLAYS (its version already landed): the
    // token short-circuits — no new version, slot untouched
    def slotFiles(): Set[String] =
      new java.io.File(s"$localBase/data/b1").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).map(_.toString).toSet
    val before = slotFiles()
    assert(FileSkipping.ingestBatchVersioned(batchDf(100, 250), 1, s"$localBase/data", "k", vdir) == 1)
    assert(VersionLog.head(spark, vdir) == 1, "replay must not commit a duplicate version")
    assert(slotFiles() == before, "replay must not rewrite an already-committed slot")
    // …and batches keep landing
    assert(FileSkipping.ingestBatchVersioned(batchDf(250, 400), 2, s"$localBase/data", "k", vdir) == 2)
    // the pinned snapshot replays EXACTLY batches 0..1 after batch 2 landed
    val replay = VersionLog.readVersion(spark, vdir, 1)
    assert(replay.count() == pinnedCount)
    val expected = batchDf(0, 250)
    assert(replay.exceptAll(expected).count() == 0 && expected.exceptAll(replay).count() == 0,
      "pinned mid-ingest snapshot diverged after later batches landed")
    assert(VersionLog.readVersion(spark, vdir, 2).count() == 400)
    // each version carries its batch token
    (0 to 2).foreach(i =>
      assert(VersionLog.hasMarker(spark, vdir, i, s"_BATCH_$i"), s"missing token on v$i"))
  }

  test("bloom manifest admits few files on a point lookup yet misses no row") {
    val d = sf("sf0.01")
    SparkEntry.stage(spark, d)
    val base = util.Staging.dirFor("lineitem_bypart", d)
    val total = spark.read.parquet(s"$base/data").inputFiles.length
    val probe = Array(11L, 4177L, 9973L)
    val admitted = graft.io.FileSkipping.bloomPointRead(
      spark, s"$base/data", s"$base/bloom", probe)
    val opened = admitted.inputFiles.length
    // 3 orders × ~4 line items scattered over 32 part-sorted files: a
    // range manifest on l_orderkey admits ALL files (every span covers
    // the domain); the bloom must admit well under half
    assert(total >= 16 && opened * 2 < total,
      s"bloom barely pruned: opened $opened of $total files")
    // no false negatives: the pruned read + residual equals the full scan
    val viaBloom = admitted.filter(col("l_orderkey").isin(probe.map(Long.box).toIndexedSeq: _*))
    val full = spark.read.parquet(s"$base/data")
      .filter(col("l_orderkey").isin(probe.map(Long.box).toIndexedSeq: _*))
    assert(viaBloom.count() == full.count() && viaBloom.count() > 0)
    assert(viaBloom.exceptAll(full).count() == 0)
    // range stats genuinely cannot serve this lookup: a min/max manifest
    // on l_orderkey admits the bulk of the part-sorted layout (each file's
    // span covers most of the key domain), and the bloom must beat it by
    // a wide margin — otherwise its win is conflated with range pruning
    val rangeAdmitted = graft.io.FileSkipping.buildManifest(spark, s"$base/data", "l_orderkey")
      .filter(probe.map(k => col("min_key") <= lit(k) && col("max_key") >= lit(k))
        .reduce(_ || _)).count()
    assert(rangeAdmitted * 3 >= total * 2,
      s"layout drifted: range stats admit only $rangeAdmitted of $total files — " +
        "the bloom's win would be conflated with range pruning")
    assert(opened * 2 < rangeAdmitted,
      s"bloom ($opened files) did not materially beat range stats ($rangeAdmitted files)")
    // absent key: admits (almost) nothing, returns zero rows after residual
    val absent = graft.io.FileSkipping.bloomPointRead(
      spark, s"$base/data", s"$base/bloom", Array(77777777L))
    assert(absent.inputFiles.length <= 2, "absent-key FPR blew past sizing")
    assert(absent.filter(col("l_orderkey") === 77777777L).count() == 0)
  }

  test("multi-column manifest on the z-layout file-prunes each dimension; a 1D-sorted layout cannot") {
    import graft.io.{FileSkipping, VersionLog}
    val d = sf("sf0.01")
    SparkEntry.stage(spark, d)
    val base = util.Staging.dirFor("lineitem_zorder_log", d)
    val vdir = s"$base/versions"
    val total = VersionLog.manifestAt(spark, vdir, 0).count()
    assert(total >= 16)
    // 2D box (1/64 of the plane): opens a small fraction of the files
    val box = FileSkipping.prunedReadVersionMulti(spark, vdir, 0,
      Seq(("x", lit(64L), lit(95L)), ("y", lit(160L), lit(191L))))
    assert(box.inputFiles.length * 4 <= total,
      s"2D box opened ${box.inputFiles.length} of $total files")
    // exact after residual
    val resid = box.filter(col("x").between(64L, 95L) && col("y").between(160L, 191L))
    val full = spark.read.parquet(s"$base/data")
      .filter(col("x").between(64L, 95L) && col("y").between(160L, 191L))
    assert(resid.count() == full.count() && resid.count() > 0)
    // EITHER single dimension prunes from the one z-layout — the
    // property a 1D sort cannot give
    val xOnly = FileSkipping.prunedReadVersionMulti(spark, vdir, 0, Seq(("x", lit(64L), lit(95L))))
    val yOnly = FileSkipping.prunedReadVersionMulti(spark, vdir, 0, Seq(("y", lit(160L), lit(191L))))
    assert(xOnly.inputFiles.length * 2 <= total,
      s"x-only probe opened ${xOnly.inputFiles.length} of $total")
    assert(yOnly.inputFiles.length * 2 <= total,
      s"y-only probe opened ${yOnly.inputFiles.length} of $total")
    // contrast: the same table sorted by x ALONE — y extents span the
    // domain in every file, the y probe admits (almost) everything
    val localBase = scratch("fskip_xsorted")
    graft.util.Staging.deleteRecursive(localBase)
    spark.read.parquet(s"$base/data")
      .repartitionByRange(32, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$localBase/data")
    val xdir = bootstrap(localBase, "x", Seq("x", "y"))
    val totalX = VersionLog.manifestAt(spark, xdir, 0).count()
    val yOnSorted = FileSkipping.prunedReadVersionMulti(spark, xdir, 0,
      Seq(("y", lit(160L), lit(191L))))
    assert(yOnSorted.inputFiles.length * 4 >= totalX * 3,
      s"x-sorted layout unexpectedly pruned the y probe: " +
        s"${yOnSorted.inputFiles.length} of $totalX — the z-layout's win would be conflated")
  }

  test("dynamic file pruning opens at most one file per driving date and stays exact") {
    import graft.io.FileSkipping
    import org.apache.spark.sql.expressions.Window
    val d = sf("sf0.01")
    SparkEntry.stage(spark, d)
    val base = util.Staging.dirFor("orders_bydate_log", d)
    val total = graft.io.VersionLog.manifestAt(spark, s"$base/versions", 0).count()
    val dates = graft.io.Tables.orders(spark, d).select(col("o_orderdate")).distinct()
      .withColumn("rn", row_number().over(Window.orderBy(col("o_orderdate"))))
      .filter(pmod(col("rn"), lit(601)) === 1)
      .select(col("o_orderdate"))
    val nDates = dates.count()
    assert(nDates >= 3, s"driving set too small ($nDates) to exercise pruning")
    val pruned = FileSkipping.semiJoinReadVersion(spark, s"$base/versions", 0, dates)
    val opened = pruned.inputFiles.length
    // range-sorted layout: each scattered date lives in exactly one file
    assert(opened <= nDates, s"opened $opened files for $nDates driving dates")
    assert(opened * 2 < total, s"barely pruned: $opened of $total files")
    // exact after the residual join
    val viaPruned = pruned.join(broadcast(dates), Seq("o_orderdate"))
    val viaFull = spark.read.parquet(s"$base/data").join(broadcast(dates), Seq("o_orderdate"))
    assert(viaPruned.count() == viaFull.count() && viaPruned.count() > 0)
    assert(viaPruned.exceptAll(viaFull).count() == 0)
  }

  test("q190 CDC maintenance plan reads only the view and the feed, never the base table") {
    val d = sf("sf0.001")
    val df = SparkEntry.queries("q190_cdc_view_maintenance")(spark, d)
    assert(df.count() > 0)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
    val scanned = leaves(df.queryExecution.executedPlan).collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanned.nonEmpty)
    assert(scanned.forall(p => p.contains("/view") || p.contains("/cdc")),
      s"maintenance scanned beyond view+feed: ${scanned.mkString(", ")}")
  }

  test("incremental view merge plan never shuffles the view (broadcast-only joins)") {
    val d = sf("sf0.001")
    val df = SparkEntry.queries("q121_incremental_view")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"view side shuffled:\n${p.take(800)}")
  }

  test("merge handles delta-only keys (fresh-insert path) additively") {
    import spark.implicits._
    val view = Seq((1L, 2L, BigDecimal("10.5")), (2L, 1L, BigDecimal("3.0")))
      .toDF("k", "n", "s")
    val delta = Seq((2L, 4L, BigDecimal("1.5")), (9L, 7L, BigDecimal("2.25")))
      .toDF("k", "n", "s")
    val out = IncrementalAgg.merge(view, delta, Seq("k"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue())).toSeq ==
      Seq((1L, 2L, 10.5), (2L, 5L, 4.5), (9L, 7L, 2.25)))
  }

  test("q122 sampled candidate set contains the true top 25 tokens") {
    val d = sf("sf0.01")
    val tokens = Tables.documents(spark, d)
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("token"))
    val trueTop = tokens.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(25)
      .select("token").collect().map(_.getString(0)).toSet
    val cands = tokens
      .filter(pmod(util.Parity.keyHash(col("doc_id")), lit(10)) < 3)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(400)
      .select("token").collect().map(_.getString(0)).toSet
    assert(trueTop.subsetOf(cands),
      s"missing from candidates: ${trueTop.diff(cands).take(5)}")
    // the runtime certificate must agree: the corpus vocabulary fits the
    // candidate cap, so the tail sketch is empty and the bound is 0
    val out = SparkEntry.queries("q122_heavy_hitters")(spark, d)
      .select("sound", "tail_ub").distinct().collect()
    assert(out.map(r => (r.getBoolean(0), r.getLong(1))).toSeq == Seq((true, 0L)),
      "q122's worst-case certificate is false at test scale")
  }

  test("q122 certificate flips to false under a planted concentrated token") {
    import spark.implicits._
    // Natural docs (sampled + unsampled) + an adversarial token that
    // appears 50× per doc in EXCLUSIVELY unsampled docs (keyHash % 10
    // >= 3): it can never become a candidate, yet its true count
    // exceeds the smallest emitted top-k count — the corpus the round-6
    // concentration heuristic would have wrongly certified. The CMS
    // tail bound must cover the planted count and flip `sound` false.
    val kh = (id: Long) =>
      (BigInt(id % util.Parity.HashMod) * util.Parity.HashPrime % util.Parity.HashMod).toLong
    val unsampled = (0L until 400L).filter(id => kh(id) % 10 >= 3)
    val sampledOk = (0L until 400L).filter(id => kh(id) % 10 < 3)
    assert(unsampled.size >= 50 && sampledOk.size >= 50)
    val natural = (sampledOk ++ unsampled.drop(40)).map(id =>
      (id, Seq.fill(20)(s"w${id % 7}").mkString(" ")))
    val planted = unsampled.take(40).map(id =>
      (id, (Seq.fill(20)(s"w${id % 7}") ++ Seq.fill(50)("zzadversary")).mkString(" ")))
    val docs = (natural ++ planted).toDF("doc_id", "text")
    val out = graft.text.HeavyHitters.topKCertified(docs, col("text"), col("doc_id"))
    val rows = out.collect()
    val ub = rows.head.getLong(2)
    val plantedTrue = 50L * 40L
    assert(ub >= plantedTrue, s"certified bound $ub misses the planted count $plantedTrue")
    assert(rows.forall(!_.getBoolean(3)), "certificate stayed true despite an uncertifiable tail")
    // and the planted token is indeed invisible to the candidate pass
    assert(!rows.map(_.getString(0)).contains("zzadversary"))
  }

  test("q158 CMS estimates respect the eps*N overshoot bound on the current testdata") {
    // the PROBABILISTIC half of the CMS guarantee (q158's oracle gates
    // only the structural never-underestimate half, so a driver data
    // regen can't flip a coin into a spurious hash failure) — asserted
    // here per-dataset, where it IS deterministic for the fixed seed
    val ev = Tables.events(spark, sf("sf0.01"))
    val cms = ev.stat.countMinSketch("user_id", eps = 0.001, confidence = 0.99, seed = 42)
    val bound = math.ceil(0.001 * cms.totalCount()).toLong
    val probes = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("user_id").asc).limit(50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val violations = probes.filter { case (uid, exact) =>
      val est = cms.estimateCount(java.lang.Long.valueOf(uid))
      est < exact || est > exact + bound
    }
    assert(violations.isEmpty,
      s"CMS bound violated for keys: ${violations.take(5).mkString(", ")} (bound=$bound)")
  }

  test("z-value interleaving is monotone in tile structure (unit)") {
    import spark.implicits._
    val df = Seq((3L, 5L), (3L, 6L), (200L, 7L), (255L, 255L), (0L, 0L))
      .toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y"), 8).as("z"))
    val zs = df.collect().map(_.getLong(0))
    assert(zs.toSeq == Seq(ZOrder.ref(3, 5, 8), ZOrder.ref(3, 6, 8),
      ZOrder.ref(200, 7, 8), ZOrder.ref(255, 255, 8), 0L))
  }
}
