package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

/** Index-maintenance contracts for the persisted quantized-IVF family
  * (round-8 verdict asks #2/#3):
  *
  *  - cell-partitioned persistence round-trips rows AND the `graft.exact`
  *    metadata stamp, so the mixed-dot-path guard keeps firing on indexes
  *    loaded from disk;
  *  - a probe over the persisted layout PRUNES both scans (segment and
  *    re-rank side) to the probed cell partitions — the plan contract
  *    behind `Similarity.scala`'s "keyed point-fetch" claim;
  *  - tombstone compaction rewrites ONLY the cell partitions that contain
  *    deleted ids (neighbour cells byte-identical), and probing the
  *    compacted index equals the logical-delete probe equals a rebuild
  *    without the deleted vectors.
  */
class AnnMaintenanceSpec extends SparkSpec {

  private val width = 64

  private def buildAll(d: String) = {
    val base = graft.relational.Scale.fanOut(graft.io.Tables.embeddings(spark, d)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
    val cents = base.filter(pmod(col("vec_id"), lit(100)) === 0)
      .select(col("vec_id").as("__cell"), col("v").as("__cv"))
    val cb = Similarity.affineCodebook(base, "v", width)
    val indexed = Similarity.indexCells(base, cents, "v")
    val segment = Similarity.quantizedSegment(indexed, cb, "vec_id", "v")
    (base, cents, cb, indexed, segment)
  }

  /** All FileSourceScanExec nodes, through AQE stages / reused exchanges /
    * expression subqueries (plan toString elides staged subtrees, so spec
    * assertions must walk the tree, not grep the string). */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case r: exchange.ReusedExchangeExec => fileScans(r.child)
      case s: FileSourceScanExec => Seq(s)
      case other =>
        other.children.flatMap(fileScans) ++
          other.subqueries.flatMap(fileScans)
    }
  }

  test("cell-partitioned persistence round-trips the exact stamp; the guard fires from disk") {
    val (_, cents, cb, indexed, segment) = buildAll(sf("sf0.001"))
    val p = scratch("annm_stamp")
    Similarity.writeCellPartitioned(segment, p)
    val loaded = Similarity.readCellPartitioned(spark, p, segment.schema)
    // rows survive the round trip exactly
    assert(loaded.count() == segment.count())
    assert(loaded.exceptAll(segment.select(loaded.columns.map(col): _*)).count() == 0)
    // the metadata stamp survives, so the guard can fire on a LOADED index
    assert(loaded.schema("__nv").metadata.getBoolean("graft.exact"),
      "graft.exact stamp lost in the parquet round trip")
    val queries = graft.io.Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), _.cast("double")).as("qv"))
      .filter(pmod(col("q_id"), lit(50)) === 0)
    val ex = intercept[IllegalArgumentException] {
      Similarity.probeQuantizedIvf(loaded, indexed, queries, cents, cb,
        "q_id", "vec_id", "qv", "v", k = 5, nprobe = 2, rerank = 20,
        exact = false) // segment was built exact=true → must fail loudly
    }
    assert(ex.getMessage.contains("mix dot paths"), ex.getMessage)
  }

  test("persisted probe prunes both scans to the probed cell partitions") {
    val (base, cents, cb, indexed, segment) = buildAll(sf("sf0.001"))
    val segPath = scratch("annm_prune_seg")
    val idxPath = scratch("annm_prune_idx")
    Similarity.writeCellPartitioned(segment, segPath)
    Similarity.writeCellPartitioned(indexed, idxPath)
    val segD = Similarity.readCellPartitioned(spark, segPath, segment.schema)
    val idxD = Similarity.readCellPartitioned(spark, idxPath, indexed.schema)
    // ONE query vector → exactly nprobe(=2) of the 5 cells are probed; a
    // pruned plan reads 2 partitions per scan, an unpruned one all 5
    val oneQ = base.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val res = Similarity.probeQuantizedIvf(segD, idxD, oneQ, cents, cb,
      "q_id", "vec_id", "qv", "v", k = 5, nprobe = 2, rerank = 20)
    res.collect()
    val scans = fileScans(res.queryExecution.executedPlan)
    def scansOf(path: String) = scans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains(path)))
    for ((path, what) <- Seq(segPath -> "segment", idxPath -> "re-rank index")) {
      val ss = scansOf(path)
      assert(ss.nonEmpty, s"no FileScan over the persisted $what found")
      ss.foreach { s =>
        assert(s.partitionFilters.exists(_.toString.contains("dynamicpruning")),
          s"$what scan has no dynamic partition pruning filter: ${s.partitionFilters}")
        // schema-less listing: only the file count matters, and the
        // segment schema would be wrong for the re-rank index anyway
        val total = spark.read.parquet(path).inputFiles.length
        val read = s.metrics("numFiles").value
        assert(read * 2 <= total,
          s"$what scan read $read of $total files — partitions not pruned")
      }
    }
  }

  test("compaction rewrites only tombstoned cells; probe == logical delete == rebuild") {
    val (base, cents, cb, indexed, segment) = buildAll(sf("sf0.001"))
    val segPath = scratch("annm_compact_seg")
    Similarity.writeCellPartitioned(segment, segPath)
    // tombstones concentrated in SOME cells: delete every vector assigned
    // to the two highest cells' worth of ids — derive the set from the
    // index so the affected-cell prediction is exact
    val cellOfTombs = indexed.filter(pmod(col("vec_id"), lit(11)) === 5)
      .select("vec_id", "__cell")
    val tombs = cellOfTombs.select("vec_id")
    val expectedCells = cellOfTombs.select("__cell").distinct()
      .collect().map(_.getLong(0)).toSet
    // snapshot every cell partition's files (relative path, size, mtime)
    def snapshot(): Map[String, (Long, Long)] = {
      val root = new java.io.File(segPath)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath.stripPrefix(segPath) ->
          (f.length(), f.lastModified())).toMap
    }
    val before = snapshot()
    val affected = Similarity.compactTombstones(spark, segPath, tombs, "vec_id",
      segment.schema)
    assert(affected.toSet == expectedCells,
      s"compaction touched $affected, expected $expectedCells")
    val after = snapshot()
    // untouched cells: byte-identical file sets (same names, sizes, mtimes)
    val untouched = (c: String) => !expectedCells.exists(id => c.contains(s"__cell=$id/"))
    assert(before.view.filterKeys(untouched).toMap == after.view.filterKeys(untouched).toMap,
      "files of non-tombstoned cells changed during compaction")
    // touched cells: fully rewritten (no pre-compaction file survives)
    assert(!after.keys.exists(k => !untouched(k) && before.contains(k) &&
      before(k) == after(k)), "a tombstoned cell kept a pre-compaction file")
    // compacted persisted probe == logical-delete probe == rebuild probe
    val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    def probe(seg: DataFrame, full: DataFrame) =
      Similarity.probeQuantizedIvf(seg, full, queries, cents, cb,
        "q_id", "vec_id", "qv", "v", k = 5, nprobe = 2, rerank = 20)
        .collect().map(_.toSeq).toSet
    val fullFiltered = Similarity.applyTombstones(indexed, tombs, "vec_id")
    val compacted = probe(
      Similarity.readCellPartitioned(spark, segPath, segment.schema), fullFiltered)
    val logical = probe(Similarity.applyTombstones(segment, tombs, "vec_id"), fullFiltered)
    val survivors = base.join(broadcast(tombs), Seq("vec_id"), "left_anti")
    val rebuiltIdx = Similarity.indexCells(survivors, cents, "v")
    val rebuilt = probe(Similarity.quantizedSegment(rebuiltIdx, cb, "vec_id", "v"), rebuiltIdx)
    assert(compacted == logical, "compacted probe differs from logical-delete probe")
    assert(compacted == rebuilt, "delete path differs from a rebuild without the tombstones")
    assert(compacted.nonEmpty)
  }

  test("_TUNING.json: recall curve is monotone, tops out at 1.0, and floors the default probe") {
    // round-14 verdict stretch: the build-time recall-vs-nprobe record
    // probes pick their width by. Structural claims: a larger nprobe
    // routes to a cell SUPERSET, so recall@k never decreases; at nprobe
    // = |cells| the candidate set is the corpus, so the last rung is
    // exactly 1.0; and a probe at the q168 default (nprobe = 2) measures
    // at least the curve's recorded floor for that rung.
    val (_, cents, _, indexed, _) = buildAll(sf("sf0.001"))
    val dir = scratch("ann_tuning_spec")
    graft.util.Staging.deleteRecursive(dir)
    Similarity.writeCellPartitioned(indexed, dir)
    val nCells = cents.count().toInt
    val curve = Similarity.writeTuningRecord(spark, dir, indexed, cents,
      "vec_id", "v", k = 5, nprobes = 1 to nCells, sampleMod = 20)
    assert(curve.map(_._1) == (1 to nCells), s"curve rungs wrong: $curve")
    curve.sliding(2).foreach { case Seq((_, a), (_, b)) =>
      assert(b >= a, s"recall curve not monotone: $curve") }
    assert(curve.last._2 == 1.0,
      s"probing every cell must reproduce the brute top-k exactly: $curve")
    // the sidecar landed inside the partitioned layout and parses
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_TUNING.json")), "UTF-8")
    assert(txt.contains("\"curve\"") && txt.contains("\"nprobe\":1"), txt)
    // ... and Spark's readers ignore it (underscore-prefixed)
    assert(Similarity.readCellPartitioned(spark, dir, indexed.schema).count()
      == indexed.count())
    // q168's default rung: a fresh nprobe=2 probe reproduces at least
    // the recorded floor (same index, same truth — the record is what a
    // production probe trusts without re-measuring)
    val floor = curve.find(_._1 == 2).map(_._2).getOrElse(0.0)
    val sample = indexed.filter(pmod(col("vec_id"), lit(20)) === 1)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val truth = Similarity.bruteForceTopK(sample,
      indexed.select(col("vec_id"), col("v")), "q_id", "vec_id", "qv", "v", 5)
    val hit = Similarity.ivfTopKIndexed(indexed, sample, cents,
        "q_id", "vec_id", "qv", "v", k = 5, nprobe = 2)
      .join(truth.select("q_id", "vec_id"), Seq("q_id", "vec_id"), "left_semi").count()
    assert(hit.toDouble / truth.count() >= floor,
      s"default-nprobe probe measured below its recorded floor $floor")
  }
}
