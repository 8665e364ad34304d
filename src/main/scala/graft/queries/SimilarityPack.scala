package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.io.Tables
import graft.similarity.Similarity

/** Similarity-search surface over the embeddings table: LSH-bucketed
  * near-duplicate detection (the scale path: bucket join, not all-pairs)
  * and brute-force cosine top-k (the exactness baseline).
  */
object SimilarityPack extends QueryPack {

  private val nPlanes = 8
  private val width = 64

  /** Stage the q175 persisted cell-partitioned index pair (int8 segment +
    * full-precision re-rank index over the 5-cell modulus centroids),
    * idempotent per sfDir. Returns (segmentDir, indexDir, and both BUILD
    * schemas — readCellPartitioned needs them so `__cell` keeps its long
    * type and `graft.exact` stamp through the round trip). */
  private def stagedPersistedIndex(s: SparkSession, d: String)
      : (String, String, org.apache.spark.sql.types.StructType,
         org.apache.spark.sql.types.StructType, Similarity.AffineCodebook) = {
    import java.nio.file.{Files, Paths}
    // EVERYTHING builds inside the ensure closure (round-9 review: the
    // codebook .head() and indexCells' centroid collect used to run
    // eagerly on every q175 execution even when the marker existed —
    // redundant corpus scans inside a query whose contract is "measure
    // the probe, from disk"); the cached path reads only the sidecar
    // files: both BUILD schemas (readCellPartitioned needs them so
    // `__cell` keeps its long type and `graft.exact` stamp) and the
    // codebook (Double.toString round-trips exactly).
    val root = graft.util.Staging.ensure(
      graft.util.Staging.dirFor("q175_index", d), s"$d/embeddings.parquet") { out =>
      val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
      val cents = base.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("__cell"), col("v").as("__cv"))
      val cb = Similarity.affineCodebook(base, "v", width)
      val indexed = Similarity.indexCells(base, cents, "v")
      val segment = Similarity.quantizedSegment(indexed, cb, "vec_id", "v")
      Similarity.writeCellPartitioned(segment, s"$out/segment")
      Similarity.writeCellPartitioned(indexed, s"$out/fullindex")
      // build-time recall curve (round-14 verdict stretch): nprobe →
      // recall@5 against the sampled brute oracle, persisted beside the
      // cells so q175-shaped probes pick nprobe for a target recall
      Similarity.writeTuningRecord(s, s"$out/fullindex", indexed, cents,
        "vec_id", "v", k = 5, nprobes = 1 to 5, sampleMod = 100)
      Files.write(Paths.get(out, "segment_schema.json"),
        segment.schema.json.getBytes("UTF-8"))
      Files.write(Paths.get(out, "fullindex_schema.json"),
        indexed.schema.json.getBytes("UTF-8"))
      Files.write(Paths.get(out, "codebook.txt"),
        (cb.los.mkString(",") + "\n" + cb.his.mkString(",")).getBytes("UTF-8"))
      ()
    }
    def schemaOf(n: String) = org.apache.spark.sql.types.DataType.fromJson(
        new String(Files.readAllBytes(Paths.get(root, n)), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val Array(los, his) = new String(
      Files.readAllBytes(Paths.get(root, "codebook.txt")), "UTF-8").split("\n")
    (s"$root/segment", s"$root/fullindex",
      schemaOf("segment_schema.json"), schemaOf("fullindex_schema.json"),
      Similarity.AffineCodebook(
        los.split(",").map(_.toDouble), his.split(",").map(_.toDouble)))
  }

  /** q177's arrival split — true arrivals (vec_id ≡ 2 mod 5) plus
    * perturbed near-copies of history vectors — staged once per sfDir
    * so the benchmarked run measures the streaming probe, not this
    * write (the Staging harness rule). */
  private def stagedArrivals(s: SparkSession, d: String): String =
    graft.util.Staging.ensure(
      graft.util.Staging.dirFor("vecadm_in", d), s"$d/embeddings.parquet") { out =>
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      base.filter(pmod(col("vec_id"), lit(5)) === 2)
        .unionByName(base.filter(pmod(col("vec_id"), lit(10)) === 0)
          .select((col("vec_id") + 1000000).as("vec_id"),
            transform(col("v"), (x, i) =>
              x + lit(0.005) * (pmod(i, lit(2)) * 2 - 1).cast("double")).as("v")))
        .coalesce(1).write.mode("overwrite").parquet(out)
    }

  override def stage(s: SparkSession, d: String): Unit = {
    stagedPersistedIndex(s, d); stagedArrivals(s, d); ()
  }

  /** embeddings (as double arrays) ∪ perturbed copies of every 10th vector
    * (±0.005 alternating per dimension: vectors are unit-norm, so cosine to
    * the original ≈ 0.9992 and sign-projection bits rarely flip). */
  private def augVectors(s: SparkSession, d: String): DataFrame = {
    // decimal-dot math per row dominates — fan the single-split scan out
    val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
    base.unionByName(
      base.filter(pmod(col("vec_id"), lit(10)) === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("v"), (x, i) =>
            x + lit(0.005) * (pmod(i, lit(2)) * 2 - 1).cast("double")).as("v")))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LSH near-dup: sign-random-projection buckets → bucket self-join →
    // exact-decimal cosine ≥ 0.99.
    "q34_lsh_neardup" -> { (s, d) =>
      val withBucket = augVectors(s, d)
        .withColumn("bucket", Similarity.signBucket(col("v"), nPlanes, width))
        .withColumn("nrm", sqrt(Similarity.dotDec(col("v"), col("v"))))
      val l = withBucket.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("bucket"), col("nrm").as("na"))
      val r = withBucket.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("bucket"), col("nrm").as("nb"))
      l.join(r, "bucket").filter(col("vec_a") < col("vec_b"))
        .withColumn("cosraw",
          Similarity.dotDec(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cosraw") >= 0.99)
        .select(col("vec_a"), col("vec_b"), round(col("cosraw"), 6).as("cos"))
    },

    // brute-force cosine top-5 for every 50th vector as query.
    "q35_ann_topk" -> { (s, d) =>
      val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
      val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      Similarity.bruteForceTopK(queries, base, "q_id", "vec_id", "qv", "v", 5)
    },

    // ── q157: q35's PRODUCTION-fast-path twin (DoubleDot, exact=false) ──
    // Same top-k, IEEE dots end-to-end. Oracle-exact WITHOUT decimals:
    // DoubleDot accumulates left-to-right in double, and DuckDB's
    // list_inner_product over DOUBLE[] is the same left-to-right loop —
    // verified bit-identical on the real embeddings before registration —
    // so cos, round(·, 6), and the (cos DESC, id) ranking all reproduce.
    // DUCKDB-VERSION DEPENDENCE (round-6 review): that left-to-right
    // parity is a property of DuckDB's CURRENT scalar implementation,
    // verified on DuckDB 1.0.0 (the driver's oracle engine this round).
    // A DuckDB upgrade to SIMD/pairwise accumulation would flip
    // round(cos, 6) at boundary values and fail this oracle SPURIOUSLY —
    // diagnose such a failure as an oracle-engine change (re-verify dot
    // parity first), not an engine regression. q35 (decimal-exact twin)
    // is the version-immune gate.
    // This gates the fast path the 100 TB index build actually runs
    // (BASELINE.md round-6 ANN table: 5.6–13.9× over the decimal path).
    "q157_ann_topk_fast" -> { (s, d) =>
      val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
      val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      Similarity.bruteForceTopK(queries, base, "q_id", "vec_id", "qv", "v", 5, exact = false)
    },

    // IVF-style ANN (the scale path beside q35's brute force): corpus
    // indexed into deterministic centroid cells (every 500th vector),
    // queries probe their 2 nearest cells, exact scoring within candidates.
    "q67_ivf_ann" -> { (s, d) =>
      val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
      val cents = base.filter(pmod(col("vec_id"), lit(500)) === 0)
        .select(col("vec_id").as("__cell"), col("v").as("__cv"))
      val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      Similarity.ivfTopK(base, queries, cents, "q_id", "vec_id", "qv", "v", k = 5, nprobe = 2)
    },

    // ── q165: INCREMENTAL IVF index maintenance (delta segment) ───────
    // New vectors are indexed against the FROZEN centroid set (one
    // map-side pass over the delta only — the base segment is never
    // rescanned, the FAISS/Lucene delta-segment shape) and the probe
    // runs over base ∪ delta. Because cell assignment is a per-row
    // argmax under fixed centroids, the incrementally-maintained index
    // is BIT-IDENTICAL to a full rebuild — which is exactly what the
    // oracle checks: q67's full-index replay must reproduce this
    // incremental path's results verbatim (same probe protocol).
    "q165_incremental_ann" -> { (s, d) =>
      val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
      val cents = base.filter(pmod(col("vec_id"), lit(500)) === 0)
        .select(col("vec_id").as("__cell"), col("v").as("__cv"))
      val hist = base.filter(pmod(col("vec_id"), lit(7)) =!= 3)
      val delta = base.filter(pmod(col("vec_id"), lit(7)) === 3)
      val idx = Similarity.indexCells(hist, cents, "v")          // persisted at 100 TB
        .unionByName(Similarity.indexCells(delta, cents, "v"))   // the delta segment
      val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      Similarity.ivfTopKIndexed(idx, queries, cents, "q_id", "vec_id", "qv", "v",
        k = 5, nprobe = 2)
    },

    // ── q166: scalar-quantized (int8) ANN with exact re-rank ──────────
    // The index-RESIDENCY op: per-dimension affine int8 codes shrink the
    // resident index 4× (64 doubles → 64 bytes + 2·dim corpus-wide
    // floats), the probe scores the DEQUANTIZED vectors (asymmetric
    // distance: query side stays full precision), and the approx top-20
    // per query re-ranks under full-precision cosine for the final
    // top-5. Quantization error only moves WHICH candidates re-rank —
    // the emitted scores are exact — and the whole path (code rounding,
    // dequantized scoring, re-rank) is decimal/IEEE-portable, so the
    // oracle replays it bit-for-bit with no tolerance gate.
    "q166_quantized_ann" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
      // per-dim code range: ONE tiny aggregate (2·dim doubles), broadcast
      // back as literals — the corpus-wide "codebook"
      val st = base.agg(
        array((1 to width).map(i => min(element_at(col("v"), i))): _*).as("los"),
        array((1 to width).map(i => max(element_at(col("v"), i))): _*).as("his")).head()
      val los = st.getSeq[Double](0).toArray
      val his = st.getSeq[Double](1).toArray
      val vhat = transform(col("v"), (x, i) => {
        val lo = element_at(lit(los), i + 1)
        val sc = element_at(lit(his), i + 1) - lo
        val code = when(sc === 0, lit(0.0)).otherwise(round((x - lo) / sc * 255))
        lo + code / lit(255.0) * sc
      })
      val corpus = base.select(col("vec_id"), vhat.as("vh"))
        .withColumn("nv", sqrt(Similarity.dotDec(col("vh"), col("vh"))))
      val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
        .withColumn("nq", sqrt(Similarity.dotDec(col("qv"), col("qv"))))
      val wa = Window.partitionBy("q_id").orderBy(col("acos").desc, col("vec_id").asc)
      val cand = corpus.crossJoin(broadcast(queries))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("acos",
          round(Similarity.dotDec(col("qv"), col("vh")) / (col("nq") * col("nv")), 6))
        .withColumn("arank", row_number().over(wa))
        .filter(col("arank") <= 20)
        .select("q_id", "vec_id", "qv", "nq")
      // exact re-rank: the tiny candidate list broadcasts; the corpus
      // never shuffles
      val full = base.withColumn("nvf", sqrt(Similarity.dotDec(col("v"), col("v"))))
      val wr = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
      full.join(broadcast(cand), "vec_id")
        .withColumn("cos",
          round(Similarity.dotDec(col("qv"), col("v")) / (col("nq") * col("nvf")), 6))
        .withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"), col("cos"), col("rank"))
    },

    // ── q168: quantized-IVF COMPOSED index (q67 × q166) ───────────────
    // The round-7 verdict's one weak component, built for real: int8
    // codes live INSIDE the IVF cells, so a probe routes to its nprobe=2
    // nearest cells and scans only those cells' codes —
    // |corpus|/|cells|·nprobe rows at ~1/4.7 the resident bytes — then
    // exact-re-ranks the top-20 shortlist under full precision. Emitted
    // scores stay EXACT (quantization + routing only move which
    // candidates re-rank), and every stage (cell argmax, code rounding,
    // dequantized decimal scoring, re-rank) is decimal/IEEE-portable, so
    // the oracle replays the whole composition bit-for-bit with no
    // tolerance gate. The round-8 sweep measured the composed probe
    // against both parents (q166's full scan, q67's full-precision IVF)
    // at equal recall (BASELINE.md §Round-8: quantized-IVF COMPOSED index).
    "q168_quantized_ivf" -> { (s, d) =>
      val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
      val cents = base.filter(pmod(col("vec_id"), lit(500)) === 0)
        .select(col("vec_id").as("__cell"), col("v").as("__cv"))
      val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val cb = Similarity.affineCodebook(base, "v", width)
      Similarity.ivfQuantizedTopK(base, queries, cents, cb,
        "q_id", "vec_id", "qv", "v", k = 5, nprobe = 2, rerank = 20)
    },

    // ── q174: DELETE from the quantized-IVF index (tombstones) ────────
    // Round-8 verdict ask #2: q165 proved ADD; nothing removed a vector.
    // The logical-delete path: a tombstone id-set is anti-joined out of
    // BOTH probe inputs (the int8 segment and the full-precision re-rank
    // side) at probe time — the GDPR-delete / dedup-supersede shape where
    // a rebuild of a 100 TB index is not an option. Because cell
    // assignment is per-row (removing a vector cannot move any survivor's
    // cell) and centroids/codebook are build-time parameters, the
    // filtered probe is BIT-IDENTICAL to a full rebuild without the
    // deleted vectors — which is exactly what the oracle replays. The
    // physical path (compaction: only tombstoned CELL PARTITIONS
    // rewritten, neighbours byte-identical) is spec-gated in
    // AnnMaintenanceSpec against this same query's output. A 5-cell index
    // (every 100th vector) so deletes span multiple cells.
    "q174_ann_delete" -> { (s, d) =>
      val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
      val cents = base.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("__cell"), col("v").as("__cv"))
      val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val cb = Similarity.affineCodebook(base, "v", width)
      val indexed = Similarity.indexCells(base, cents, "v")
      val segment = Similarity.quantizedSegment(indexed, cb, "vec_id", "v")
      val tombs = base.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id")
      Similarity.probeQuantizedIvf(
        Similarity.applyTombstones(segment, tombs, "vec_id"),
        Similarity.applyTombstones(indexed, tombs, "vec_id"),
        queries, cents, cb, "q_id", "vec_id", "qv", "v",
        k = 5, nprobe = 2, rerank = 20)
    },

    // ── q175: the PERSISTED cell-partitioned index ────────────────────
    // Round-8 verdict ask #3: the scaladocs described "parquet
    // partitioned by __cell" as the production layout, but every
    // registered query built its index in-session. Here both the int8
    // segment and the full-precision re-rank index are WRITTEN
    // partitioned by cell, read back (explicit schema: __cell keeps its
    // build type and the graft.exact stamp survives the round trip —
    // AnnMaintenanceSpec asserts the guard still fires), and the probe
    // runs entirely FROM DISK. Results must be bit-identical to the
    // in-memory composition (the oracle is the same replay), and
    // AnnMaintenanceSpec pins the plan contract: both scans prune to the
    // probed cell partitions (dynamic partition pruning through the
    // probe's broadcast joins), never a full-directory read.
    // The index is STAGED once per sfDir (q164's staged-layout pattern —
    // the build is the one-time cost a 100 TB deployment pays at index
    // time; marker keyed to the embeddings fingerprint, so a regenerated
    // corpus re-stages); the registered query measures the PRODUCTION
    // operation: the probe, from disk, partition-pruned.
    "q175_persisted_ivf" -> { (s, d) =>
      val (segDir, idxDir, segSchema, idxSchema, cb) = stagedPersistedIndex(s, d)
      val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
      val cents = base.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("__cell"), col("v").as("__cv"))
      val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      Similarity.probeQuantizedIvf(
        Similarity.readCellPartitioned(s, segDir, segSchema),
        Similarity.readCellPartitioned(s, idxDir, idxSchema),
        queries, cents, cb, "q_id", "vec_id", "qv", "v",
        k = 5, nprobe = 2, rerank = 20)
    },

    // ── q173: quantized-IVF over TRAINED centroids (q80 × q168) ───────
    // The round-8 verdict's top ask: every ANN centroid set so far was a
    // deterministic corpus sample (pmod(vec_id, 500) — which at dim 256
    // measured cell-routed recall@10 of 0.65–0.69, the one number a
    // production vector store would reject; BASELINE.md round-8). This
    // composes the engine's existing seeded k-means (q80's estimator)
    // with indexCells: centroids are TRAINED on the corpus (the
    // FAISS/Milvus/Vespa shape — IVF centroids always come from k-means),
    // dumped for the oracle, and the full quantized-IVF composition
    // (cell argmax → int8 cell scan → exact re-rank) runs against them.
    // The oracle replays the ENTIRE probe from the dumped centroids —
    // assignment argmax, probe routing, code rounding, dequantized
    // decimal scoring, exact re-rank — bit-for-bit, no tolerance gate
    // (training quality was measured by the round-9 sweep, BASELINE.md
    // §Round-9: TRAINED IVF centroids; training correctness is q80's
    // argmin-replay contract).
    "q173_trained_ivf" -> { (s, d) =>
      import graft.ml.{Models, PipelineStages}
      val fitDf = Tables.embeddings(s, d).select(col("vec_id"),
          PipelineStages.arrayToVector(transform(col("embedding"), _.cast("double"))).as("features"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      fitDf.count()
      try {
        val fitted = Models.kmeans("features", k = 8).fit(fitDf)
        val cents = graft.util.OracleDump.dump(
          s.createDataFrame(fitted.clusterCenters.zipWithIndex.toSeq.map { case (c, i) =>
            (i.toLong, c.toArray.toSeq) }).toDF("__cell", "__cv"),
          "q173_centroids")
        val base = graft.relational.Scale.fanOut(Tables.embeddings(s, d)
          .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
        val queries = base.filter(pmod(col("vec_id"), lit(50)) === 0)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val cb = Similarity.affineCodebook(base, "v", width)
        Similarity.ivfQuantizedTopK(base, queries, cents, cb,
          "q_id", "vec_id", "qv", "v", k = 5, nprobe = 2, rerank = 20)
      } finally fitDf.unpersist()
    },

    // ── q177: STREAMING vector admission on the quantized index ───────
    // Round-8 stretch ask: q160's ingest-dedup shape composed with the
    // q168 segment. A bounded ARRIVAL stream of vectors (the held-out
    // fifth of the corpus, plus perturbed near-copies of every 10th
    // history vector — the near-dups admission must catch) probes the
    // STATIC int8 segment map-side per micro-batch: cell routing is a
    // pure projection against broadcast centroid literals
    // (Similarity.routeToCells — no state, no shuffle), the probed
    // cells' codes join in via a broadcast stream-static join, and each
    // arrival's max dequantized-decimal cosine decides admission
    // (max < 0.99 → novel → admit; the perturbed copies score ≈ 0.9992
    // and are rejected). At 100 TB the broadcast side is the persisted
    // cell-partitioned segment of q175 with the probe pruned to routed
    // cells; the arithmetic is unchanged. The oracle replays the whole
    // probe — history/arrival split, codebook over HISTORY only, cell
    // argmax, code rounding, dequantized decimal scoring, max, threshold
    // — bit-for-bit over the arrival set.
    "q177_stream_vector_admission" -> { (s, d) =>
      import graft.streaming.Streams
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      val hist = graft.relational.Scale.fanOut(base.filter(pmod(col("vec_id"), lit(5)) =!= 2))
      val cents = hist.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("__cell"), col("v").as("__cv"))
      val cb = Similarity.affineCodebook(hist, "v", width)
      val segment = Similarity.quantizedSegment(
        Similarity.indexCells(hist, cents, "v"), cb, "vec_id", "v")
      val dir = stagedArrivals(s, d)
      val schema = s.read.parquet(dir).schema
      // fan the arrival batch across the cluster (round-15, guide §2.5
      // input skew): the staged arrivals are one small file, so the scan
      // — and with it the per-candidate decimal scoring downstream of the
      // broadcast join — ran as ONE task on a 32-core session (9.9 s
      // micro-batch). A keyed repartition to defaultParallelism shuffles
      // only the ~|arrivals| rows and parallelizes the dot math.
      val arrivals = s.readStream.schema(schema).parquet(dir)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id").as("a_id"), col("v").as("av"))
      val scored = Similarity.routeToCells(arrivals, cents, "av", nprobe = 2)
        .join(broadcast(segment), Seq("__cell"))
        .withColumn("__vh", Similarity.dequantize(col("__codes"), cb))
        .withColumn("acos",
          round(Similarity.dotDec(col("av"), col("__vh")) / (col("__qn") * col("__nv")), 6))
        .select(col("a_id"), col("acos"))
      // stateless per-candidate stream → append sink; the tiny per-vector
      // verdict rollup is a batch read of the sink
      Streams.drainToParquet(scored, "vecadm", "append")
        .groupBy("a_id").agg(max("acos").as("max_cos"))
        .withColumn("admitted", col("max_cos") < 0.99)
        .select(col("a_id").as("vec_id"), col("max_cos"), col("admitted"))
    },

    // seeded k-means clustering over the embeddings — corpus-curation
    // shape (topic balancing / cluster-level pruning). Fitted centroids
    // are dumped; the oracle re-derives every vector's argmin centroid in
    // SQL and must reproduce the cluster sizes exactly.
    "q80_kmeans_clusters" -> { (s, d) =>
      import graft.ml.{Models, PipelineStages}
      import org.apache.spark.sql.expressions.Window
      val df = Tables.embeddings(s, d).select(col("vec_id"),
          PipelineStages.arrayToVector(transform(col("embedding"), _.cast("double"))).as("features"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      try {
        val fitted = Models.kmeans("features", k = 8).fit(df)
        val cents = graft.util.OracleDump.dump(
          s.createDataFrame(fitted.clusterCenters.zipWithIndex.toSeq.map { case (c, i) =>
            (i.toLong, c.toArray.toSeq) }).toDF("cluster", "centroid"),
          "q80_centroids")
        // assignment is an EXPLICIT exact argmin over the dumped centroids
        // (k-per-row broadcast cross, ties to lowest cluster id) — NOT
        // model.transform: MLlib's findClosest uses the precomputed-norm
        // dot-product shortcut with a ~1e-7 relative-error band, so a
        // vector near-equidistant to two centroids could flip vs the
        // oracle's exact replay. This computes the same left-to-right
        // squared-distance sum the oracle's list_distance does.
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
        val dist = sqrt(aggregate(
          zip_with(col("v"), col("centroid"), (x, y) => (x - y) * (x - y)),
          lit(0.0), _ + _))
        val w = Window.partitionBy("vec_id").orderBy(col("dist").asc, col("cluster").asc)
        emb.crossJoin(broadcast(cents)).withColumn("dist", dist)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .groupBy("cluster").agg(count(lit(1)).as("n"))
      } finally df.unpersist()
    },

    // grouped softmax over the shared linear score probe: the numerically
    // stable exp-normalize (shift by the per-label max — a window MAX is
    // order-free), exp rounded at source, the normalizer an exact-decimal
    // window sum, and the final probability one IEEE division of exact
    // doubles — the whole distribution is engine-replayable with no
    // tolerance gate. One label-keyed window; at scale the same shape
    // runs per any grouping key.
    "q146_softmax" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val score = ((element_at(col("embedding"), 1).cast("double")
        - lit(0.5) * element_at(col("embedding"), 2).cast("double"))
        + lit(0.25) * element_at(col("embedding"), 3).cast("double")).as("s")
      val w = Window.partitionBy("label")
      Tables.embeddings(s, d).select(col("vec_id"), col("label"), score)
        .withColumn("e", round(exp(col("s") - max(col("s")).over(w)), 6))
        .withColumn("z", sum(col("e").cast(DecimalType(28, 6))).over(w).cast("double"))
        .select(col("vec_id"), col("label"), (col("e") / col("z")).as("p"))
    }
  )

  /** Shared oracle CTEs: element table + exact-decimal norms. */
  private def elemCtes(src: String): String =
    s"""el AS (SELECT vec_id, i, v[i] AS e FROM $src, range(1, ${width + 1}) t(i)),
       norms AS (SELECT vec_id, CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS nrm
                 FROM el GROUP BY vec_id)"""

  override def oracles: Map[String, String] = Map(
    "q34_lsh_neardup" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          aug AS (SELECT vec_id, v FROM base
                  UNION ALL
                  SELECT vec_id + 1000000, list_transform(range(1, ${width + 1}),
                    i -> v[i] + 0.005 * CAST(((i - 1) % 2) * 2 - 1 AS DOUBLE))
                  FROM base WHERE vec_id % 10 = 0),
          ${elemCtes("aug")},
          pl AS (SELECT p, i,
                   CAST(((p * $width + (i - 1)) * 1103515245 + 12345) % ${Similarity.Planes.M} AS DOUBLE)
                     / ${Similarity.Planes.M}.0 * 2.0 - 1.0 AS pv
                 FROM range(0, $nPlanes) tp(p), range(1, ${width + 1}) ti(i)),
          dots AS (SELECT vec_id, p, CAST(SUM(CAST(e * pv AS DECIMAL(38,10))) AS DOUBLE) AS dt
                   FROM el JOIN pl USING (i) GROUP BY vec_id, p),
          bk AS (SELECT vec_id, CAST(SUM(CASE WHEN dt > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
                 FROM dots GROUP BY vec_id),
          cand AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
                   FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
          pd AS (SELECT c.vec_a, c.vec_b, CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM cand c
                 JOIN el ea ON ea.vec_id = c.vec_a
                 JOIN el eb ON eb.vec_id = c.vec_b AND eb.i = ea.i
                 GROUP BY c.vec_a, c.vec_b)
          SELECT pd.vec_a, pd.vec_b, round(pd.dt / (sqrt(na.nrm) * sqrt(nb.nrm)), 6) AS cos
          FROM pd JOIN norms na ON na.vec_id = pd.vec_a JOIN norms nb ON nb.vec_id = pd.vec_b
          WHERE pd.dt / (sqrt(na.nrm) * sqrt(nb.nrm)) >= 0.99""",

    "q35_ann_topk" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          ${elemCtes("base")},
          q AS (SELECT vec_id AS q_id FROM base WHERE vec_id % 50 = 0),
          pd AS (SELECT q.q_id, eb.vec_id, CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM q
                 JOIN el ea ON ea.vec_id = q.q_id
                 JOIN el eb ON eb.i = ea.i AND eb.vec_id <> q.q_id
                 GROUP BY q.q_id, eb.vec_id),
          scored AS (SELECT pd.q_id, pd.vec_id,
                       round(pd.dt / (sqrt(na.nrm) * sqrt(nb.nrm)), 6) AS cos
                     FROM pd JOIN norms na ON na.vec_id = pd.q_id
                             JOIN norms nb ON nb.vec_id = pd.vec_id),
          ranked AS (SELECT q_id, vec_id, cos,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
                     FROM scored)
          SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5""",

    // IEEE fast-path twin: list_inner_product over DOUBLE[] is the same
    // left-to-right double loop as DoubleDot — no decimal CTEs needed
    "q157_ann_topk_fast" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM base WHERE vec_id % 50 = 0),
          scored AS (SELECT q.q_id, b.vec_id,
                       round(list_inner_product(q.qv, b.v) /
                             (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
                     FROM q JOIN base b ON b.vec_id <> q.q_id),
          ranked AS (SELECT q_id, vec_id, cos,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
                     FROM scored)
          SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5""",

    // IVF replay: centroid set → exact-decimal cosine of every vector vs
    // every centroid → argmax cell (ties to lowest centroid id) → top-2
    // probe cells per query → exact scoring within the candidate union.
    // q165 shares this replay VERBATIM: the incremental (base ∪ delta
    // segment) index must be bit-identical to the full rebuild the SQL
    // models — that equality IS the incremental-maintenance contract.
    "q165_incremental_ann" -> ivfReplaySql,
    "q67_ivf_ann" -> ivfReplaySql,

    // q166 replay: per-dim lo/hi → int8 code → dequantized elements →
    // decimal-exact asymmetric scoring → approx top-20 → full-precision
    // re-rank. Same decimal/IEEE conventions as the IVF replay.
    "q166_quantized_ann" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          ${elemCtes("base")},
          st AS (SELECT i, MIN(e) AS lo, MAX(e) AS hi FROM el GROUP BY i),
          vh AS (SELECT el.vec_id, el.i,
                   st.lo + (CASE WHEN st.hi = st.lo THEN 0
                                 ELSE round((el.e - st.lo) / (st.hi - st.lo) * 255) END)
                          / 255.0 * (st.hi - st.lo) AS e
                 FROM el JOIN st USING (i)),
          vn AS (SELECT vec_id, CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS nrm
                 FROM vh GROUP BY vec_id),
          q AS (SELECT vec_id AS q_id FROM base WHERE vec_id % 50 = 0),
          ad AS (SELECT qq.q_id, vh.vec_id,
                   CAST(SUM(CAST(ea.e * vh.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM q qq JOIN el ea ON ea.vec_id = qq.q_id
                 JOIN vh ON vh.i = ea.i AND vh.vec_id <> qq.q_id
                 GROUP BY qq.q_id, vh.vec_id),
          ac AS (SELECT ad.q_id, ad.vec_id,
                   round(ad.dt / (sqrt(nq.nrm) * sqrt(vn.nrm)), 6) AS acos
                 FROM ad JOIN norms nq ON nq.vec_id = ad.q_id
                         JOIN vn ON vn.vec_id = ad.vec_id),
          cand AS (SELECT q_id, vec_id FROM (
                     SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY acos DESC, vec_id) AS ar
                     FROM ac) WHERE ar <= 20),
          pd AS (SELECT c.q_id, c.vec_id,
                   CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM cand c JOIN el ea ON ea.vec_id = c.q_id
                 JOIN el eb ON eb.vec_id = c.vec_id AND eb.i = ea.i
                 GROUP BY c.q_id, c.vec_id),
          scored AS (SELECT pd.q_id, pd.vec_id,
                       round(pd.dt / (sqrt(na.nrm) * sqrt(nb.nrm)), 6) AS cos
                     FROM pd JOIN norms na ON na.vec_id = pd.q_id
                             JOIN norms nb ON nb.vec_id = pd.vec_id),
          ranked AS (SELECT q_id, vec_id, cos,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
                     FROM scored)
          SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5""",
    // q168 replay: the q67 routing CTEs (assignment argmax, top-2 probe
    // cells) composed with the q166 quantization CTEs (per-dim lo/hi,
    // dequantized elements/norms); the asymmetric scoring runs ONLY over
    // cell-routed candidates, then the exact re-rank reproduces q166's.
    "q168_quantized_ivf" -> quantReplaySql(500),
    // q174 replay: q168's composition at a 5-cell index (every 100th
    // vector as centroid), with the TOMBSTONED ids (vec_id % 7 = 3)
    // excluded from the CANDIDATE population only — the probe over the
    // tombstone-filtered index must be bit-identical to this rebuild
    // without the deleted vectors. Centroid parameters and the codebook
    // are build-time artifacts and deliberately unchanged by a delete.
    "q174_ann_delete" -> quantReplaySql(100, "AND a.vec_id % 7 <> 3"),
    // q175 replay: identical arithmetic to the in-memory composition at
    // the same 5-cell index — persistence (cell-partitioned parquet
    // round-trip) must not change a single emitted bit.
    "q175_persisted_ivf" -> quantReplaySql(100)
  ) ++ restOracles

  /** The q168 quantized-IVF replay, parameterized: `centMod` picks the
    * deterministic centroid set (`vec_id % centMod = 0`); `candFilter` is
    * an extra SQL predicate on the candidate population (`a` = the
    * assignment row), used by q174 to exclude tombstoned ids. */
  private def quantReplaySql(centMod: Int, candFilter: String = ""): String =
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          ${elemCtes("base")},
          ce AS (SELECT vec_id AS cell FROM base WHERE vec_id % $centMod = 0),
          cd AS (SELECT ea.vec_id, c.cell, CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM el ea CROSS JOIN ce c
                 JOIN el eb ON eb.vec_id = c.cell AND eb.i = ea.i
                 GROUP BY ea.vec_id, c.cell),
          cc AS (SELECT cd.vec_id, cd.cell, cd.dt / sqrt(nb.nrm) AS cos
                 FROM cd JOIN norms nb ON nb.vec_id = cd.cell),
          assign AS (SELECT vec_id, cell FROM (
                       SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS pr
                       FROM cc) WHERE pr = 1),
          probes AS (SELECT vec_id AS q_id, cell FROM (
                       SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS pr
                       FROM cc WHERE vec_id % 50 = 0) WHERE pr <= 2),
          st AS (SELECT i, MIN(e) AS lo, MAX(e) AS hi FROM el GROUP BY i),
          vh AS (SELECT el.vec_id, el.i,
                   st.lo + (CASE WHEN st.hi = st.lo THEN 0
                                 ELSE round((el.e - st.lo) / (st.hi - st.lo) * 255) END)
                          / 255.0 * (st.hi - st.lo) AS e
                 FROM el JOIN st USING (i)),
          vn AS (SELECT vec_id, CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS nrm
                 FROM vh GROUP BY vec_id),
          cand0 AS (SELECT p.q_id, a.vec_id FROM probes p
                    JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id $candFilter),
          ad AS (SELECT c.q_id, c.vec_id,
                   CAST(SUM(CAST(ea.e * vh.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM cand0 c JOIN el ea ON ea.vec_id = c.q_id
                 JOIN vh ON vh.vec_id = c.vec_id AND vh.i = ea.i
                 GROUP BY c.q_id, c.vec_id),
          ac AS (SELECT ad.q_id, ad.vec_id,
                   round(ad.dt / (sqrt(nq.nrm) * sqrt(vn.nrm)), 6) AS acos
                 FROM ad JOIN norms nq ON nq.vec_id = ad.q_id
                         JOIN vn ON vn.vec_id = ad.vec_id),
          cand AS (SELECT q_id, vec_id FROM (
                     SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY acos DESC, vec_id) AS ar
                     FROM ac) WHERE ar <= 20),
          pd AS (SELECT c.q_id, c.vec_id,
                   CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM cand c JOIN el ea ON ea.vec_id = c.q_id
                 JOIN el eb ON eb.vec_id = c.vec_id AND eb.i = ea.i
                 GROUP BY c.q_id, c.vec_id),
          scored AS (SELECT pd.q_id, pd.vec_id,
                       round(pd.dt / (sqrt(na.nrm) * sqrt(nb.nrm)), 6) AS cos
                     FROM pd JOIN norms na ON na.vec_id = pd.q_id
                             JOIN norms nb ON nb.vec_id = pd.vec_id),
          ranked AS (SELECT q_id, vec_id, cos,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
                     FROM scored)
          SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5"""

  private def ivfReplaySql: String =
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          ${elemCtes("base")},
          ce AS (SELECT vec_id AS cell FROM base WHERE vec_id % 500 = 0),
          cd AS (SELECT ea.vec_id, c.cell, CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM el ea CROSS JOIN ce c
                 JOIN el eb ON eb.vec_id = c.cell AND eb.i = ea.i
                 GROUP BY ea.vec_id, c.cell),
          -- assignment ranks by dot/||centroid|| (the query-side norm is
          -- constant within the argmax), matching the engine's per-row score
          cc AS (SELECT cd.vec_id, cd.cell, cd.dt / sqrt(nb.nrm) AS cos
                 FROM cd JOIN norms nb ON nb.vec_id = cd.cell),
          assign AS (SELECT vec_id, cell FROM (
                       SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS pr
                       FROM cc) WHERE pr = 1),
          probes AS (SELECT vec_id AS q_id, cell FROM (
                       SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS pr
                       FROM cc WHERE vec_id % 50 = 0) WHERE pr <= 2),
          cand AS (SELECT p.q_id, a.vec_id FROM probes p
                   JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
          pd AS (SELECT c.q_id, c.vec_id, CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM cand c
                 JOIN el ea ON ea.vec_id = c.q_id
                 JOIN el eb ON eb.vec_id = c.vec_id AND eb.i = ea.i
                 GROUP BY c.q_id, c.vec_id),
          scored AS (SELECT pd.q_id, pd.vec_id,
                       round(pd.dt / (sqrt(na.nrm) * sqrt(nb.nrm)), 6) AS cos
                     FROM pd JOIN norms na ON na.vec_id = pd.q_id
                             JOIN norms nb ON nb.vec_id = pd.vec_id),
          ranked AS (SELECT q_id, vec_id, cos,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
                     FROM scored)
          SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5"""

  private def restOracles: Map[String, String] = Map(
    // q177 replay: history/arrival split, centroids + codebook from
    // HISTORY only, per-arrival top-2 cell routing (decimal cosine vs
    // centroids), dequantized decimal scoring against the routed cells'
    // codes, max per arrival, 0.99 admission threshold.
    "q177_stream_vector_admission" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          hist AS (SELECT vec_id, v FROM base WHERE vec_id % 5 <> 2),
          hel AS (SELECT vec_id, i, v[i] AS e FROM hist, range(1, ${width + 1}) t(i)),
          hnorm AS (SELECT vec_id, CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS nrm
                    FROM hel GROUP BY vec_id),
          arr AS (SELECT vec_id, v FROM base WHERE vec_id % 5 = 2
                  UNION ALL
                  SELECT vec_id + 1000000, list_transform(range(1, ${width + 1}),
                    i -> v[i] + 0.005 * CAST(((i - 1) % 2) * 2 - 1 AS DOUBLE))
                  FROM base WHERE vec_id % 10 = 0),
          ael AS (SELECT vec_id, i, v[i] AS e FROM arr, range(1, ${width + 1}) t(i)),
          anorm AS (SELECT vec_id, CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS nrm
                    FROM ael GROUP BY vec_id),
          ce AS (SELECT vec_id AS cell FROM hist WHERE vec_id % 100 = 0),
          hcd AS (SELECT ea.vec_id, c.cell,
                    CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                  FROM hel ea CROSS JOIN ce c
                  JOIN hel eb ON eb.vec_id = c.cell AND eb.i = ea.i
                  GROUP BY ea.vec_id, c.cell),
          hcc AS (SELECT h.vec_id, h.cell, h.dt / sqrt(nb.nrm) AS cos
                  FROM hcd h JOIN hnorm nb ON nb.vec_id = h.cell),
          assign AS (SELECT vec_id, cell FROM (
                       SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS pr
                       FROM hcc) WHERE pr = 1),
          acd AS (SELECT ea.vec_id, c.cell,
                    CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                  FROM ael ea CROSS JOIN ce c
                  JOIN hel eb ON eb.vec_id = c.cell AND eb.i = ea.i
                  GROUP BY ea.vec_id, c.cell),
          probes AS (SELECT vec_id AS a_id, cell FROM (
                       SELECT a.vec_id, a.cell,
                         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY a.dt / sqrt(nb.nrm) DESC, a.cell) AS pr
                       FROM acd a JOIN hnorm nb ON nb.vec_id = a.cell) WHERE pr <= 2),
          st AS (SELECT i, MIN(e) AS lo, MAX(e) AS hi FROM hel GROUP BY i),
          vh AS (SELECT hel.vec_id, hel.i,
                   st.lo + (CASE WHEN st.hi = st.lo THEN 0
                                 ELSE round((hel.e - st.lo) / (st.hi - st.lo) * 255) END)
                          / 255.0 * (st.hi - st.lo) AS e
                 FROM hel JOIN st USING (i)),
          vn AS (SELECT vec_id, CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS nrm
                 FROM vh GROUP BY vec_id),
          cand AS (SELECT p.a_id, a.vec_id FROM probes p
                   JOIN assign a ON a.cell = p.cell),
          ad AS (SELECT c.a_id, c.vec_id,
                   CAST(SUM(CAST(ea.e * vh.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM cand c JOIN ael ea ON ea.vec_id = c.a_id
                 JOIN vh ON vh.vec_id = c.vec_id AND vh.i = ea.i
                 GROUP BY c.a_id, c.vec_id),
          ac AS (SELECT ad.a_id, ad.vec_id,
                   round(ad.dt / (sqrt(an.nrm) * sqrt(vn.nrm)), 6) AS acos
                 FROM ad JOIN anorm an ON an.vec_id = ad.a_id
                         JOIN vn ON vn.vec_id = ad.vec_id)
          SELECT a_id AS vec_id, MAX(acos) AS max_cos,
                 MAX(acos) < 0.99 AS admitted
          FROM ac GROUP BY a_id""",

    // q173 replay: q168's CTE chain with the centroid table read from the
    // engine's dump instead of derived by modulus — assignment argmax over
    // decimal cosines vs the TRAINED centroids, top-2 probe cells, int8
    // quantization, dequantized decimal scoring within routed cells, and
    // the full-precision re-rank, all bit-for-bit.
    "q173_trained_ivf" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          ${elemCtes("base")},
          ce AS (SELECT __cell AS cell, CAST(__cv AS DOUBLE[]) AS c
                 FROM ${graft.util.OracleDump.sqlGlob("q173_centroids")}),
          cel AS (SELECT cell, i, c[i] AS e FROM ce, range(1, ${width + 1}) t(i)),
          cnm AS (SELECT cell, CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS nrm
                  FROM cel GROUP BY cell),
          cd AS (SELECT ea.vec_id, cel.cell,
                   CAST(SUM(CAST(ea.e * cel.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM el ea JOIN cel ON cel.i = ea.i
                 GROUP BY ea.vec_id, cel.cell),
          cc AS (SELECT cd.vec_id, cd.cell, cd.dt / sqrt(cnm.nrm) AS cos
                 FROM cd JOIN cnm USING (cell)),
          assign AS (SELECT vec_id, cell FROM (
                       SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS pr
                       FROM cc) WHERE pr = 1),
          probes AS (SELECT vec_id AS q_id, cell FROM (
                       SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS pr
                       FROM cc WHERE vec_id % 50 = 0) WHERE pr <= 2),
          st AS (SELECT i, MIN(e) AS lo, MAX(e) AS hi FROM el GROUP BY i),
          vh AS (SELECT el.vec_id, el.i,
                   st.lo + (CASE WHEN st.hi = st.lo THEN 0
                                 ELSE round((el.e - st.lo) / (st.hi - st.lo) * 255) END)
                          / 255.0 * (st.hi - st.lo) AS e
                 FROM el JOIN st USING (i)),
          vn AS (SELECT vec_id, CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS nrm
                 FROM vh GROUP BY vec_id),
          cand0 AS (SELECT p.q_id, a.vec_id FROM probes p
                    JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
          ad AS (SELECT c.q_id, c.vec_id,
                   CAST(SUM(CAST(ea.e * vh.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM cand0 c JOIN el ea ON ea.vec_id = c.q_id
                 JOIN vh ON vh.vec_id = c.vec_id AND vh.i = ea.i
                 GROUP BY c.q_id, c.vec_id),
          ac AS (SELECT ad.q_id, ad.vec_id,
                   round(ad.dt / (sqrt(nq.nrm) * sqrt(vn.nrm)), 6) AS acos
                 FROM ad JOIN norms nq ON nq.vec_id = ad.q_id
                         JOIN vn ON vn.vec_id = ad.vec_id),
          cand AS (SELECT q_id, vec_id FROM (
                     SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY acos DESC, vec_id) AS ar
                     FROM ac) WHERE ar <= 20),
          pd AS (SELECT c.q_id, c.vec_id,
                   CAST(SUM(CAST(ea.e * eb.e AS DECIMAL(38,10))) AS DOUBLE) AS dt
                 FROM cand c JOIN el ea ON ea.vec_id = c.q_id
                 JOIN el eb ON eb.vec_id = c.vec_id AND eb.i = ea.i
                 GROUP BY c.q_id, c.vec_id),
          scored AS (SELECT pd.q_id, pd.vec_id,
                       round(pd.dt / (sqrt(na.nrm) * sqrt(nb.nrm)), 6) AS cos
                     FROM pd JOIN norms na ON na.vec_id = pd.q_id
                             JOIN norms nb ON nb.vec_id = pd.vec_id),
          ranked AS (SELECT q_id, vec_id, cos,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
                     FROM scored)
          SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5""",

    // k-means replay from the dumped centroids: every vector's nearest
    // centroid (euclidean; ties to lowest cluster id) must reproduce the
    // engine's cluster sizes exactly.
    "q80_kmeans_clusters" ->
      s"""WITH cents AS (SELECT cluster, CAST(centroid AS DOUBLE[]) AS c
                         FROM ${graft.util.OracleDump.sqlGlob("q80_centroids")}),
          base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          d AS (SELECT b.vec_id, ct.cluster, list_distance(b.v, ct.c) AS dist
                FROM base b CROSS JOIN cents ct),
          assign AS (SELECT vec_id, cluster FROM (
                       SELECT vec_id, cluster,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS pr
                       FROM d) WHERE pr = 1)
          SELECT cluster, COUNT(*) AS n FROM assign GROUP BY cluster""",

    "q146_softmax" ->
      """WITH sc AS (SELECT vec_id, label,
                 ((CAST(embedding[1] AS DOUBLE) - 0.5 * CAST(embedding[2] AS DOUBLE))
                  + 0.25 * CAST(embedding[3] AS DOUBLE)) AS s
               FROM embeddings),
          ex AS (SELECT vec_id, label,
                   round(exp(s - MAX(s) OVER (PARTITION BY label)), 6) AS e
                 FROM sc),
          nz AS (SELECT vec_id, label, e,
                   CAST(SUM(CAST(e AS DECIMAL(28,6))) OVER (PARTITION BY label) AS DOUBLE) AS z
                 FROM ex)
          SELECT vec_id, label, e / z AS p FROM nz"""
  )
}
