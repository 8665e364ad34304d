package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`):
  * exact-decimal cosine (engine-portable), brute-force top-k as the
  * correctness baseline, and sign-random-projection LSH bucketing as the
  * scale path (bucket join instead of all-pairs product).
  */
object Similarity {

  /** Exact-decimal dot product: each elementwise product rounds to a
    * DECIMAL(38,10) and sums exactly → order-independent, bit-identical in
    * Spark and DuckDB (aggregation order of doubles would not be). One
    * pass via the native [[org.apache.spark.sql.graft.DecimalDot]] — the
    * composed zip/fold chain allocated a zipped array plus a Decimal per
    * element, interpreted, and dominated the similarity queries. */
  def dotDec(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.DecimalDot(a, b)

  /** The composed zip_with/aggregate formulation — parity reference for
    * the native [[dotDec]] (see DedupTextSpec); do not use on hot paths. */
  def dotDecComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast("decimal(20,10)")),
      lit(BigDecimal(0)).cast("decimal(20,10)"),
      // (20,10)+(20,10) → (21,10); cast back keeps scale 10 exactly (values
      // are ≪ 1e10, so no digits are ever lost — stays bit-exact)
      (acc, x) => (acc + x).cast("decimal(20,10)")).cast("double")

  /** Cosine similarity on the exact-decimal path. */
  def cosineDec(a: Column, b: Column): Column =
    dotDec(a, b) / (sqrt(dotDec(a, a)) * sqrt(dotDec(b, b)))

  /** Plain IEEE-754 dot product — the PRODUCTION fast path
    * ([[org.apache.spark.sql.graft.DoubleDot]]): no per-element decimal
    * quantization, ~an order of magnitude cheaper than [[dotDec]]. Use
    * wherever no cross-engine oracle gates the result (the 100 TB index
    * build); agreement with the decimal path is spec-bounded
    * (DedupTextSpec). */
  def dotF(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.DoubleDot(a, b)

  private def dotOf(exact: Boolean): (Column, Column) => Column =
    if (exact) dotDec else dotF

  /** Deterministic LCG pseudo-random hyperplanes in [−1, 1]; pure integer
    * arithmetic so the oracle regenerates identical planes in SQL. */
  object Planes {
    val M = 2147483647L
    def value(plane: Int, dim: Int, width: Int): Double =
      ((plane.toLong * width + dim) * 1103515245L + 12345L) % M / M.toDouble * 2.0 - 1.0
    def plane(p: Int, width: Int): Array[Double] =
      Array.tabulate(width)(d => value(p, d, width))
  }

  /** Sign-random-projection bucket id: bit p = [dot(v, plane_p) > 0].
    * Cosine-similar vectors collide with high probability; near-dup search
    * becomes a bucket join. Dots use the exact-decimal path so bucket
    * assignment is engine-portable. */
  def signBucket(v: Column, nPlanes: Int, width: Int): Column =
    (0 until nPlanes).map { p =>
      val dot = dotDec(v, lit(Planes.plane(p, width)))
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Centroids collected to the driver with exact-decimal norms (the
    * driver-side replica of [[dotDec]]'s scale-10 quantization, so ranking
    * scores equal the oracle's `dt / sqrt(nrm)` bit-for-bit) or, on the
    * fast path, plain IEEE sums. Centroid sets are small by construction —
    * they must fit a broadcast either way. */
  private def collectCents(cents: DataFrame, cId: String, cVec: String,
                           exact: Boolean): Array[(Long, Array[Double], Double)] =
    cents.select(col(cId).cast("long"), col(cVec)).collect().map { r =>
      val cv = r.getSeq[Double](1).toArray
      val nrm =
        if (exact)
          cv.map(x => java.math.BigDecimal.valueOf(x * x).setScale(10, java.math.RoundingMode.HALF_UP))
            .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
        else cv.map(x => x * x).sum
      (r.getLong(0), cv, math.sqrt(nrm))
    }.sortBy(_._1)

  /** IVF cell scores as ONE per-row projection: `dot(v, c_j) / ||c_j||`
    * per centroid (monotone to cosine — the query-side norm divides out of
    * the argmax), sorted best-first with ties to the lowest centroid id.
    * No shuffle, no row multiplication: the 100 TB corpus is assigned to
    * cells at scan speed. */
  private def cellScores(vCol: String, cc: Array[(Long, Array[Double], Double)],
                         dot: (Column, Column) => Column): Column =
    sort_array(array(cc.map { case (cell, cv, nc) =>
      struct((dot(col(vCol), lit(cv)) / lit(nc)).as("s"), lit(-cell).as("c"))
    }: _*), asc = false)

  /** Assign every corpus vector to its nearest centroid cell (per-row
    * argmax, zero shuffle — the corpus is indexed at scan speed) and hoist
    * its norm. Adds `__cell` and `__cn`. At 100 TB this runs ONCE and the
    * result persists (parquet partitioned by `__cell`); queries then probe
    * the index via [[ivfTopKIndexed]] without re-scoring the corpus. */
  def indexCells(corpus: DataFrame, cents: DataFrame, cVec: String,
                 exact: Boolean = true): DataFrame = {
    val cc = collectCents(cents, "__cell", "__cv", exact)
    val dot = dotOf(exact)
    // the dot path is stamped into __cn's metadata so a probe with the
    // OTHER flag over a persisted index fails loudly instead of mixing
    // decimal corpus norms with IEEE query scores (silently-wrong cos)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("graft.exact", exact).build()
    corpus
      .withColumn("__cell", -element_at(cellScores(cVec, cc, dot), 1).getField("c"))
      .withColumn("__cn", sqrt(dot(col(cVec), col(cVec))).as("__cn", md))
  }

  /** Query-side cell ROUTING as a pure projection — the shared front half
    * of every probe (batch top-k and the STREAMING admission probe,
    * q177): one row per (vector, probed cell), with the probed `__cell`
    * and the vector's norm `__qn` added. No shuffle, no state — on a
    * stream this runs map-side per micro-batch. */
  def routeToCells(queries: DataFrame, cents: DataFrame, qVec: String,
                   nprobe: Int, exact: Boolean = true): DataFrame = {
    val cc = collectCents(cents, "__cell", "__cv", exact)
    val dot = dotOf(exact)
    queries
      .withColumn("__cell",
        explode(transform(slice(cellScores(qVec, cc, dot), 1, nprobe), s => -s.getField("c"))))
      .withColumn("__qn", sqrt(dot(col(qVec), col(qVec))))
  }

  /** Probe phase over a pre-indexed corpus (the output of [[indexCells]],
    * possibly persisted): probe only the `nprobe` nearest cells per query,
    * score exactly within the candidate union. The probed query set
    * broadcasts, so the only wide exchange in the whole plan is the final
    * per-query top-k over candidates — |corpus| / |cells| × nprobe rows
    * instead of |corpus|. */
  def ivfTopKIndexed(indexed: DataFrame, queries: DataFrame, cents: DataFrame,
                     qId: String, cId: String, qVec: String, cVec: String,
                     k: Int, nprobe: Int, exact: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idxMeta = indexed.schema("__cn").metadata
    require(!idxMeta.contains("graft.exact") || idxMeta.getBoolean("graft.exact") == exact,
      s"ivfTopKIndexed(exact=$exact) over an index built with exact=${idxMeta.getBoolean("graft.exact")}: " +
        "corpus norms and query scores would mix dot paths — rebuild the index or match the flag")
    val dot = dotOf(exact)
    val probed = routeToCells(queries, cents, qVec, nprobe, exact)
    // thin-row top-k: score at the scan, then shuffle ONLY (q, id, cos)
    // into the per-query window — carrying the vector arrays through the
    // rank exchange measured ~2× the whole probe at 1.6M (round 8)
    val cand = indexed.join(broadcast(probed), Seq("__cell"))
      .filter(col(qId) =!= col(cId))
      .withColumn("cos", round(dot(col(qVec), col(cVec)) / (col("__qn") * col("__cn")), 6))
      .select(col(qId), col(cId), col("cos"))
    val w = Window.partitionBy(qId).orderBy(col("cos").desc, col(cId).asc)
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), col("cos"), col("rank"))
  }

  /** IVF-style ANN top-k — the scale path beside [[bruteForceTopK]]:
    * [[indexCells]] + [[ivfTopKIndexed]] in one call (index recomputed;
    * use the two-phase form when the index is reused across query sets).
    * Recall is validated against the brute-force baseline (q35's protocol)
    * rather than assumed. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
              qId: String, cId: String, qVec: String, cVec: String,
              k: Int, nprobe: Int, exact: Boolean = true): DataFrame =
    ivfTopKIndexed(indexCells(corpus, cents, cVec, exact), queries, cents,
      qId, cId, qVec, cVec, k, nprobe, exact)

  /** Per-dimension affine int8 codebook: the corpus-wide (lo, hi) range of
    * every dimension — 2·dim doubles, ONE tiny aggregate over the corpus,
    * broadcast back as literals. */
  final case class AffineCodebook(los: Array[Double], his: Array[Double])

  def affineCodebook(corpus: DataFrame, vCol: String, dim: Int): AffineCodebook = {
    val st = corpus.agg(
      array((1 to dim).map(i => min(element_at(col(vCol), i))): _*).as("los"),
      array((1 to dim).map(i => max(element_at(col(vCol), i))): _*).as("his")).head()
    AffineCodebook(st.getSeq[Double](0).toArray, st.getSeq[Double](1).toArray)
  }

  /** int8 codes under the codebook: `round((x−lo)/(hi−lo)·255) − 128`,
    * shifted so the tinyint cast is ANSI-safe. A constant dimension
    * (hi = lo) codes to 0 and dequantizes back to lo exactly. */
  def int8Codes(v: Column, cb: AffineCodebook): Column =
    transform(v, (x, i) => {
      val lo = element_at(lit(cb.los), i + 1)
      val sc = element_at(lit(cb.his), i + 1) - lo
      (when(sc === 0, lit(0.0)).otherwise(round((x - lo) / sc * 255)) - 128)
        .cast("tinyint")
    })

  /** Dequantized elements `lo + code/255·(hi−lo)` — the asymmetric-distance
    * reconstruction (query side stays full precision). Bit-identical to the
    * oracle's replay: the shift by 128 cancels exactly (`c + 128` is exact
    * integer arithmetic in double), so the value is the same
    * `lo + round(...)/255·sc` both engines compute. */
  def dequantize(codes: Column, cb: AffineCodebook): Column =
    transform(codes, (c, i) => {
      val lo = element_at(lit(cb.los), i + 1)
      val sc = element_at(lit(cb.his), i + 1) - lo
      lo + (c.cast("double") + 128.0) / 255.0 * sc
    })

  /** The RESIDENT form of the quantized index: one row per corpus vector,
    * `(id, __cell, __codes: array<tinyint>, __nv)` — int8 codes plus one
    * double norm, ~1/4.7 the bytes of the full `array<double>` vectors
    * (BASELINE.md §Quantized-index residency sweep). Built map-side from a cell-indexed corpus
    * ([[indexCells]] output); at 100 TB this is what persists
    * (parquet/cache partitioned by `__cell`), the full-precision vectors
    * stay on cheap storage for the re-rank. */
  def quantizedSegment(indexed: DataFrame, cb: AffineCodebook, cId: String,
                       cVec: String, exact: Boolean = true): DataFrame = {
    val dot = dotOf(exact)
    // like indexCells' __cn: the dot path is stamped into __nv's metadata
    // so a probe with the OTHER flag over a persisted segment fails loudly
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("graft.exact", exact).build()
    indexed.select(col(cId), col("__cell"), int8Codes(col(cVec), cb).as("__codes"))
      .withColumn("__vh", dequantize(col("__codes"), cb))
      .withColumn("__nv", sqrt(dot(col("__vh"), col("__vh"))).as("__nv", md))
      .drop("__vh")
  }

  /** Fail loudly when `df` carries a `graft.exact` stamp on `normCol` that
    * disagrees with the probe's flag — mixing decimal and IEEE norms would
    * produce silently-wrong cosines on persisted/reused indexes. */
  private def requireDotFlag(df: DataFrame, normCol: String, what: String,
                             exact: Boolean): Unit = {
    val m = df.schema(normCol).metadata
    require(!m.contains("graft.exact") || m.getBoolean("graft.exact") == exact,
      s"probe(exact=$exact) over a $what built with exact=${m.getBoolean("graft.exact")}: " +
        "stored norms and query scores would mix dot paths — rebuild or match the flag")
  }

  /** Quantized-IVF probe — the COMPOSITION of q67's cell routing and
    * q166's int8 residency (round-7 verdict: the one production shape
    * that existed only as a claim of orthogonality). Per query:
    *
    *   1. route to the `nprobe` nearest cells (full-precision query side,
    *      same deterministic argmax as [[ivfTopKIndexed]]);
    *   2. scan ONLY those cells' int8 codes — |corpus|/|cells|·nprobe rows
    *      at ~1/4.7 the resident bytes, never the full corpus — scoring
    *      the dequantized codes asymmetrically (approx top-`rerank`);
    *   3. exact re-rank: the tiny shortlist broadcasts against the
    *      full-precision vectors for the final top-k, so EMITTED scores
    *      are exact — quantization error only moves which candidates
    *      re-rank, and the whole path stays decimal/IEEE-portable for the
    *      oracle (q168, no tolerance gate).
    *
    * `segment` is [[quantizedSegment]]'s output (possibly persisted);
    * `fullIndexed` the full-precision side for the re-rank (only the
    * shortlist rows are ever scored there). */
  def probeQuantizedIvf(segment: DataFrame, fullIndexed: DataFrame, queries: DataFrame,
                        cents: DataFrame, cb: AffineCodebook,
                        qId: String, cId: String, qVec: String, cVec: String,
                        k: Int, nprobe: Int, rerank: Int,
                        exact: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireDotFlag(segment, "__nv", "quantized segment", exact)
    requireDotFlag(fullIndexed, "__cn", "full-precision index", exact)
    val dot = dotOf(exact)
    val probed0 = routeToCells(queries, cents, qVec, nprobe, exact)
    // production path — FAISS's SQ8 scan identity: dot(q, dequant(c)) =
    // qconst + Σ t[i]·c[i] with t = q·sc/255 and qconst = dot(q, lo) +
    // 128·Σt, both computed ONCE per (query, cell) row BEFORE the join.
    // Scoring a code row is then one fused byte multiply-add per dim
    // (Int8Dot): no dequantized array is ever materialized and the scan
    // reads int8.
    val scOver255 = cb.los.zip(cb.his).map { case (l, h) => (h - l) / 255.0 }
    val probed =
      if (exact) probed0
      else probed0
        .withColumn("__tq", zip_with(col(qVec), lit(scOver255), (x, s) => x * s))
        .withColumn("__qc",
          org.apache.spark.sql.graft.DoubleDot(col(qVec), lit(cb.los)) +
            lit(128.0) * aggregate(col("__tq"), lit(0.0), _ + _))
    val joined = segment.join(broadcast(probed), Seq("__cell"))
      .filter(col(qId) =!= col(cId))
    val approx =
      if (exact)
        // oracle path: dequantize, then the same decimal-quantized dot the
        // SQL replays element for element
        joined.withColumn("__vh", dequantize(col("__codes"), cb))
          .withColumn("acos",
            round(dot(col(qVec), col("__vh")) / (col("__qn") * col("__nv")), 6))
      else
        joined.withColumn("acos",
          round((col("__qc") + org.apache.spark.sql.graft.Int8Dot(col("__tq"), col("__codes")))
            / (col("__qn") * col("__nv")), 6))
    // thin-row shortlist: only (q, id, acos) enters the rank exchange —
    // the query vectors rejoin from the tiny broadcast afterwards
    val wa = Window.partitionBy(qId).orderBy(col("acos").desc, col(cId).asc)
    val short = approx.select(col(qId), col(cId), col("acos"))
      .withColumn("__ar", row_number().over(wa)).filter(col("__ar") <= rerank)
      .select(col(qId), col(cId))
    // exact re-rank against the stored full-precision norms (__cn from
    // indexCells) — only shortlist rows are ever scored. The full-index
    // scan is pre-filtered to the PROBED CELLS via a broadcast semi-join
    // (round-8 review: a driver-collected isin() grows one In-literal per
    // cell — thousands at n/500 cells — risking plan/codegen blowup; the
    // semi-join broadcasts the same tiny set and, over a cell-partitioned
    // persisted index, triggers dynamic partition pruning — q175's
    // plan-asserted contract): every shortlisted vector lives in a probed
    // cell, so the scan reads n/cells·nprobe rows, the Spark analog of
    // the keyed point-fetch a serving re-rank does at 100 TB.
    val qn = queries.withColumn("__qn", sqrt(dot(col(qVec), col(qVec))))
    val wr = Window.partitionBy(qId).orderBy(col("cos").desc, col(cId).asc)
    fullIndexed
      .join(broadcast(probed.select("__cell").distinct()), Seq("__cell"), "left_semi")
      .join(broadcast(short), Seq(cId))
      .join(broadcast(qn), Seq(qId))
      .withColumn("cos", round(dot(col(qVec), col(cVec)) / (col("__qn") * col("__cn")), 6))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), col("cos"), col("rank"))
  }

  /** [[indexCells]] + [[quantizedSegment]] + [[probeQuantizedIvf]] in one
    * call (index recomputed; use the pieces directly when the segment is
    * persisted and reused across query sets). */
  def ivfQuantizedTopK(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
                       cb: AffineCodebook, qId: String, cId: String,
                       qVec: String, cVec: String, k: Int, nprobe: Int,
                       rerank: Int, exact: Boolean = true): DataFrame = {
    val indexed = indexCells(corpus, cents, cVec, exact)
    probeQuantizedIvf(quantizedSegment(indexed, cb, cId, cVec, exact), indexed,
      queries, cents, cb, qId, cId, qVec, cVec, k, nprobe, rerank, exact)
  }

  /** Persist an index/segment (the output of [[indexCells]] or
    * [[quantizedSegment]]) as parquet PARTITIONED BY `__cell` — the
    * production layout both scaladocs promise: each IVF cell is its own
    * partition directory, so a probe routed to nprobe cells opens only
    * those directories (partition pruning — q175's plan-asserted
    * contract) and compaction ([[compactTombstones]]) can rewrite one
    * cell without touching its neighbours. */
  def writeCellPartitioned(df: DataFrame, path: String): Unit =
    df.write.partitionBy("__cell").mode("overwrite").parquet(path)

  /** Read a cell-partitioned index/segment back. `schema` is the schema
    * the index was BUILT with (e.g. `segment.schema`): passing it keeps
    * `__cell` at its build type (partition-value inference would narrow
    * it to int) and preserves the `graft.exact` metadata stamp the probe
    * guards on. */
  def readCellPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Build-time recall-vs-nprobe curve, the operational knob FAISS/Milvus
    * users pick probe width by (round-14 verdict stretch): sample queries
    * FROM the corpus (deterministic — every `sampleMod`-th id), take the
    * brute-force top-k as ground truth, measure routing recall@k at each
    * `nprobes` rung over the SAME index, and persist the curve as
    * `_TUNING.json` inside the index directory (Spark's readers ignore
    * `_`-prefixed files, so the sidecar rides the partitioned layout).
    * A probe then picks the smallest nprobe whose recorded recall meets
    * its target instead of guessing. The curve is structurally MONOTONE
    * non-decreasing (a larger nprobe routes to a superset of cells, and
    * a true-top-k member present in a candidate superset never leaves
    * the top-k under the shared score-then-id ordering), and at nprobe =
    * |cells| the candidate set IS the corpus, so the last rung is 1.0 —
    * both spec-pinned. One brute pass + one probe per rung, all at
    * build time; probes never pay it. Returns the curve. */
  def writeTuningRecord(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                        indexed: DataFrame, cents: DataFrame,
                        cId: String, cVec: String, k: Int, nprobes: Seq[Int],
                        sampleMod: Long, exact: Boolean = true): Seq[(Int, Double)] = {
    val sample = indexed.filter(pmod(col(cId), lit(sampleMod)) === 1)
      .select(col(cId).as("__tq_id"), col(cVec).as("__tq_v"))
    val corpusView = indexed.select(col(cId), col(cVec))
    val truth = bruteForceTopK(sample, corpusView, "__tq_id", cId, "__tq_v", cVec,
        k, exact)
      .select(col("__tq_id"), col(cId)).cache()
    val denom = truth.count().toDouble
    require(denom > 0, s"tuning sample is empty — no id ≡ 1 (mod $sampleMod) in the index")
    val curve = nprobes.sorted.map { np =>
      val hit = ivfTopKIndexed(indexed, sample, cents, "__tq_id", cId,
          "__tq_v", cVec, k, np, exact)
        .join(truth, Seq("__tq_id", cId), "left_semi").count()
      np -> hit / denom
    }
    truth.unpersist()
    val json = curve.map { case (np, r) =>
      f"""{"nprobe":$np,"recall_at_$k":$r%.4f}""" }
      .mkString(s"""{"k":$k,"sample_queries":${(denom / k).round},"exact":$exact,"curve":[""",
        ",", "]}")
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_TUNING.json")
    val out = p.getFileSystem(spark.sessionState.newHadoopConf())
      .create(p, /* overwrite = */ true)
    out.write((json + "\n").getBytes("UTF-8")); out.close()
    curve
  }

  /** LOGICAL delete — the probe-time tombstone filter: drop every row of
    * `indexOrSegment` whose `cId` appears in `tombstones`. A broadcast
    * anti-join (the tombstone set is small relative to the corpus by
    * assumption — GDPR deletes, dedup supersedes), applied to BOTH the
    * code segment and the full-precision re-rank side, so a deleted
    * vector can neither shortlist nor re-rank. Probing a tombstone-
    * filtered index is bit-identical to probing a rebuild without the
    * deleted vectors (cell assignment is per-row — removing a vector
    * cannot move any other vector's cell), which is exactly what q174's
    * oracle replays. */
  def applyTombstones(indexOrSegment: DataFrame, tombstones: DataFrame,
                      cId: String): DataFrame =
    indexOrSegment.join(broadcast(tombstones.select(cId).distinct()), Seq(cId), "left_anti")

  /** PHYSICAL delete — compaction of a persisted cell-partitioned index:
    * rewrite ONLY the cell partitions that contain tombstoned ids, via a
    * staging write + per-cell directory swap (the no-transaction-log
    * compaction shape; a table format would commit a file-list swap
    * instead). Steps:
    *
    *   1. locate affected cells with a TWO-COLUMN scan (`cId`, `__cell`)
    *      joined against the broadcast tombstones — parquet column
    *      pruning keeps the codes/vectors unread, so discovery costs a
    *      thin-column pass, not an index read;
    *   2. re-read ONLY those cells (partition-pruned scan), anti-join the
    *      tombstones, write survivors to a staging dir partitioned by
    *      cell;
    *   3. swap each affected cell directory into place (delete + rename —
    *      per-cell atomic on a real FS), leaving every other cell's files
    *      untouched (byte-for-byte — the spec asserts it).
    *
    * Single-writer, like the manifest append: concurrent probes between
    * step-3 renames may see a cell mid-swap. Returns the affected cells.
    */
  def compactTombstones(spark: org.apache.spark.sql.SparkSession, path: String,
                        tombstones: DataFrame, cId: String,
                        schema: org.apache.spark.sql.types.StructType): Seq[Long] = {
    val seg = readCellPartitioned(spark, path, schema)
    val tombs = broadcast(tombstones.select(cId).distinct())
    val cells = seg.select(col(cId), col("__cell")).join(tombs, Seq(cId))
      .select("__cell").distinct().collect().map(_.getLong(0)).toSeq.sorted
    if (cells.nonEmpty) {
      val staging = s"${path}__compact"
      // broadcast semi-join, not isin: a mass delete can touch thousands
      // of cells, and an In-literal that size risks plan/codegen blowup
      // (the round-8 probeQuantizedIvf lesson); the semi-join prunes the
      // partitioned read dynamically just the same
      val cellsDf = spark.createDataset(cells)(
        org.apache.spark.sql.Encoders.scalaLong).toDF("__cell")
      readCellPartitioned(spark, path, schema)
        .join(broadcast(cellsDf), Seq("__cell"), "left_semi")
        .join(tombs, Seq(cId), "left_anti")
        .write.partitionBy("__cell").mode("overwrite").parquet(staging)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      cells.foreach { c =>
        val live = new org.apache.hadoop.fs.Path(s"$path/__cell=$c")
        val fresh = new org.apache.hadoop.fs.Path(s"$staging/__cell=$c")
        // Hadoop rename/delete report most failures by RETURNING FALSE,
        // not throwing — unchecked, a failed rename after the live delete
        // would silently destroy the cell's only surviving copy (and the
        // staging cleanup below would erase the staged rows too). Retire
        // the live dir by RENAME (not delete) so the old rows exist until
        // the swap is proven, then drop them.
        val retired = new org.apache.hadoop.fs.Path(s"$path/__cell=$c.__retiring")
        fs.delete(retired, true) // a previous failed swap's leftover
        require(fs.rename(live, retired), s"could not retire $live — cell swap aborted")
        // a cell whose rows were ALL tombstoned has no staging dir — the
        // retire above already removed it from the live layout
        if (fs.exists(fresh))
          require(fs.rename(fresh, live),
            s"rename $fresh -> $live failed; old rows preserved at $retired")
        require(fs.delete(retired, true), s"could not drop retired cell $retired")
      }
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    cells
  }

  /** Brute-force cosine top-k: broadcast the (small) query set against the
    * corpus, rank per query. The corpus side never shuffles; ranking is a
    * per-query-partition top-k. This is the exact baseline ANN variants are
    * validated against. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
                     qVec: String, cVec: String, k: Int, exact: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = dotOf(exact)
    // norms hoisted to per-vector columns: recomputing ||v|| inside the
    // cosine of every (query, corpus) pair would redo the corpus-side norm
    // |queries| times (measured ~3× on the brute-force scan).
    val q2 = queries.withColumn("__qn", sqrt(dot(col(qVec), col(qVec))))
    val c2 = corpus.withColumn("__cn", sqrt(dot(col(cVec), col(cVec))))
    val joined = c2.crossJoin(broadcast(q2))
      .filter(col(qId) =!= col(cId))
      .withColumn("cos", round(dot(col(qVec), col(cVec)) / (col("__qn") * col("__cn")), 6))
      .select(col(qId), col(cId), col("cos")) // thin rows into the rank exchange
    val w = Window.partitionBy(qId).orderBy(col("cos").desc, col(cId).asc)
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), col("cos"), col("rank"))
  }
}
