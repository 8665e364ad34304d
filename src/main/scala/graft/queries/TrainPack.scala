package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QueryPack
import graft.io.Tables
import graft.text.TextOps
import graft.util.Parity

/** Training-data pipeline surface, wave 2: context-window chunking, PII
  * redaction, benchmark decontamination, within-document repetition
  * filters, reshape/melt, deterministic temperature-mixture sampling, and
  * concat-and-split sequence packing. Everything here is the Spark-shaped
  * version of the op a 100 TB corpus needs:
  *
  *  - chunking / repetition / redaction are row-local projection
  *    expressions (scan speed, no shuffle);
  *  - decontamination is a semi-join on hashed shingles with the
  *    benchmark side broadcast (never an all-pairs text comparison);
  *  - mixture sampling is a pure hash-threshold filter — no per-group
  *    window, no second pass, rates derived from a ~|sources|-row
  *    aggregate that broadcasts;
  *  - packing is one partitioned window cumsum — bins never materialize.
  *
  * All hashing/sampling is md5/keyHash-derived so the DuckDB oracle
  * replays every decision bit-for-bit ([[TextOps.hash32]],
  * [[Parity.keyHash]]).
  */
object TrainPack extends QueryPack {

  /** Context-window size / stride (tokens) for q93. */
  private val ChunkLen = 40
  private val ChunkStride = 30

  /** Token budget per packed sequence for q100. */
  private val PackBudget = 256L

  /** q161 epoch-shuffle parameters: seed stride folds the epoch into the
    * hash argument (prime, ≫ max doc_id, so epochs never collide);
    * shard count is the per-epoch output-manifest width. */
  private val EpochSeedStride = 982451653L
  private val EpochShards = 8L

  /** PII patterns — constructs that behave identically under Java regex
    * (Spark) and RE2 (DuckDB): classes, alternation-free, bounded reps. */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val NumRe = "[0-9]{9,}"

  /** Deterministically plant PII into the corpus text (the synthetic
    * corpus has none): one email per doc, a second for every 4th doc, and
    * a 10-digit account-number tail. Both engines build the same string. */
  private def piiText: org.apache.spark.sql.Column =
    concat(col("text"),
      lit(" contact u"), col("doc_id").cast("string"), lit("@ex-host.org"),
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit(" cc u"), col("doc_id").cast("string"), lit("b@alt-mail.net")))
        .otherwise(lit("")),
      lit(" ref 9"), lpad(col("doc_id").cast("string"), 9, "0"))

  private val piiTextSql =
    """text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex-host.org' ||
       CASE WHEN doc_id % 4 = 0
            THEN ' cc u' || CAST(doc_id AS VARCHAR) || 'b@alt-mail.net'
            ELSE '' END ||
       ' ref 9' || lpad(CAST(doc_id AS VARCHAR), 9, '0')"""

  /** q93's chunking pipeline over any `(doc_id, text)` frame — factored
    * out so specs can drive edge-case token counts through the exact
    * production expressions. */
  private[graft] def chunkFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(1), size(col("w")), lit(ChunkStride)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(ChunkLen), size(col("w")) - col("start") + 1)
          .cast("long").as("n_chunk_tokens"),
        TextOps.hash32(array_join(slice(col("w"), col("start"), lit(ChunkLen)), " "))
          .as("chunk_hash"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q93: context-window chunking -------------------------------
    // Split every document into ChunkLen-token windows advancing by
    // ChunkStride (trailing windows may be short). Pure per-row
    // sequence+posexplode — a projection, not a shuffle; at 100 TB this
    // runs at scan speed and output partitioning inherits the input's.
    "q93_doc_chunking" -> { (s, d) => chunkFrame(Tables.documents(s, d)) },

    // ---- q94: PII redaction -----------------------------------------
    // Regex scrub (emails, long digit runs) with per-doc match counts and
    // a hash of the redacted text. Row-local regexp_replace — scan speed.
    "q94_pii_redaction" -> { (s, d) =>
      val red1 = regexp_replace(col("pii"), EmailRe, "<EMAIL>")
      Tables.documents(s, d)
        .select(col("doc_id"), piiText.as("pii"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("pii"), lit(EmailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(red1, lit(NumRe), lit(0)))
            .cast("long").as("n_long_nums"),
          md5(regexp_replace(red1, NumRe, "<NUM>")).as("redacted_hash"))
    },

    // ---- q95: benchmark decontamination -----------------------------
    // Flag training documents sharing any 5-gram with a held-out
    // benchmark set (doc_id % 17 == 0). Grams are hashed to longs so the
    // join key is fixed-width; the benchmark gram set is DISTINCT'd and
    // broadcast — the 100 TB side is touched once, map-side only.
    "q95_decontamination" -> { (s, d) =>
      // NOT repartitioned: a doc_id-keyed repartition of the scan measured
      // 1.31 → 1.45/1.85 s — the added exchange of full texts costs more
      // than the one-core explode it parallelizes here (the bench-side
      // subtree re-explodes regardless)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), TextOps.words(col("text")).as("w"))
      // distinct on the gram STRINGS, hash after — the oracle dedupes
      // before hashing, so dedup-after-hash would diverge from it on a
      // within-doc hash32 collision (expected ~m²/2³³ per doc: invisible
      // at sf0.1, real on a large corpus)
      val grams = base.select(col("doc_id"), col("source"),
          explode(array_distinct(TextOps.wordNgrams(col("w"), 5))).as("s"))
        .select(col("doc_id"), col("source"), TextOps.hash32(col("s")).as("g"))
      val bench = grams.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select("g").distinct()
      val flagged = grams.filter(pmod(col("doc_id"), lit(17)) =!= 0)
        .join(broadcast(bench), "g")
        .groupBy("doc_id", "source").agg(count(lit(1)).as("n_shared"))
      val totals = base.filter(pmod(col("doc_id"), lit(17)) =!= 0)
        .groupBy("source").agg(count(lit(1)).as("n_train"))
      totals.join(
          flagged.groupBy("source").agg(
            count(lit(1)).as("n_contaminated"), sum("n_shared").as("shared_grams")),
          Seq("source"), "left")
        .select(col("source"), col("n_train"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
    },

    // ---- q97: within-document repetition filter ---------------------
    // Gopher-style repetition signals: duplicate-bigram fraction and
    // top-token frequency share — BOTH row-local expressions, so the
    // whole filter is a shuffle-free projection at scan speed. The
    // top-token count is O(|distinct| · |tokens|) per row, the right
    // trade for bounded-length documents: the explode → groupBy(doc,
    // token) alternative shuffles one row per TOKEN with mostly-unique
    // keys, and the round-4 training-data sweep measured it at 61 s for
    // 1.6M docs vs ~6 s for this form (BASELINE.md §Training-data wave-2
    // scaling). (Pathologically long documents would
    // flip the trade — then chunk first, or restore the keyed agg.)
    // keep derives from the ROUNDED signals so the cut is portable.
    "q97_repetition_filter" -> { (s, d) =>
      val w = col("w")
      // HOF expressions are interpreted (no codegen, no CSE) — build each
      // array ONCE in its own projection (the Dedup.bandTable lesson) so
      // the bigram list isn't re-materialized per consumer.
      val topCnt = array_max(transform(col("dw"), t => size(filter(w, x => x === t))))
      // fanned: the filter is a pure projection, but its per-row cost is
      // O(|distinct|·|tokens|) interpreted-HOF math — one scan split means
      // one core without the fan (no-op on a multi-split scan)
      graft.relational.Scale.fanOut(Tables.documents(s, d).select("doc_id", "text"))
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"), w, array_distinct(w).as("dw"),
          TextOps.wordNgrams(w, 2).as("b"))
        .select(col("doc_id"),
          size(w).cast("long").as("n_tokens"),
          Parity.r6(when(size(col("b")) > 0,
              lit(1.0) - size(array_distinct(col("b"))).cast("double") / size(col("b")).cast("double"))
            .otherwise(lit(0.0))).as("dup_bigram_frac"),
          Parity.r6(topCnt.cast("double") / size(w).cast("double")).as("top_token_frac"))
        .select(col("doc_id"), col("n_tokens"), col("dup_bigram_frac"), col("top_token_frac"),
          (col("dup_bigram_frac") <= 0.2 && col("top_token_frac") <= 0.2)
            .cast("int").as("keep"))
    },

    // ---- q98: unpivot / melt ----------------------------------------
    // Wide→long reshape via the native unpivot operator (no UNION ALL
    // rescan of the input — one pass, generates |values| rows per input
    // row).
    "q98_unpivot_melt" -> { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("p_size"), col("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")), "metric", "value")
    },

    // ---- q99: temperature-mixture sampling --------------------------
    // Deterministic source-mixture resampling at temperature α = 0.5
    // (multilingual-LM style): target_s ∝ sqrt(n_s), keep-rate
    // min(1, target_s / n_s), membership by hash threshold — a pure
    // filter on the corpus scan. The per-source weight sum runs through
    // an exact DECIMAL accumulator so the rate (and therefore every
    // keep decision) is independent of double-summation order — the
    // oracle replays it bit-for-bit.
    "q99_mixture_sampling" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "source")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
        .withColumn("w", round(sqrt(col("n_total").cast("double")), 6))
      val tots = counts.agg(
        sum(col("n_total")).as("n_all"),
        sum(col("w").cast("decimal(28,6)")).as("tot_dec"))
      // rates is ~|sources| rows but feeds TWO subplans with different
      // projections (ReuseExchange can't dedupe them) — persist it so the
      // per-source counts aggregate over the corpus runs once, not twice.
      // Released by the session's cache discipline (bench clears per run).
      val rates = counts.crossJoin(broadcast(tots))
        .withColumn("rate", least(lit(1.0),
          lit(0.6) * col("n_all").cast("double") * col("w")
            / col("tot_dec").cast("double") / col("n_total").cast("double")))
        .withColumn("thr", floor(col("rate") * 1000000).cast("long"))
        .persist()
      val kept = docs.join(broadcast(rates.select("source", "thr")), "source")
        .filter(pmod(Parity.keyHash(col("doc_id")), lit(1000000L)) < col("thr"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      rates.select("source", "n_total", "thr").join(kept, Seq("source"), "left")
        .select(col("source"), col("n_total"), col("thr"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    },

    // ---- q105: boilerplate-span detection ---------------------------
    // Cross-document repeated 3-gram spans (header/footer/template text):
    // span → doc-frequency (one hashed-gram shuffle), spans with df ≥ 5
    // are "boilerplate" — by definition COMMON AND FEW, so the set
    // broadcasts back and each doc's boilerplate fraction is computed
    // map-side. The C4/RefinedWeb repeated-span signal, Spark-shaped.
    "q105_boilerplate_spans" -> { (s, d) =>
      // occ (scan + 3-gram explode + md5 per gram — the dominant cost)
      // feeds both the doc-frequency aggregate and the join back: persist
      // so the shingle work runs once. Released by the session's cache
      // discipline (bench clears per run).
      val occ = Tables.documents(s, d)
        // doc_id-keyed repartition: the 3-gram explode + md5 (the dominant
        // cost) and the persist otherwise sit in the ONE scan split; the
        // partitioning also serves the final per-doc aggregate, so the
        // broadcast-join output needs no further exchange (guide §2.4)
        .select("doc_id", "text").repartition(col("doc_id"))
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"), explode(TextOps.wordNgrams(col("w"), 3)).as("s"))
        .select(col("doc_id"), TextOps.hash32(col("s")).as("g"))
        .persist()
      val boiler = occ.groupBy("g").agg(countDistinct("doc_id").as("df"))
        .filter(col("df") >= 5).select(col("g"), lit(1L).as("b"))
      occ.join(broadcast(boiler), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("b"), lit(0L))).as("n_boiler"))
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          Parity.r6(col("n_boiler").cast("double") / col("n_grams").cast("double"))
            .as("boiler_frac"))
    },

    // ---- q106: per-source quality datasheet -------------------------
    // The "dataset card" op: p10/p50/p90 of the shared quality score per
    // source via the mergeable GK sketch (fixed-size state — the exact
    // percentile would buffer every score per source). Tolerance-gated
    // (q88 pattern): dumped sketch values echoed as the claim; the
    // oracle independently replays every document's quality score and
    // asserts each dumped percentile's empirical in-group rank within
    // 0.005 + 2/n of its probe (sketch contract + small-group
    // discretization).
    "q106_quality_datasheet" -> { (s, d) =>
      val w = TextOps.words(col("text"))
      val q = Tables.documents(s, d).select(col("source"),
        TextOps.qualityScore(size(w), size(array_distinct(w)),
          TextOps.profileHits(w, TextOps.DefaultStoplist)).as("q"))
      graft.util.OracleDump.dump(
        q.groupBy("source").agg(
            expr("approx_percentile(q, array(0.1d, 0.5d, 0.9d), 10000)").as("qs"),
            count(lit(1)).as("n_docs"))
          .select(col("source"), col("n_docs"),
            col("qs")(0).cast("double").as("p10"),
            col("qs")(1).cast("double").as("p50"),
            col("qs")(2).cast("double").as("p90")),
        "q106_ds")
      s.read.parquet(s"${graft.util.OracleDump.dir}/q106_ds")
        .withColumn("within_tol", lit(true))
    },

    // ---- q100: sequence packing (concat-and-split) ------------------
    // Pack documents into PackBudget-token training sequences by
    // cumulative token count in deterministic hash order, per source: a
    // doc's bin is where its first token lands. One window cumsum per
    // source partition — no greedy driver loop, no bin materialization.
    "q100_sequence_packing" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(TextOps.words(col("text"))).cast("long").as("n_tok"))
      val win = Window.partitionBy("source")
        .orderBy(Parity.keyHash(col("doc_id")).asc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum", sum("n_tok").over(win))
        .withColumn("bin",
          floor((col("cum") - col("n_tok")).cast("double") / lit(PackBudget.toDouble))
            .cast("long"))
        .groupBy("source")
        .agg(countDistinct("bin").as("n_bins"), count(lit(1)).as("n_docs"),
          sum("n_tok").as("total_tokens"))
        .select(col("source"), col("n_bins"), col("n_docs"), col("total_tokens"),
          Parity.r6(col("total_tokens").cast("double") / col("n_bins").cast("double"))
            .as("avg_bin_tokens"))
    },

    // ---- q161: deterministic epoch shuffle (training-epoch reorder) --
    // Re-shards and re-orders the corpus per training epoch with a
    // seeded hash — the 100 TB epoch-shuffle shape: `shard = hash mod
    // nShards` is ONE keyed exchange and `pos` is a SHARD-LOCAL
    // row_number, so the "global random permutation" never pays a
    // global ORDER BY (no range exchange, no driver-side sampling of
    // sort boundaries). Epoch folds into the hash seed, so consecutive
    // epochs yield distinct permutations while every placement stays
    // bit-replayable across engines AND across task retries
    // (keyHash, not rand()).
    "q161_epoch_shuffle" -> { (s, d) =>
      val epochs = s.range(0, 2).select(col("id").cast("long").as("epoch"))
      val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("doc_id"))
      docs.crossJoin(broadcast(epochs))
        .withColumn("h", Parity.keyHash(col("doc_id") + col("epoch") * lit(EpochSeedStride)))
        .withColumn("shard", pmod(col("h"), lit(EpochShards)))
        .withColumn("pos", row_number().over(
            Window.partitionBy("epoch", "shard")
              .orderBy(col("h").asc, col("doc_id").asc)).cast("long"))
        .select(col("epoch"), col("doc_id"), col("shard"), col("pos"))
    }
  )

  override def oracles: Map[String, String] = Map(
    "q93_doc_chunking" ->
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          st AS (SELECT doc_id, w, unnest(range(1, len(w) + 1, $ChunkStride)) AS start FROM ws),
          ch AS (SELECT doc_id,
                   CAST((start - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
                   CAST(least($ChunkLen, len(w) - start + 1) AS BIGINT) AS n_chunk_tokens,
                   array_to_string(list_slice(w, start, start + ${ChunkLen - 1}), ' ') AS chunk
                 FROM st)
          SELECT doc_id, chunk_idx, n_chunk_tokens,
                 ${TextOps.hash32Sql("chunk")} AS chunk_hash
          FROM ch""",

    "q94_pii_redaction" ->
      s"""WITH p AS (SELECT doc_id, $piiTextSql AS pii FROM documents),
          r1 AS (SELECT doc_id, pii,
                   regexp_replace(pii, '$EmailRe', '<EMAIL>', 'g') AS red1
                 FROM p)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(pii, '$EmailRe')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(red1, '$NumRe')) AS BIGINT) AS n_long_nums,
                 md5(regexp_replace(red1, '$NumRe', '<NUM>', 'g')) AS redacted_hash
          FROM r1""",

    "q95_decontamination" -> {
      val ngrams = TextOps.wordNgramsSql("w", 5)
      s"""WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
          gr AS (SELECT doc_id, source, unnest(list_distinct($ngrams)) AS s FROM ws),
          gh AS (SELECT doc_id, source, ${TextOps.hash32Sql("s")} AS g FROM gr),
          bench AS (SELECT DISTINCT g FROM gh WHERE doc_id % 17 = 0),
          fl AS (SELECT doc_id, source, COUNT(*) AS n_shared
                 FROM gh JOIN bench USING (g) WHERE doc_id % 17 <> 0
                 GROUP BY doc_id, source),
          tot AS (SELECT source, COUNT(*) AS n_train FROM ws
                  WHERE doc_id % 17 <> 0 GROUP BY source),
          agg AS (SELECT source, COUNT(*) AS n_contaminated,
                    SUM(n_shared) AS shared_grams
                  FROM fl GROUP BY source)
          SELECT t.source, t.n_train,
                 CAST(COALESCE(a.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                 CAST(COALESCE(a.shared_grams, 0) AS BIGINT) AS shared_grams
          FROM tot t LEFT JOIN agg a ON a.source = t.source"""
    },

    "q97_repetition_filter" -> {
      val bigrams = TextOps.wordNgramsSql("w", 2)
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          st AS (SELECT doc_id, w, $bigrams AS b,
                   list_max(list_transform(list_distinct(w),
                     t -> len(list_filter(w, x -> x = t)))) AS topc
                 FROM ws),
          sig AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
                    round(CASE WHEN len(b) > 0
                      THEN 1.0 - CAST(len(list_distinct(b)) AS DOUBLE) / CAST(len(b) AS DOUBLE)
                      ELSE 0.0 END, 6) AS dup_bigram_frac,
                    round(CAST(topc AS DOUBLE) / CAST(len(w) AS DOUBLE), 6) AS top_token_frac
                  FROM st)
          SELECT doc_id, n_tokens, dup_bigram_frac, top_token_frac,
                 CAST(CASE WHEN dup_bigram_frac <= 0.2 AND top_token_frac <= 0.2
                      THEN 1 ELSE 0 END AS INT) AS keep
          FROM sig"""
    },

    "q98_unpivot_melt" ->
      """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
         UNION ALL
         SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part""",

    "q99_mixture_sampling" ->
      s"""WITH counts AS (SELECT source, COUNT(*) AS n_total,
                   round(sqrt(CAST(COUNT(*) AS DOUBLE)), 6) AS w
                 FROM documents GROUP BY source),
          tots AS (SELECT CAST(SUM(n_total) AS BIGINT) AS n_all,
                     SUM(CAST(w AS DECIMAL(28,6))) AS tot_dec
                   FROM counts),
          rates AS (SELECT source, n_total,
                      CAST(floor(least(1.0,
                        0.6 * CAST(n_all AS DOUBLE) * w
                          / CAST(tot_dec AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1000000)
                        AS BIGINT) AS thr
                    FROM counts, tots),
          kept AS (SELECT d.source, COUNT(*) AS n_kept
                   FROM documents d JOIN rates r ON r.source = d.source
                   WHERE ${graft.util.Parity.keyHashSql("d.doc_id")} % 1000000 < r.thr
                   GROUP BY d.source)
          SELECT r.source, r.n_total, r.thr,
                 CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
          FROM rates r LEFT JOIN kept k ON k.source = r.source""",

    "q105_boilerplate_spans" -> {
      val ngrams = TextOps.wordNgramsSql("w", 3)
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          sp AS (SELECT doc_id, unnest($ngrams) AS s FROM ws),
          oc AS (SELECT doc_id, ${TextOps.hash32Sql("s")} AS g FROM sp),
          bo AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM oc GROUP BY g)
                 WHERE df >= 5),
          pd AS (SELECT o.doc_id, COUNT(*) AS n_grams,
                   SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
                 FROM oc o LEFT JOIN bo b ON b.g = o.g GROUP BY o.doc_id)
          SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                 CAST(n_boiler AS BIGINT) AS n_boiler,
                 round(CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS boiler_frac
          FROM pd"""
    },

    "q106_quality_datasheet" -> {
      val stop = TextOps.DefaultStoplist.map(t => s"'$t'").mkString(", ")
      s"""WITH ap AS (SELECT * FROM ${graft.util.OracleDump.sqlGlob("q106_ds")}),
          q AS (SELECT source,
                  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                    + (CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.3
                    + least((CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 5.0, 1.0) * 0.3 AS q
                FROM (SELECT source, len(w) AS n_tokens, len(list_distinct(w)) AS n_types,
                        len(list_filter(w, t -> t IN ($stop))) AS stop_hits
                      FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
          rk AS (SELECT q.source, COUNT(*) AS n,
                   SUM(CASE WHEN q.q <= a.p10 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS r10,
                   SUM(CASE WHEN q.q <= a.p50 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS r50,
                   SUM(CASE WHEN q.q <= a.p90 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS r90
                 FROM q JOIN ap a USING (source) GROUP BY q.source)
          SELECT a.source, a.n_docs, a.p10, a.p50, a.p90,
                 (a.n_docs = rk.n
                  AND ABS(rk.r10 - 0.1) <= 0.005 + 2.0 / rk.n
                  AND ABS(rk.r50 - 0.5) <= 0.005 + 2.0 / rk.n
                  AND ABS(rk.r90 - 0.9) <= 0.005 + 2.0 / rk.n) AS within_tol
          FROM ap a JOIN rk ON rk.source = a.source"""
    },

    "q100_sequence_packing" ->
      s"""WITH docs AS (SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                 FROM documents),
          cums AS (SELECT source, n_tok,
                     SUM(n_tok) OVER (PARTITION BY source
                       ORDER BY ${graft.util.Parity.keyHashSql("doc_id")}, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
                   FROM docs),
          binned AS (SELECT source, n_tok,
                       CAST(floor(CAST(cum - n_tok AS DOUBLE) / $PackBudget.0) AS BIGINT) AS bin
                     FROM cums)
          SELECT source, CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins,
                 COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                 round(CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(DISTINCT bin) AS DOUBLE), 6) AS avg_bin_tokens
          FROM binned GROUP BY source""",

    "q161_epoch_shuffle" ->
      s"""WITH e AS (SELECT CAST(epoch AS BIGINT) AS epoch
                     FROM (VALUES (0), (1)) AS t(epoch)),
          h AS (SELECT epoch, CAST(doc_id AS BIGINT) AS doc_id,
                  ${Parity.keyHashSql(s"(CAST(doc_id AS BIGINT) + epoch * $EpochSeedStride)")} AS h
                FROM documents CROSS JOIN e)
          SELECT epoch, doc_id, h % $EpochShards AS shard,
                 CAST(row_number() OVER (PARTITION BY epoch, h % $EpochShards
                                         ORDER BY h, doc_id) AS BIGINT) AS pos
          FROM h"""
  )
}
