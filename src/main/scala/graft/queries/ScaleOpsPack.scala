package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bloom

import graft.QueryPack
import graft.io.Tables
import graft.relational.{IncrementalAgg, ZOrder}
import graft.text.TextOps
import graft.util.{Parity, Staging}

/** Wave-5 scale-path operators: the ops whose entire reason to exist is
  * the 100 TB regime — incremental view maintenance (don't rescan the
  * base), two-pass heavy hitters (don't shuffle the long tail), corpus
  * LM quality scoring, z-order layout (prune on BOTH filter columns),
  * deterministic negative sampling (map-only generation), a
  * bloom-prefiltered decontamination twin of q95 (membership pruning when
  * the benchmark set outgrows a broadcast hash relation), and the
  * version-log table's full lifecycle — pruned snapshot read (q164),
  * keyed MERGE (q181), compaction (q182), bloom point-skip (q183), range
  * delete (q179), streaming ingest through a crash (q184), time travel
  * (q185), change feeds from merge and delete (q186, q189), 2D file
  * skipping over the z-order layout (q187), and dynamic file pruning
  * through a snapshot semi-join (q188).
  *
  * Every query stays oracle-exact: approximate structures (sample
  * candidates, bloom bits) only decide WHERE work happens; an exact
  * confirm pass makes the emitted rows engine-replayable.
  */
object ScaleOpsPack extends QueryPack {

  /** Materialized per-customer order aggregate over the pre-cutoff half of
    * `orders` — the "maintained view" q121 folds a delta into. State
    * columns are order-independent (COUNT + exact-decimal SUM) so the
    * merge is associative at any partitioning. */
  private val Cutoff = "2001-01-01"
  private def stagedView(s: SparkSession, d: String): String =
    Staging.ensure(Staging.dirFor("orders_view", d), s"$d/orders.parquet") { dir =>
      import org.apache.spark.sql.types.DecimalType
      Tables.orders(s, d)
        .filter(col("o_orderdate") < lit(Cutoff).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(28, 4))).as("sum_price"))
        .write.mode("overwrite").parquet(dir)
    }

  /** q164/q188: orders laid out as 16 date-range-sorted files plus a
    * version log whose v0 carries their per-file min/max stats — staged
    * TOGETHER so the stats can never go stale against a re-staged
    * layout. (The `_log` name keeps a layout staged with a flat manifest
    * and no log from being reused.) */
  private def stagedDateLayout(s: SparkSession, d: String): String =
    Staging.ensure(Staging.dirFor("orders_bydate_log", d), s"$d/orders.parquet") { dir =>
      Tables.orders(s, d)
        .repartitionByRange(16, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite").parquet(s"$dir/data")
      graft.io.VersionLog.commitSnapshot(s, s"$dir/versions",
        graft.io.FileSkipping.buildManifest(s, s"$dir/data", "o_orderdate"))
      ()
    }

  /** q183: lineitem laid out as 32 part-sorted files plus a per-file
    * BLOOM manifest on `l_orderkey` — the column the layout is NOT
    * sorted by, so range stats prune nothing and only the bloom can
    * skip files on a point lookup. Staged together (read-only probe). */
  private def stagedPartLayout(s: SparkSession, d: String): String =
    Staging.ensure(Staging.dirFor("lineitem_bypart", d), s"$d/lineitem.parquet") { dir =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_extendedprice")
        .repartitionByRange(32, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(s"$dir/data")
      graft.io.FileSkipping.buildBloomManifest(s, s"$dir/data", "l_orderkey", 8192)
        .write.mode("overwrite").parquet(s"$dir/bloom")
    }

  /** q187: lineitem z-ordered on an (x, y) plane derived by the
    * replayable keyHash from two DIFFERENT source columns (so both
    * coordinates cover the full 0..255 range at every scale factor —
    * raw l_suppkey tops out at 100 at sf0.01), as 32 z-sorted files
    * plus a version log whose v0 carries each file's extents in BOTH
    * dims — the layout that lets one table serve file-pruned reads on
    * either filter column (read-only probe, staged once per sfDir; the
    * `_log` name as in [[stagedDateLayout]]). */
  private def stagedZLayout(s: SparkSession, d: String): String =
    Staging.ensure(Staging.dirFor("lineitem_zorder_log", d), s"$d/lineitem.parquet") { dir =>
      Tables.lineitem(s, d)
        .select(pmod(Parity.keyHash(col("l_orderkey")), lit(256L)).as("x"),
          pmod(Parity.keyHash(col("l_partkey") * 131), lit(256L)).as("y"),
          col("l_extendedprice"))
        .withColumn("z", ZOrder.zValue(col("x"), col("y"), 8))
        .repartitionByRange(32, col("z")).sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(s"$dir/data")
      graft.io.VersionLog.commitSnapshot(s, s"$dir/versions",
        graft.io.FileSkipping.buildManifest(s, s"$dir/data", "x", Seq("x", "y")))
      ()
    }

  override def stage(s: SparkSession, d: String): Unit = {
    stagedView(s, d); stagedDateLayout(s, d); stagedPartLayout(s, d)
    stagedZLayout(s, d); ()
  }

  /** Shared MERGE-family fixture (q181/q185/q186/q189/q190): a fresh
    * 16-file key-sorted copy of orders plus its manifest under `base`,
    * staged per RUN — a mutation must be exercised, not replayed.
    * Returns the source projection the deltas derive from. */
  /** Pristine-fixture pattern (round-15 optimization, guide §1.4 /
    * Staging scaladoc): a mutation query's fresh table copy is a DERIVED
    * TEST INPUT, staged once per (base, source) like every other staged
    * input; each invocation restores it byte-identically with a local
    * file copy (~30 ms) instead of re-running the staging write jobs
    * (~1-2 s) inside the timed region. The mutation verbs still run in
    * full against a fresh table every invocation. `build` must stage
    * everything DETERMINISTIC under `base` (data + manifests); anything
    * wall-clock-stamped (version-log commits) stays per-invocation in
    * the query body. */
  private def pristineFixture(s: SparkSession, d: String, base: String,
                              source: String = "orders.parquet")(build: => Unit): Unit = {
    val pristine = s"${base}_pristine"
    Staging.ensure(pristine, s"$d/$source") { dir =>
      Staging.deleteRecursive(base)
      build
      Staging.copyRecursive(base, dir)
    }
    Staging.deleteRecursive(base)
    Staging.copyRecursive(pristine, base)
  }

  /** Max `o_orderkey` read from the staged 16-row manifest instead of a
    * full orders scan (round-15 optimization: the scan was a ~300-400 ms
    * job repeated by a dozen mutation queries per invocation) — equal by
    * construction: the manifest's `max_key` is the per-file maximum and
    * its max over the 16 files is the table maximum. */
  private def manifestMaxKey(s: SparkSession, base: String): Long =
    s.read.parquet(s"$base/manifest").agg(max(col("max_key"))).head().getLong(0)

  private def stagedOrdersCopy(s: SparkSession, d: String, base: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    pristineFixture(s, d, base) {
      orders.repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(s"$base/data")
      graft.io.FileSkipping.buildManifest(s, s"$base/data", "o_orderkey")
        .write.mode("overwrite").parquet(s"$base/manifest")
    }
    orders
  }

  /** The fixture's delta arithmetic, mirrored VERBATIM by the oracles
    * (one definition here; four oracle SQL twins below — change both):
    * ~1% of keys update (priority → 9-MERGED, price ×2, exact in
    * double); ~0.17% insert at key+10⁸, provably beyond every file's
    * range. */
  private def mergeUpdates(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_orderpriority", lit("9-MERGED"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)

  private def mergeInserts(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 601 === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        lit("9-MERGED").as("o_orderpriority"),
        (col("o_totalprice") + 5).as("o_totalprice"))

  /** The table at its log head — how every table query reads its result
    * back. Never `read.parquet(dataDir)`: under MVCC retired files and
    * transaction slots stay on disk until VACUUM. */
  private def headOf(s: SparkSession, vdir: String): DataFrame =
    graft.io.VersionLog.readVersion(s, vdir, graft.io.VersionLog.head(s, vdir))

  /** v0 of an EMPTY table's log: a zero-row stats manifest keyed on a
    * timestamp `ts` (no schema record — the first ingest batch's files
    * define it). The bootstrap of the streaming-ingest queries. */
  private def emptyTsLog(s: SparkSession, vdir: String): Unit = {
    import org.apache.spark.sql.types._
    graft.io.VersionLog.commitSnapshot(s, vdir, s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("file", StringType), StructField("min_key", TimestampType),
        StructField("max_key", TimestampType), StructField("n_rows", LongType),
        StructField("n_keys", LongType)))))
    ()
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── q121: incremental materialized-view maintenance ────────────────
    // The delta (orders since the cutoff) is aggregated and MERGED into
    // the staged view — the base facts are never rescanned, the view is
    // never shuffled (broadcast decomposition, see [[IncrementalAgg]]).
    // Oracle: the full from-scratch aggregate — merge(view, delta) must
    // equal it exactly, including customers that only exist in the delta.
    "q121_incremental_view" -> { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val view = s.read.parquet(stagedView(s, d))
      val delta = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(Cutoff).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(28, 4))).as("sum_price"))
      IncrementalAgg.merge(view, delta, Seq("o_custkey"))
        .select(col("o_custkey"), col("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
    },

    // ── q122: two-pass exact heavy hitters, CERTIFIED ──────────────────
    // Pass 1 counts tokens on a deterministic 30% doc sample and keeps the
    // top 400 as candidates; pass 2 exact-counts ONLY candidate tokens
    // (broadcast semi prefilter → the long-tail vocabulary never enters
    // the shuffle — at corpus scale that tail IS the aggregation cost).
    // The final top-25 is exact iff candidates ⊇ true top-25; the oracle
    // verifies that at test scale, and at 100 TB the query CERTIFIES it:
    // every non-candidate occurrence streams through a Count-Min sketch,
    // whose min-over-rows max-cell is a HARD upper bound on every tail
    // token's true count (CMS never undercounts — no distributional
    // assumption, unlike the round-6 concentration heuristic this
    // replaces). `sound` = 25th exact count ≥ that bound, a worst-case
    // certificate; a token pathologically concentrated in unsampled docs
    // now provably flips it false (spec-asserted). Collisions can only
    // RAISE the bound — an undersized sketch says "cannot certify",
    // never certifies falsely. See [[graft.text.HeavyHitters]].
    "q122_heavy_hitters" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.text.HeavyHitters.topKCertified(docs, col("text"), col("doc_id"))
    },

    // ── q123: bigram language-model quality score ──────────────────────
    // Corpus-trained add-one-smoothed bigram log-likelihood per document —
    // the model-free cousin of perplexity filtering in LLM data pipelines.
    // The exploded bigram stream collapses to per-(doc, bigram) COUNTS
    // first (round-6 restructure): every later join then carries one row
    // per distinct bigram per doc instead of per occurrence, which is the
    // load-bearing skew mitigation here — a hot stopword bigram ("of the")
    // contributes |docs| rows to the gram-keyed join, not |occurrences|.
    // That matters because AQE skew-split CANNOT rescue these joins: their
    // build sides are same-stage aggregates, one of the two shapes that
    // silently disable OptimizeSkewedJoin (needs fresh shuffle stages on
    // BOTH sides — measured in the round-6 skew sweep, BASELINE.md); if a
    // gram is still hot after the collapse, the explicit salting path
    // (Scale.saltedJoin) is the remedy, not AQE. Scores re-weight by the
    // count IN DECIMAL: lp (≤6 decimals) is cast to decimal(28,6) BEFORE
    // the ×nb — decimal×bigint is exact at any nb, whereas the double
    // product could cross a 0.5e-6 rounding boundary once nb·|lp|·2⁻⁵²
    // exceeds 5e-7 (nb ≈ 9e7 at |lp| ≈ 25) and diverge from the oracle's
    // per-occurrence sum (round-6 review finding).
    // ln() is rounded to 6 decimals the moment it's computed (the
    // transcendental parity rule), so every downstream sum is exact.
    "q123_bigram_lm_score" -> { (s, d) =>
      // NOT fanned/repartitioned: both a round-robin fan (1.81 → 2.03 s)
      // and a doc_id-keyed repartition (→ 2.01/2.09 s) measured slower —
      // the gram-keyed join stages after the first aggregate dominate and
      // are already parallel
      val ws = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      val nb = ws.select(col("doc_id"),
          explode(TextOps.wordNgrams(col("w"), 2)).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("nb"))
      val cb = nb.groupBy("b").agg(sum(col("nb")).as("cb"))
      // context counts and vocabulary DERIVE from the (far smaller) bigram
      // aggregate — Σ cb by first word ≡ counting the exploded stream, so
      // the corpus is exploded once total, not three times
      val cu = cb.groupBy(substring_index(col("b"), " ", 1).as("w1"))
        .agg(sum(col("cb")).as("cu"))
      val vocab = cb.select(substring_index(col("b"), " ", 1).as("w1"))
        .agg(countDistinct(col("w1")).as("v"))
      nb.join(cb, "b")
        .withColumn("w1", substring_index(col("b"), " ", 1))
        .join(cu, "w1")
        .crossJoin(broadcast(vocab))
        .withColumn("lp", round(
          log((col("cb") + lit(1)).cast("double") / (col("cu") + col("v")).cast("double")), 6))
        .groupBy("doc_id")
        // emit the exact-decimal SUM, not the mean: sum-of-rounded is
        // bit-exact cross-engine, but sum/n has unbounded decimals and a
        // final round() can land on a 6-decimal midpoint where Spark and
        // DuckDB tie-break differently (bit sf0.1 doc 1223); callers
        // divide by n_bigrams themselves when they want the mean
        .agg(sum(col("nb")).as("n_bigrams"),
          sum(col("lp").cast(org.apache.spark.sql.types.DecimalType(28, 6)) * col("nb"))
            .cast("double").as("sum_logprob"))
    },

    // ── q158: Count-Min sketch heavy hitters ───────────────────────────
    // The streaming/mergeable cousin of q122's two-pass exact counts:
    // one fixed-size CMS built distributively (map-side partial sketches,
    // driver merge — `DataFrameStatFunctions.countMinSketch`), probed for
    // the exact top-50 keys. The sketch estimate itself is not
    // engine-portable (DuckDB has no CMS), so the ORACLE gates only the
    // STRUCTURAL guarantee: emit the exact count (oracle replays it) plus
    // `ok` = est ≥ exact — CMS counters only increment, so
    // never-underestimate holds on EVERY dataset, and `ok` is uniformly
    // true by construction (the q122 `sound` pattern). The ≤ eps·N
    // overshoot bound is only probabilistic (per-probe failure ~2^-7 at
    // this depth), so it is asserted in ScaleOpsSpec against the current
    // testdata, NOT hash-gated — a driver data regen must not be able to
    // flip a probabilistic coin into a spurious correctness failure.
    // At 100 TB the sketch is the only state that moves: ~eps⁻¹·ln(1/δ)
    // longs, mergeable across partitions/streams, vs q122's candidate
    // shuffle.
    "q158_cms_heavy_hitters" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val cms = ev.stat.countMinSketch("user_id", eps = 0.001, confidence = 0.99, seed = 42)
      val probes = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("user_id").asc).limit(50)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      import s.implicits._
      val out = probes.toSeq.map { case (uid, exact) =>
        val est = cms.estimateCount(java.lang.Long.valueOf(uid))
        (uid, exact, est >= exact)
      }
      out.toDF("user_id", "exact", "ok")
        .orderBy(col("exact").desc, col("user_id").asc)
    },

    // ── q124: z-order (Morton) clustering tiles ────────────────────────
    // Interleave 8 bits of each filter column; the top 6 z-bits define 64
    // tiles, and the per-tile extents PROVE the locality property: every
    // tile spans ≤ 32 of the 256 values in x AND in y, so parquet min/max
    // stats on a z-sorted layout prune reads for predicates on either
    // column. The layout job itself is `repartitionByRange(z).
    // sortWithinPartitions(z).write` — one range shuffle at any scale
    // (file-level extents spec-asserted in ScaleOpsSpec).
    "q124_zorder_tiles" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.select(
          ZOrder.zValue(col("l_partkey"), col("l_suppkey"), 8).as("z"),
          pmod(col("l_partkey"), lit(256L)).as("x"),
          pmod(col("l_suppkey"), lit(256L)).as("y"))
        .groupBy(shiftright(col("z"), 10).as("tile"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    },

    // ── q125: deterministic negative sampling ──────────────────────────
    // K=8 candidate negatives per supplier from a portable hash formula —
    // generation is a pure projection (sequence + explode, NO shuffle, no
    // RNG state), then one hash join against the true-positive pairs flags
    // collisions. At 100 TB the positives shuffle once on the composite
    // key; candidates are tiny and co-partition for free.
    "q125_negative_sampling" -> { (s, d) =>
      val nparts = Tables.part(s, d).agg(count(lit(1)).as("np"))
      val cand = Tables.supplier(s, d).select(col("s_suppkey"))
        .crossJoin(broadcast(nparts))
        .select(col("s_suppkey"), col("np"),
          explode(sequence(lit(1L), lit(8L))).as("k"))
        .select(col("s_suppkey"), col("k"),
          pmod(Parity.keyHash(col("s_suppkey") * lit(131) + col("k")), col("np"))
            .as("neg_partkey"))
      val pos = Tables.lineitem(s, d).select(col("l_suppkey"), col("l_partkey")).distinct()
      cand.join(pos,
          cand("s_suppkey") === pos("l_suppkey") && cand("neg_partkey") === pos("l_partkey"),
          "left")
        .select(col("s_suppkey"), col("k"), col("neg_partkey"),
          col("l_partkey").isNotNull.as("collided"))
    },

    // ── q126: bloom-prefiltered decontamination (q95's 100 TB twin) ────
    // Same semantics as q95, different membership transport: the benchmark
    // shingle set is compressed to a ~10-bits/element bloom (vs ≥64 for
    // the raw hash set), probed map-side by a codegen'd expression, and
    // the few survivors are confirmed with the exact broadcast join — so
    // the result is bit-identical to q95's exact answer (bloom false
    // positives die in the confirm join; false negatives are impossible).
    // ScaleOpsSpec asserts the prefilter actually prunes.
    "q126_bloom_decontam" -> { (s, d) =>
      import s.implicits._
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), TextOps.words(col("text")).as("w"))
      val grams = base.select(col("doc_id"), col("source"),
          explode(array_distinct(TextOps.wordNgrams(col("w"), 5))).as("sgl"))
        .select(col("doc_id"), col("source"), TextOps.hash32(col("sgl")).as("g"))
      // The benchmark gram set stays DISTRIBUTED end-to-end: persisted
      // once, counted (sizes the bit array), then OR-merged into the bloom
      // via per-partition partial blooms (treeAggregate) — driver memory is
      // O(bloom bits), ~6× smaller than the raw 8-byte hash set the bloom
      // exists to avoid shipping. Released by the session's cache
      // discipline (Verify/Bench clear per query/run).
      val bench = grams.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("g")).distinct().persist()
      val bloom = Bloom.buildDistributed(bench.as[Long].rdd, bench.count())
      // Deliberately NO broadcast hint on the confirm join: at the
      // benchmark sizes the bloom exists for, the exact set does NOT fit a
      // broadcast hash relation — the scalable confirm is a shuffle join
      // of the (tiny, bloom-surviving) stream against the distributed
      // benchmark grams, and AQE picks broadcast on its own when the set
      // happens to be small (as here)
      val flagged = grams.filter(pmod(col("doc_id"), lit(17)) =!= 0)
        .filter(Bloom.probe(bloom)(col("g")))
        .join(bench, "g")
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

    // ── q164: snapshot-driven FILE-level data skipping ────────────────
    // The table-format pattern: the per-file min/max stats of the
    // layout's committed v0 (staged with the layout) decide which files
    // a 2-month date probe OPENS — row-group skip prunes inside a file;
    // this prunes the file open itself. The residual filter keeps the
    // answer exact, so the oracle is the plain filtered aggregate over
    // the source table; ScaleOpsSpec measures the file-open reduction.
    "q164_manifest_pruned_read" -> { (s, d) =>
      val base = stagedDateLayout(s, d)
      val lo = lit("1998-03-01").cast("timestamp")
      val hi = lit("1998-04-30").cast("timestamp")
      graft.io.VersionLog.prunedReadVersion(s, s"$base/versions", 0, lo, hi)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") <= hi)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // ── q179: FILE-LEVEL range delete through the manifest ────────────
    // The manifest corner of the round-8 delete ask ("nothing removes …
    // the file-skipping manifest"): drop a whole year from a date-sorted
    // table. FileSkipping.deleteRangeOcc retires fully-covered files
    // WITHOUT READING THEM (pure snapshot range math — how a table
    // format drops files), rewrites only the boundary files minus the
    // range, and commits the folded stats as v1 — cost O(boundary
    // files), not O(table). The query mutates its OWN fresh copy each
    // run (a delete must be exercised, not replayed from a marker) and
    // reads the head back: the deleted year must be gone and every
    // other year intact to the penny.
    "q179_manifest_range_delete" -> { (s, d) =>
      import graft.io.FileSkipping
      val base = Staging.scratch("q179_del")
      pristineFixture(s, d, base) {
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .repartitionByRange(16, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.mode("overwrite").parquet(s"$base/data")
        FileSkipping.buildManifest(s, s"$base/data", "o_orderdate")
          .write.mode("overwrite").parquet(s"$base/manifest")
      }
      val vdir = s"$base/versions"
      graft.io.VersionLog.commit(s, vdir, s"$base/manifest") // v0
      FileSkipping.deleteRangeOcc(s, s"$base/data", vdir, "o_orderdate",
        lit("1995-01-01").cast("timestamp"), lit("1995-12-31").cast("timestamp"), "Q179")
      headOf(s, vdir)
        .groupBy(year(col("o_orderdate")).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // ── q181: keyed MERGE (upsert) costed by the manifest ─────────────
    // The Delta-`MERGE INTO` shape, completing the table's write
    // lifecycle (q179 delete, q182 compact): a small keyed delta of
    // updates + brand-new keys is merged into a 16-file key-sorted table
    // — the snapshot's range math picks the files that can contain a
    // delta key, ONLY those are read and rewritten (survivor rows +
    // replacements, re-range-sorted), the inserts land beyond every
    // file's range, one commit folds the stats. The query mutates its
    // OWN fresh copy each run (a merge must be exercised, not replayed)
    // and reads the merged head back; the oracle recomputes the merge
    // set-theoretically over the source.
    "q181_manifest_merge" -> { (s, d) =>
      val base = Staging.scratch("q181_merge")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      graft.io.VersionLog.commit(s, vdir, s"$base/manifest") // v0
      graft.io.FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir,
        "o_orderkey", mergeUpdates(orders).unionByName(mergeInserts(orders)), "Q181")
      headOf(s, vdir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // ── q182: small-file compaction with manifest fold ────────────────
    // The daily maintenance job of a streaming-ingested table: 48
    // micro-batch-sized files re-clustered through one range exchange
    // into a handful of keyspace-disjoint, range-sorted files; files at
    // or above the size threshold are never read or moved. The oracle is
    // the plain source aggregate — compaction must be a pure layout
    // change, every row preserved exactly once to the penny; the file
    // COUNT drop and untouched-big-file bytes are ScaleOpsSpec's side.
    "q182_manifest_compaction" -> { (s, d) =>
      import graft.io.FileSkipping
      val base = Staging.scratch("q182_compact")
      pristineFixture(s, d, base) {
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .repartitionByRange(48, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.mode("overwrite").parquet(s"$base/data")
        FileSkipping.buildManifest(s, s"$base/data", "o_orderdate")
          .write.mode("overwrite").parquet(s"$base/manifest")
      }
      val vdir = s"$base/versions"
      graft.io.VersionLog.commit(s, vdir, s"$base/manifest") // v0
      FileSkipping.compactSmallOcc(s, s"$base/data", vdir, "o_orderdate",
        smallBytes = 512 * 1024, targetBytes = 1024 * 1024, "Q182")
      headOf(s, vdir)
        .groupBy(year(col("o_orderdate")).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // ── q183: bloom-manifest POINT-lookup file skipping ───────────────
    // The needle-in-haystack read range stats cannot serve: the layout
    // is part-sorted, so every file's l_orderkey [min,max] spans the
    // whole domain — yet an order's ~4 line items live in only a few
    // files. The per-file bloom (no false negatives) admits just those;
    // the residual isin keeps the answer exact, so false positives only
    // cost a file open. The bloom probe itself runs executor-side over
    // the manifest. ScaleOpsSpec measures the file-open reduction.
    "q183_bloom_point_read" -> { (s, d) =>
      val base = stagedPartLayout(s, d)
      val probe = Array(11L, 4177L, 9973L)
      graft.io.FileSkipping.bloomPointRead(s, s"$base/data", s"$base/bloom", probe)
        .filter(col("l_orderkey").isin(probe.map(Long.box).toIndexedSeq: _*))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("l_extendedprice")).as("sum_price"))
    },

    // ── q184: streaming ingest INTO the manifest table, through a crash ─
    // The 100 TB ingestion path end-to-end: the staged 3-file event
    // replay drains through foreachBatch into an empty table, one OCC
    // commit per batch slot (FileSkipping.ingestBatchOcc), with a
    // simulated crash mid-batch-1 — the at-least-once replay must land
    // exactly-once through the batch's `_BATCH_<id>` token — then the
    // micro-batch files compact through one range exchange, and the
    // result is a PRUNED read of the first week at the head. The oracle
    // is the plain source aggregate over the same window: any duplicated
    // or lost row from the crash or compaction shows up to the penny.
    "q184_stream_ingest_table" -> { (s, d) =>
      import graft.io.FileSkipping
      import graft.streaming.Streams
      val base = Staging.scratch("q184_ingest")
      graft.util.Staging.deleteRecursive(base)
      val src = Streams.prepareLateArrivalFiles(s, d)
      val vdir = s"$base/versions"
      emptyTsLog(s, vdir)
      Streams.drainWithCrashRecoveryInto(
        () => Streams.lateArrivalStream(s, src), "q184_ingest", "append", 1) {
        (b, id) => FileSkipping.ingestBatchOcc(b, id, s"$base/data", "ts", vdir); ()
      }
      FileSkipping.compactSmallOcc(s, s"$base/data", vdir, "ts",
        smallBytes = 64L * 1024 * 1024, targetBytes = 8L * 1024 * 1024, "Q184")
      val ev = Tables.events(s, d)
      val t0 = ev.agg(date_trunc("DAY", min(col("ts")))).head().getTimestamp(0)
      val t1 = new java.sql.Timestamp(t0.getTime + 7L * 86400 * 1000)
      graft.io.VersionLog.prunedReadVersion(s, vdir, graft.io.VersionLog.head(s, vdir),
          lit(t0), lit(t1))
        .filter(col("ts") >= lit(t0) && col("ts") < lit(t1))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("value")).as("sum_value"))
    },

    // ── q185: version log — snapshot isolation / time travel ──────────
    // The reader guarantee every mutation's scaladoc deferred to "a real
    // table format": every commit snapshots the manifest (|files| rows)
    // and no mutation deletes retired files, so a reader pinned
    // to v0 replays the ORIGINAL table bit-for-bit after a MERGE and a
    // range delete have both retired its files from the head. The query
    // returns v0 and head aggregates side by side; the oracle recomputes
    // both set-theoretically — time travel must be exact, not best-effort.
    "q185_version_travel" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      val base = Staging.scratch("q185_versions")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
        mergeUpdates(orders), "Q185M") // v1
      FileSkipping.deleteRangeOcc(s, s"$base/data", vdir, "o_orderkey",
        lit(1L), lit(3000L), "Q185D") // v2
      def agg(df: org.apache.spark.sql.DataFrame, snap: String) =
        df.groupBy(lit(snap).as("snap"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
      agg(VersionLog.readVersion(s, vdir, 0), "v0")
        .unionByName(agg(headOf(s, vdir), "head"))
    },

    // ── q186: MERGE change-data feed (CDC) ────────────────────────────
    // The Delta-CDF shape: the merge emits its own change rows
    // (update_preimage / update_postimage / insert) in one extra pass
    // over (touched ∪ delta) — the feed an incremental view maintainer
    // or replica consumes instead of diffing table snapshots at
    // O(table), read through the committed-slot gate
    // (readCommittedFeeds). The oracle recomputes all three row classes
    // from the source with the same key arithmetic.
    "q186_merge_cdc_feed" -> { (s, d) =>
      val base = Staging.scratch("q186_cdc")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      graft.io.VersionLog.commit(s, vdir, s"$base/manifest") // v0
      graft.io.FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir,
        "o_orderkey", mergeUpdates(orders).unionByName(mergeInserts(orders)), "Q186",
        cdcDir = Some(s"$base/cdc"))
      graft.io.FileSkipping.readCommittedFeeds(s, s"$base/cdc")
        .groupBy("op")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // ── q187: multi-column snapshot stats × z-order — 2D FILE skipping ─
    // q124/q134 proved z-order's row-group pruning; this is the same
    // property one level up, where 100 TB actually hurts: the layout's v0
    // carries every file's extents in BOTH interleaved dims, so a 2D box
    // (1/64 of the plane) opens a handful of the 32 files, and a probe
    // on EITHER single column still prunes — one layout, two pruned
    // access paths (ScaleOpsSpec measures both, plus the x-sorted
    // contrast layout that cannot prune y). The residual filter keeps
    // the answer oracle-exact.
    "q187_zorder_multidim_skip" -> { (s, d) =>
      val base = stagedZLayout(s, d)
      graft.io.FileSkipping.prunedReadVersionMulti(s, s"$base/versions", 0,
          Seq(("x", lit(64L), lit(95L)), ("y", lit(160L), lit(191L))))
        .filter(col("x").between(64L, 95L) && col("y").between(160L, 191L))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("l_extendedprice")).as("sum_price"))
    },

    // ── q188: DYNAMIC FILE PRUNING (snapshot semi-join read) ──────────
    // The read side of the MERGE's range probe, and the manifest-level
    // analog of Spark's dynamic partition pruning for range-CLUSTERED
    // (not partitioned-by-value) tables: a tiny driving dimension — a
    // deterministic ~1/601 sample of distinct order dates — decides
    // which fact files are opened at all via a broadcast range
    // semi-join against the layout's v0 stats; the residual broadcast join keeps
    // the answer exact. At 100 TB this is "scan the week's files, not
    // the table". ScaleOpsSpec measures the file-open bound (≤ one file
    // per driving date on the range-sorted layout).
    "q188_dynamic_file_pruning" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = stagedDateLayout(s, d)
      val dates = Tables.orders(s, d).select(col("o_orderdate")).distinct()
        .withColumn("rn", row_number().over(Window.orderBy(col("o_orderdate"))))
        .filter(pmod(col("rn"), lit(601)) === 1)
        .select(col("o_orderdate"))
      graft.io.FileSkipping.semiJoinReadVersion(s, s"$base/versions", 0, dates)
        .join(broadcast(dates), Seq("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // ── q189: range-delete CDC feed — the delete half of the CDF ──────
    // q186 emits the merge's change classes; this completes the feed
    // with `delete` pre-images from the range delete. The trade is
    // explicit and paid knowingly: covered files are normally retired
    // UNREAD (q179's whole point), but a change feed must read the
    // victims once — O(deleted rows), the price Delta pays to write CDF
    // files on DELETE. The oracle recomputes the deleted set from the
    // source; the spec proves survivors ∪ feed == source exactly once.
    "q189_delete_cdc_feed" -> { (s, d) =>
      val base = Staging.scratch("q189_delcdc")
      stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      graft.io.VersionLog.commit(s, vdir, s"$base/manifest") // v0
      graft.io.FileSkipping.deleteRangeOcc(s, s"$base/data", vdir,
        "o_orderkey", lit(1000L), lit(4000L), "Q189", cdcDir = Some(s"$base/cdc"))
      graft.io.FileSkipping.readCommittedFeeds(s, s"$base/cdc")
        .groupBy("op", "o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // ── q190: incremental view maintenance FROM the change feed ───────
    // The reason change feeds exist: a downstream aggregate stays
    // current by consuming the merge's CDC rows with signed weights
    // (pre-image −1, post-image/insert +1) — the base table is NEVER
    // rescanned after the view is first built (plan-spec-pinned: the
    // maintenance reads only view + feed). Decimal sums make the
    // arithmetic exact, so the maintained view equals a full rebuild of
    // the merged table bit-for-bit — which is exactly what the oracle
    // computes. Completes the q121 story: there the delta was re-read
    // from the base; here it arrives as the mutation's own feed.
    "q190_cdc_view_maintenance" -> { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val base = Staging.scratch("q190_cdcview")
      val orders = stagedOrdersCopy(s, d, base)
      // the maintained view, built once BEFORE the merge — a ~|priorities|-
      // row aggregate, so it takes the driver-direct single-file writer
      // (computed distributively, sink on the driver; the change-1/8 shape)
      graft.io.DriverParquet.writeSmall(
        orders.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(28, 4))).as("sum_dec")),
        s"$base/view")
      val vdir = s"$base/versions"
      graft.io.VersionLog.commit(s, vdir, s"$base/manifest") // v0
      graft.io.FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir,
        "o_orderkey", mergeUpdates(orders).unionByName(mergeInserts(orders)), "Q190",
        cdcDir = Some(s"$base/cdc"))
      // maintenance: ONLY the staged view + the feed's committed slots
      val delta = graft.io.FileSkipping.readCommittedFeeds(s, s"$base/cdc")
        .withColumn("w",
          when(col("op") === "update_preimage", lit(-1L)).otherwise(lit(1L)))
        .groupBy("o_orderpriority")
        .agg(sum(col("w")).as("dn"),
          sum(col("o_totalprice").cast(DecimalType(28, 4)) * col("w")).as("dsum_dec"))
      s.read.parquet(s"$base/view")
        .join(delta, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("sum_dec").cast(DecimalType(38, 8)), lit(0).cast(DecimalType(38, 8))) +
            coalesce(col("dsum_dec").cast(DecimalType(38, 8)), lit(0).cast(DecimalType(38, 8))))
            .cast("double").as("sum_price"))
        .filter(col("n") > 0)
    },

    // ── q192: MULTI-WRITER OCC — two concurrent merges, rebase commit ──
    // The version log's documented boundary ("true multi-writer needs
    // content-level conflict re-validation") closed: two transactions
    // BOTH pin the v0 snapshot, compute their merges against it into
    // private txn slots, and commit optimistically — writer A lands as
    // v1; writer B's commit finds a head it did not read, validates that
    // v1 neither removed B's files nor wrote into B's key band (the
    // deltas update disjoint thirds of the keyspace, so the 16-file
    // range-sorted layout gives them disjoint write footprints), and
    // REBASES onto v1 as v2. head_version = 2 proves the rebase path ran
    // — a serialized second writer would also reach v2, but
    // ConcurrencySpec races genuinely concurrent threads through
    // mergeKeyedOcc and pins the band-conflict abort (claim released,
    // retry converges), the file-conflict abort, the claim spin-wait,
    // the orphaned-claim timeout, and the disjoint-writers-both-land
    // union directly. The oracle applies both band-disjoint updates to
    // the source — under OCC that equals ANY commit order.
    "q192_occ_concurrent_merge" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      val base = Staging.scratch("q192_occ")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val kmax = manifestMaxKey(s, base)
      val (lo3, hi3) = (kmax / 3, 2L * (kmax / 3))
      val deltaA = orders.filter(col("o_orderkey") <= lo3 && col("o_orderkey") % 97 === 0)
        .withColumn("o_orderpriority", lit("9-OCC-A"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val deltaB = orders.filter(col("o_orderkey") >= hi3 && col("o_orderkey") % 89 === 0)
        .withColumn("o_orderpriority", lit("9-OCC-B"))
        .withColumn("o_totalprice", col("o_totalprice") * 3)
      // both transactions pin v0 BEFORE either commits — B's snapshot is
      // stale by the time it commits, which is the path under test
      val pinA = VersionLog.begin(s, vdir)
      val pinB = VersionLog.begin(s, vdir)
      FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
        deltaA, "A", pinned = Some(pinA)) // v1
      val vB = FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
        deltaB, "B", pinned = Some(pinB)) // v2, via rebase
      VersionLog.readVersion(s, vdir, vB)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"),
          min(lit(vB.toLong)).as("head_version"))
    },

    // ── q193: rewrite-only OCC — compaction racing a MERGE, both land ──
    // The canonical production conflict pair (round-9 verdict #3): the
    // daily compactor races a live MERGE writer. The compaction's key
    // band spans the table by construction, so plain band validation
    // would abort it on EVERY overlap — but it changes no content.
    // commitRebase's commit classification (Delta's WriteSerializable
    // refinement) lets it commit `rewriteOnly`: band checks are skipped
    // in both directions, file conflicts still abort (ConcurrencySpec
    // pins the abort + both orders). Here: a 1-big + 12-small-file
    // layout; a MERGE pinned at v0 updates keys inside the big file and
    // inserts beyond every range (its band spans the smalls'), lands as
    // v1; the compaction — ALSO pinned at v0, file-disjoint — rebases
    // over it as v2. head_version = 2 proves the rewrite-only rebase
    // path ran; the oracle recomputes the merge set-theoretically —
    // compaction must be invisible to the penny.
    "q193_occ_compaction_merge" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      val base = Staging.scratch("q193_occ_compact")
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      pristineFixture(s, d, base) {
        // first staging computes the split from the source; afterwards it
        // is re-read from the manifest (identical by construction)
        val split0 = orders.agg(max(col("o_orderkey"))).head().getLong(0) / 2
        orders.filter(col("o_orderkey") <= split0).coalesce(1)
          .write.mode("overwrite").parquet(s"$base/data")
        orders.filter(col("o_orderkey") > split0)
          .repartitionByRange(12, col("o_orderkey")).sortWithinPartitions("o_orderkey")
          .write.mode("append").parquet(s"$base/data")
        FileSkipping.buildManifest(s, s"$base/data", "o_orderkey")
          .write.mode("overwrite").parquet(s"$base/manifest")
      }
      val split = manifestMaxKey(s, base) / 2
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val delta = orders
        .filter(col("o_orderkey") <= split && col("o_orderkey") % 97 === 0)
        .withColumn("o_orderpriority", lit("9-OCC-M"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(mergeInserts(orders))
      val pinM = VersionLog.begin(s, vdir)
      val pinC = VersionLog.begin(s, vdir)
      FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
        delta, "M", pinned = Some(pinM)) // v1
      val dp = new org.apache.hadoop.fs.Path(s"$base/data")
      val fs = dp.getFileSystem(s.sessionState.newHadoopConf())
      val bigLen = fs.listStatus(dp)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).max
      val (vC, _, _) = FileSkipping.compactSmallOcc(s, s"$base/data", vdir,
        "o_orderkey", smallBytes = bigLen, targetBytes = Long.MaxValue,
        "C", pinned = Some(pinC)) // v2, rewrite-only rebase over the merge
      VersionLog.readVersion(s, vdir, vC)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"),
          min(lit(vC.toLong)).as("head_version"))
    },

    // ── q194: VERSIONED streaming ingest — time travel across an active
    // ingest (round-9 verdict #7), the serial-writer twin of q184's OCC
    // ingest: every micro-batch commits one log version (head ∪ slot
    // stats) with a _BATCH_<id> idempotence token, so a reader pinned
    // after batch 0 replays EXACTLY batch 0 even though two more batches (and a
    // mid-batch-1 crash + replay, which the token short-circuits without
    // a duplicate version) land after it. The query returns the pinned
    // b0 aggregate beside the head aggregate; the oracle recomputes both
    // from the source — the pinned snapshot is file 1's rows by the
    // staged replay's construction (pre-cutoff, event_id % 10 != 0),
    // the head is everything.
    "q194_versioned_stream_ingest" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      import graft.streaming.Streams
      val base = Staging.scratch("q194_vingest")
      graft.util.Staging.deleteRecursive(base)
      val src = Streams.prepareLateArrivalFiles(s, d)
      val vdir = s"$base/versions"
      Streams.drainWithCrashRecoveryInto(
        () => Streams.lateArrivalStream(s, src), "q194_vingest", "append", 1) {
        (b, id) => FileSkipping.ingestBatchVersioned(b, id, s"$base/data", "ts", vdir); ()
      }
      val head = VersionLog.head(s, vdir)
      require(head == 2, s"3 batches must commit exactly 3 versions, head=$head")
      def agg(df: org.apache.spark.sql.DataFrame, snap: String) =
        df.groupBy(lit(snap).as("snap"), col("event_type"))
          .agg(count(lit(1)).as("n"), Parity.dsum(col("value")).as("sum_value"))
      agg(VersionLog.readVersion(s, vdir, 0), "b0")
        .unionByName(agg(VersionLog.readVersion(s, vdir, head), "head"))
    },

    // ── q198: OCC range delete — two band-disjoint deletes, rebase ────
    // Completes the OCC mutator family (merge q192, compaction q193):
    // both transactions pin v0, delete disjoint key ranges (their
    // write footprints — retired-file bands — are disjoint on the
    // 16-file range-sorted layout), writer A lands as v1, writer B
    // REBASES onto v1 as v2. ConcurrencySpec pins the genuinely-racing
    // version of this plus the same-band delete-vs-merge abort; the
    // oracle removes both ranges from the source — under OCC that
    // equals any commit order.
    "q198_occ_range_delete" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      val base = Staging.scratch("q198_occdel")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val kmax = manifestMaxKey(s, base)
      val pinA = VersionLog.begin(s, vdir)
      val pinB = VersionLog.begin(s, vdir)
      FileSkipping.deleteRangeOcc(s, s"$base/data", vdir, "o_orderkey",
        lit(kmax / 10), lit(2 * (kmax / 10)), "A", pinned = Some(pinA)) // v1
      val (vB, _, _) = FileSkipping.deleteRangeOcc(s, s"$base/data", vdir, "o_orderkey",
        lit(7 * (kmax / 10)), lit(8 * (kmax / 10)), "B", pinned = Some(pinB)) // v2
      VersionLog.readVersion(s, vdir, vB)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"),
          min(lit(vB.toLong)).as("head_version"))
    },

    // ── q199: STREAMING CDC view maintenance, crash-idempotent ────────
    // q190 consumed the change feed as a batch; this is how a live
    // replica actually consumes it — `readStream` over the feed's
    // COMMITTED slots (a path glob built from committedFeedSlots, never
    // a blind listing of the feed dir), each micro-batch folded into the
    // maintained view with
    // signed weights and exact-decimal sums. Two sequential MERGEs emit
    // the feed (the second overwrites some of the first's rows —
    // replacement semantics, so the oracle's CASE arithmetic is
    // order-free); the per-batch folds are additive and commutative, so
    // ANY micro-batch split converges to the same view, which must equal
    // a full rebuild of the twice-merged table to the penny. The base
    // table is never rescanned after the view is built.
    //
    // Crash idempotence (round-10 verdict #2 — the original kept the
    // view-version counter in driver memory and ignored foreachBatch's
    // batchId, so a crash-replayed batch folded into the wrong view):
    // view slots are keyed BY BATCH ID — batch b reads view_b(b-1) (or
    // the seed) and OVERWRITES view_b(b), so a replay of b re-derives
    // the same slot from inputs the crash could not have touched:
    // exactly-once by construction, the engine's q184/q194 bar. Proven
    // live: the stream is driven through drainWithCrashRecoveryInto with
    // a mid-stream crash at batch 1 (the harness asserts the crash fired
    // and the batch was re-fed), and the oracle is still hash-exact.
    "q199_stream_cdc_view" -> { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val base = Staging.scratch("q199_streamcdc")
      val orders = stagedOrdersCopy(s, d, base)
      // seed view: ~|priorities| rows — driver-direct writer (change-1/8 shape)
      graft.io.DriverParquet.writeSmall(
        orders.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(28, 4))).as("sum_dec")),
        s"$base/view_seed")
      val (vdir, cdc) = (s"$base/versions", s"$base/cdc")
      graft.io.VersionLog.commit(s, vdir, s"$base/manifest") // v0
      graft.io.FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir,
        "o_orderkey", mergeUpdates(orders).unionByName(mergeInserts(orders)), "Q199A",
        cdcDir = Some(cdc))
      graft.io.FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir,
        "o_orderkey", orders.filter(col("o_orderkey") % 89 === 0)
          .withColumn("o_orderpriority", lit("8-M2"))
          .withColumn("o_totalprice", col("o_totalprice") * 3), "Q199B",
        cdcDir = Some(cdc))
      // 1 file per trigger: each merge's feed slot is ONE coalesced file
      // (the O(|delta|) feed write pays one file-commit, not ~32 — see
      // mergeKeyedOcc's coalesce note), so the two merges give exactly
      // two micro-batches — still a multi-batch fold (convergence is the
      // property under test, and the crash harness needs a batch 1 to
      // crash in) without the old ~64 fixed per-batch job costs
      val slots = graft.io.FileSkipping.committedFeedSlots(s, cdc)
        .map { case (_, slot) => new org.apache.hadoop.fs.Path(slot).getName }
      val committed = s"$cdc/{${slots.mkString(",")}}"
      val schema = graft.io.FileSkipping.readCommittedFeeds(s, cdc).schema
      @volatile var lastBatch = -1L
      graft.streaming.Streams.drainWithCrashRecoveryInto(
        () => s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(committed),
        "q199_streamcdc", "append", crashAtBatch = 1) { (b, id) =>
          val delta = b
            .withColumn("w",
              when(col("op") === "update_preimage", lit(-1L)).otherwise(lit(1L)))
            .groupBy("o_orderpriority")
            .agg(sum(col("w")).as("dn"),
              sum(col("o_totalprice").cast(DecimalType(28, 4)) * col("w")).as("dsum_dec"))
          val prev = if (id == 0) s"$base/view_seed" else s"$base/view_b${id - 1}"
          graft.io.DriverParquet.writeSmall(
            s.read.parquet(prev)
              .join(delta, Seq("o_orderpriority"), "full_outer")
              .select(col("o_orderpriority"),
                (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
                (coalesce(col("sum_dec").cast(DecimalType(38, 8)),
                    lit(0).cast(DecimalType(38, 8))) +
                  coalesce(col("dsum_dec").cast(DecimalType(38, 8)),
                    lit(0).cast(DecimalType(38, 8))))
                  .cast(DecimalType(28, 4)).as("sum_dec")),
            s"$base/view_b$id")
          lastBatch = math.max(lastBatch, id)
        }
      s.read.parquet(s"$base/view_b$lastBatch")
        .filter(col("n") > 0)
        .select(col("o_orderpriority"), col("n"),
          col("sum_dec").cast("double").as("sum_price"))
    },

    // ── q195–q197: SQL-STRING frontend for the table ops (round-9
    // verdict #5 stretch). q58 proved the QUERY frontend; these route
    // the MUTATIONS and time travel through MERGE INTO / DELETE WHERE /
    // VACUUM / VERSION AS OF strings (graft.io.TableSql) — each
    // statement maps 1:1 onto the FileSkipping/VersionLog call its
    // Scala twin (q181/q179/q185) makes, and each oracle is the twin's
    // oracle, so the SQL path must be observationally identical.

    // q195: q181's MERGE through a MERGE INTO string; the read-back also
    // goes through the SQL frontend (log-head view).
    "q195_sql_merge" -> { (s, d) =>
      import graft.io.TableSql
      val base = Staging.scratch("q195_sqlmerge")
      val orders = stagedOrdersCopy(s, d, base)
      graft.io.VersionLog.commit(s, s"$base/versions", s"$base/manifest") // v0
      val reg = Map("otable" -> TableSql.TableRef(s"$base/data", s"$base/versions", "o_orderkey"))
      mergeUpdates(orders).unionByName(mergeInserts(orders))
        .createOrReplaceTempView("q195_delta")
      TableSql(s, reg,
        """MERGE INTO otable USING q195_delta
           ON otable.o_orderkey = q195_delta.o_orderkey
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""").collect()
      TableSql(s, reg,
        s"""SELECT o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM otable GROUP BY o_orderpriority""")
    },

    // q196: q179's range delete through a DELETE string, then VACUUM
    // RETAIN 1 VERSIONS through its string (the physical delete), then
    // the survivor read through the head view.
    "q196_sql_delete_vacuum" -> { (s, d) =>
      import graft.io.TableSql
      val base = Staging.scratch("q196_sqldel")
      pristineFixture(s, d, base) {
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .repartitionByRange(16, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.mode("overwrite").parquet(s"$base/data")
        graft.io.FileSkipping.buildManifest(s, s"$base/data", "o_orderdate")
          .write.mode("overwrite").parquet(s"$base/manifest")
      }
      graft.io.VersionLog.commit(s, s"$base/versions", s"$base/manifest") // v0
      val reg = Map("dtable" -> TableSql.TableRef(s"$base/data", s"$base/versions", "o_orderdate"))
      TableSql(s, reg,
        """DELETE FROM dtable WHERE o_orderdate
           BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'""").collect()
      TableSql(s, reg, "VACUUM dtable RETAIN 1 VERSIONS").collect()
      TableSql(s, reg,
        s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS y, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM dtable GROUP BY year(o_orderdate)""")
    },

    // q197: q185's snapshot isolation through the SQL surface — a
    // MERGE INTO and a DELETE (one commit each), then ONE statement reads
    // `VERSION AS OF 0` beside the head and must see the original table
    // bit-exactly on the v0 side.
    "q197_sql_time_travel" -> { (s, d) =>
      import graft.io.TableSql
      val base = Staging.scratch("q197_sqltravel")
      val orders = stagedOrdersCopy(s, d, base)
      graft.io.VersionLog.commit(s, s"$base/versions", s"$base/manifest") // v0
      val reg = Map("ttable" -> TableSql.TableRef(s"$base/data", s"$base/versions", "o_orderkey"))
      mergeUpdates(orders).createOrReplaceTempView("q197_delta")
      TableSql(s, reg,
        """MERGE INTO ttable USING q197_delta
           ON ttable.o_orderkey = q197_delta.o_orderkey
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""").collect() // v1
      TableSql(s, reg,
        "DELETE FROM ttable WHERE o_orderkey BETWEEN 1 AND 3000").collect() // v2
      TableSql(s, reg,
        s"""SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM ttable VERSION AS OF 0 GROUP BY o_orderpriority
            UNION ALL
            SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM ttable GROUP BY o_orderpriority""")
    },

    // ── q200/q201: the SQL frontend's transactions made visible (round-10
    // verdict #6: "a versioned table's SQL users cannot reach
    // multi-writer semantics"). Same statements as q195/q196: each
    // statement is ONE OCC transaction — fresh pin, private txn slot,
    // rebase commit, CDC slot tied to the commit's fate — and SELECTs
    // bind the LOG head. Oracles are the Scala twins' oracles plus the
    // committed version the metrics frame returned, so the result proves
    // BOTH observational identity and that the transactional path (v0
    // bootstrap + one commit = v1) actually ran.

    "q200_sql_occ_merge" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q200_sqloccmerge")
      val orders = stagedOrdersCopy(s, d, base)
      VersionLog.commit(s, s"$base/versions", s"$base/manifest") // v0
      val reg = Map("omtable" -> TableSql.TableRef(
        s"$base/data", s"$base/versions", "o_orderkey", cdcDir = Some(s"$base/cdc")))
      mergeUpdates(orders).unionByName(mergeInserts(orders))
        .createOrReplaceTempView("q200_delta")
      val v = TableSql(s, reg,
        """MERGE INTO omtable USING q200_delta
           ON omtable.o_orderkey = q200_delta.o_orderkey
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""").head().getLong(0)
      TableSql(s, reg,
        s"""SELECT o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM omtable GROUP BY o_orderpriority""")
        .withColumn("head_version", lit(v))
    },

    // q201: OCC DELETE through its string, then VACUUM RETAIN 1 (drops
    // v0 and physically reclaims the files only it referenced), then the
    // survivor read through the log-head binding.
    "q201_sql_occ_delete" -> { (s, d) =>
      import graft.io.TableSql
      val base = Staging.scratch("q201_sqloccdel")
      pristineFixture(s, d, base) {
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .repartitionByRange(16, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.mode("overwrite").parquet(s"$base/data")
        graft.io.FileSkipping.buildManifest(s, s"$base/data", "o_orderdate")
          .write.mode("overwrite").parquet(s"$base/manifest")
      }
      graft.io.VersionLog.commit(s, s"$base/versions", s"$base/manifest") // v0
      val reg = Map("odtable" -> TableSql.TableRef(s"$base/data", s"$base/versions", "o_orderdate"))
      val v = TableSql(s, reg,
        """DELETE FROM odtable WHERE o_orderdate
           BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'""")
        .head().getLong(0)
      TableSql(s, reg, "VACUUM odtable RETAIN 1 VERSIONS").collect()
      TableSql(s, reg,
        s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS y, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM odtable GROUP BY year(o_orderdate)""")
        .withColumn("head_version", lit(v))
    },

    // ── q202: 2D manifest THROUGH OCC mutation + time travel (round-10
    // stretch: "carry the multi-stats columns through the snapshot
    // schema"). The table is z-ordered on hash-derived (x, y) and keyed
    // by zk = zvalue·2³³ + o_orderkey (injective, z-clustered); its
    // snapshots carry min/max for x AND y beside the key stats (the
    // buildManifest bootstrap; every commit carries them), so after an
    // OCC merge BOTH the pinned v0 and the new head serve 2D box-pruned
    // reads from their own snapshot's stats — no derived cache to go
    // stale (the q187 layout, composed with q192's transaction and
    // q185's time travel). Pruning is superset + residual filter, so the
    // oracle recomputes both boxes set-theoretically; the spec asserts
    // the probe actually opened a strict subset of the snapshot's files.
    "q202_occ_2d_travel" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      val base = Staging.scratch("q202_occ2d")
      val src = Tables.orders(s, d).select(
        col("o_orderkey"),
        pmod(Parity.keyHash(col("o_orderkey")), lit(256L)).as("x"),
        pmod(Parity.keyHash(col("o_custkey") * 131), lit(256L)).as("y"),
        col("o_totalprice"))
      def withZk(df: DataFrame) = df.select(
        (ZOrder.zValue(col("x"), col("y"), 8) * lit(1L << 33) + col("o_orderkey")).as("zk"),
        col("x"), col("y"), col("o_totalprice"))
      pristineFixture(s, d, base) {
        withZk(src)
          .repartitionByRange(16, col("zk")).sortWithinPartitions("zk")
          .write.mode("overwrite").parquet(s"$base/data")
        FileSkipping.buildManifest(s, s"$base/data", "zk", Seq("x", "y"))
          .write.mode("overwrite").parquet(s"$base/manifest")
      }
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val delta = withZk(src.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      val v1 = FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "zk", delta, "Q202")
      def box(v: Int, snap: String) =
        FileSkipping.prunedReadVersionMulti(s, vdir, v,
          Seq(("x", lit(64L), lit(95L)), ("y", lit(160L), lit(191L))))
          .filter(col("x").between(64, 95) && col("y").between(160, 191))
          .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
          .select(lit(snap).as("snap"), col("n"), col("sum_price"))
      box(0, "v0").unionByName(box(v1, "head"))
    },

    // ── q203: committed-feed REPLAY as the downstream consumer ────────
    // The round-11 CDC lifecycle end-to-end through the oracle gate: two
    // band-disjoint OCC merges (both pinned at v0, writer B rebases)
    // emit their feeds into per-txn slots; the downstream consumer reads
    // them via readCommittedFeeds (the marker-gated API — aborted and
    // crashed-writer slots invisible by construction) and reconstructs
    // the head WITHOUT ever reading the head: base + postimages −
    // preimages. The aggregate of the rebuilt table must equal the
    // merged table recomputed set-theoretically — any feed slot leaked
    // from an abort, double-written by a retry, or dropped by the
    // marker gate would break the multiset arithmetic to the penny.
    "q203_occ_feed_replay" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      val base = Staging.scratch("q203_occfeed")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val kmax = manifestMaxKey(s, base)
      val (lo3, hi3) = (kmax / 3, 2L * (kmax / 3))
      val deltaA = orders.filter(col("o_orderkey") <= lo3 && col("o_orderkey") % 97 === 0)
        .withColumn("o_orderpriority", lit("9-F-A"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val deltaB = orders.filter(col("o_orderkey") >= hi3 && col("o_orderkey") % 89 === 0)
        .withColumn("o_orderpriority", lit("9-F-B"))
        .withColumn("o_totalprice", col("o_totalprice") * 3)
      val pinA = VersionLog.begin(s, vdir)
      val pinB = VersionLog.begin(s, vdir) // stale by commit time — rebases
      FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
        deltaA, "FA", pinned = Some(pinA), cdcDir = Some(s"$base/cdc"))
      FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
        deltaB, "FB", pinned = Some(pinB), cdcDir = Some(s"$base/cdc"))
      val feed = FileSkipping.readCommittedFeeds(s, s"$base/cdc")
      VersionLog.readVersion(s, vdir, 0)
        .unionByName(feed.filter(col("op") =!= "update_preimage").drop("op"))
        .exceptAll(feed.filter(col("op") === "update_preimage").drop("op"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // ── q204: DATA-schema evolution through the version log ───────────
    // Round-11 verdict #1: a MERGE delta that ADDS a column commits with
    // `evolveSchema = true` — the evolved schema rides the snapshot dir,
    // the head read null-fills the new column for every pre-evolution
    // file (no mergeSchema footer scans: the log carries the schema),
    // and a reader pinned at v0 still sees the ORIGINAL schema. The
    // bonus column is price/2 (a binary-exact halving, so the oracle's
    // double arithmetic replays bit-for-bit). Both snapshots' aggregates
    // are recomputed set-theoretically by the oracle; the v0 side's
    // sum_bonus is the literal 0 the pinned (pre-evolution) schema
    // forces. SchemaEvolutionSpec pins the loud default-rejection half
    // of the contract and the record's propagation through compaction.
    "q204_occ_schema_evolution" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      val base = Staging.scratch("q204_schevo")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val delta = mergeUpdates(orders)
        .withColumn("o_bonus", col("o_totalprice") / 2)
      val v1 = FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
        delta, "EVO", evolveSchema = true)
      val head = VersionLog.readVersion(s, vdir, v1)
      val v0 = VersionLog.readVersion(s, vdir, 0)
      // self-check the pin's schema (the spec asserts it too; a leak here
      // would also hash-mismatch the oracle's 0-bonus column)
      require(!v0.columns.contains("o_bonus"),
        "pre-evolution pinned version leaked the evolved column")
      head.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"),
          Parity.dsum(coalesce(col("o_bonus"), lit(0.0))).as("sum_bonus"))
        .select(lit("head").as("snap"), col("o_orderpriority"), col("n"),
          col("sum_price"), col("sum_bonus"))
        .unionByName(v0.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"),
            Parity.dsum(lit(0.0)).as("sum_bonus"))
          .select(lit("v0").as("snap"), col("o_orderpriority"), col("n"),
            col("sum_price"), col("sum_bonus")))
    },

    // ── q205: INCREMENTAL committed-feed consumption + slot retention ──
    // Round-11 verdict #2 + #4 end-to-end: three OCC merges emit feed
    // slots; the downstream view folds them through a VERSION CURSOR
    // (readCommittedFeedsSince) instead of re-reading history — the
    // consumption after merge 3 provably opens only slot 3, because the
    // consumed slots are PHYSICALLY RECLAIMED (vacuumFeeds) before it
    // runs and the fold still converges. A crash-shaped replay of round
    // 1 (same cursor, same slots, overwrite of the same view slot) runs
    // between the rounds — exactly-once by cursor-keyed idempotence, the
    // q199 batchId shape. The maintained view must equal a full rebuild
    // of the thrice-merged table to the penny; the base is aggregated
    // ONCE (the seed) and never rescanned.
    "q205_occ_feed_incremental" -> { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      import graft.io.{FileSkipping, VersionLog}
      val base = Staging.scratch("q205_feedinc")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      val cdc = s"$base/cdc"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      // seed view: ~|priorities| rows — driver-direct writer (change-1/8 shape)
      graft.io.DriverParquet.writeSmall(
        orders.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(28, 4))).as("sum_dec")),
        s"$base/view_v0")
      def merge(tag: String, mod: Int, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Int =
        FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
          orders.filter(col("o_orderkey") % mod === 0)
            .withColumn("o_orderpriority", lit(tag))
            .withColumn("o_totalprice", f(col("o_totalprice"))),
          tag, pinned = Some(VersionLog.begin(s, vdir)), cdcDir = Some(cdc))
      def fold(feed: DataFrame, fromCursor: Int, toCursor: Int): Unit = {
        val delta = feed
          .withColumn("w",
            when(col("op") === "update_preimage", lit(-1L)).otherwise(lit(1L)))
          .groupBy("o_orderpriority")
          .agg(sum(col("w")).as("dn"),
            sum(col("o_totalprice").cast(DecimalType(28, 4)) * col("w")).as("dsum_dec"))
        graft.io.DriverParquet.writeSmall(
          s.read.parquet(s"$base/view_v$fromCursor")
            .join(delta, Seq("o_orderpriority"), "full_outer")
            .select(col("o_orderpriority"),
              (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
              (coalesce(col("sum_dec").cast(DecimalType(38, 8)),
                  lit(0).cast(DecimalType(38, 8))) +
                coalesce(col("dsum_dec").cast(DecimalType(38, 8)),
                  lit(0).cast(DecimalType(38, 8))))
                .cast(DecimalType(28, 4)).as("sum_dec")),
          s"$base/view_v$toCursor")
      }
      merge("9-I-A", 97, _ * 2) // v1
      merge("9-I-B", 89, _ * 3) // v2
      val (Some(f12), c12) = FileSkipping.readCommittedFeedsSince(s, cdc, 0): @unchecked
      fold(f12, 0, c12)
      // crash-shaped replay of round 1: same cursor -> same slots -> the
      // SAME view slot overwritten — the fold must be idempotent
      val (Some(f12b), c12b) = FileSkipping.readCommittedFeedsSince(s, cdc, 0): @unchecked
      require(c12b == c12, s"cursor drifted across a replayed poll: $c12b != $c12")
      fold(f12b, 0, c12)
      // consumed slots physically reclaimed; round 2 can only read slot 3
      require(FileSkipping.vacuumFeeds(s, cdc, consumedThrough = c12,
          versionsDir = Some(vdir)) == 2,
        "expected both consumed feed slots reclaimed")
      merge("9-I-C", 101, _ + 7) // v3
      val (Some(f3), c3) = FileSkipping.readCommittedFeedsSince(s, cdc, c12): @unchecked
      fold(f3, c12, c3)
      s.read.parquet(s"$base/view_v$c3")
        .filter(col("n") > 0)
        .select(col("o_orderpriority"), col("n"),
          col("sum_dec").cast("double").as("sum_price"))
    },

    // ── q206: INSERT INTO through the SQL frontend ─────────────────────
    // Round-11 verdict #6: the most common mutation a user types reaches
    // appendOcc (one transaction) through its string, on two tables
    // (labelled 'plain' and 'occ'); the SELECT half binds registered
    // tables like any other statement, the column sets are
    // schema-checked by NAME before anything lands (TableSqlSpec pins
    // the mismatch guard), and the 'occ' table's committed version rides
    // the result. Oracle = base ∪ inserted rows, identical on both sides.
    "q206_sql_insert" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val basep = Staging.scratch("q206_insp")
      val baseo = Staging.scratch("q206_inso")
      val orders = stagedOrdersCopy(s, d, basep)
      stagedOrdersCopy(s, d, baseo)
      VersionLog.commit(s, s"$basep/versions", s"$basep/manifest") // v0
      VersionLog.commit(s, s"$baseo/versions", s"$baseo/manifest") // v0
      val reg = Map(
        "ptable" -> TableSql.TableRef(s"$basep/data", s"$basep/versions", "o_orderkey"),
        "oitable" -> TableSql.TableRef(s"$baseo/data", s"$baseo/versions", "o_orderkey"))
      mergeInserts(orders).createOrReplaceTempView("q206_rows")
      TableSql(s, reg,
        """INSERT INTO ptable
           SELECT o_orderkey, o_orderpriority, o_totalprice FROM q206_rows""").collect()
      val v = TableSql(s, reg,
        """INSERT INTO oitable
           SELECT o_orderkey, o_orderpriority, o_totalprice FROM q206_rows""")
        .head().getLong(0)
      def agg(side: String, table: String) = TableSql(s, reg,
        s"""SELECT '$side' AS side, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $table GROUP BY o_orderpriority""")
      agg("plain", "ptable").unionByName(agg("occ", "oitable"))
        .withColumn("occ_version", lit(v))
    },

    // ── q207: OCC-composed STREAMING ingest racing compaction ──────────
    // Round-11 stretch: ingestBatchVersioned's serial-single-writer
    // contract replaced by the OCC rebase path, so the canonical
    // production pair — a LIVE ingest stream + the nightly compactor —
    // composes on one table. Each micro-batch commits a rebase (removed
    // = ∅: it can never file-conflict, and the compactor's commits are
    // rewrite-only, so neither aborts the other); exactly-once across
    // the mid-batch-1 crash is the _BATCH token probed only back to the
    // previous batch's token (never O(history)). The compactor pins
    // BEFORE batch 1 commits and lands AFTER it — a real stale-pin
    // rebase in the middle of the stream. Oracle = the plain source
    // aggregate over everything the 3-file replay delivers; any row
    // duplicated by the crash replay, lost by compaction, or
    // double-committed by the rebase shows up to the penny.
    // ConcurrencySpec races the genuinely-threaded version.
    "q207_occ_stream_ingest" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      import graft.streaming.Streams
      val base = Staging.scratch("q207_occingest")
      graft.util.Staging.deleteRecursive(base)
      val src = Streams.prepareLateArrivalFiles(s, d)
      val vdir = s"$base/versions"
      emptyTsLog(s, vdir) // v0: an EMPTY table
      @volatile var compacted = false
      Streams.drainWithCrashRecoveryInto(
        () => Streams.lateArrivalStream(s, src), "q207_occingest", "append", 1) {
        (b, id) =>
          // pin BEFORE this batch's commit, compact after it: the
          // compactor's snapshot is stale by one ingest commit and must
          // rebase over it (rewrite-only, so no band abort despite the
          // table-spanning band). The flag keeps the crash REPLAY of
          // batch 1 from compacting twice — the replayed INGEST is the
          // recovery path under test, idempotent via its _BATCH token.
          val pin = if (id == 1 && !compacted) Some(VersionLog.begin(s, vdir)) else None
          // 4 range-clustered files per batch slot: the compactor's bin
          // plan needs >= 2 smalls to have anything to do, and range
          // clustering keeps the stats sharp — the shape a real ingest
          // would pick anyway
          FileSkipping.ingestBatchOcc(b.repartitionByRange(4, col("ts"))
            .sortWithinPartitions("ts"), id, s"$base/data", "ts", vdir)
          pin.foreach { p =>
            compacted = true
            FileSkipping.compactSmallOcc(s, s"$base/data", vdir, "ts",
              smallBytes = 64L * 1024 * 1024, targetBytes = 8L * 1024 * 1024,
              "CPT", pinned = Some(p))
          }
      }
      val head = VersionLog.head(s, vdir)
      require(head == 4, s"3 ingest commits + 1 compaction after v0, head=$head")
      VersionLog.readVersion(s, vdir, head)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("value")).as("sum_value"))
    },

    // ── q208: explicit DDL evolution — ALTER TABLE … ADD COLUMN ────────
    // Round-12 verdict stretch: operators evolve a table WITHOUT a data
    // mutation. The ALTER commits a SCHEMA-ONLY version (file set
    // unchanged, evolved schema recorded — removed = ∅, added = ∅, so it
    // can never conflict with a concurrent writer); an old-shape INSERT
    // then null-fills the new column, a new-shape INSERT carries it, and
    // a reader pinned BEFORE the ALTER keeps the original schema. Every
    // statement goes through the SQL frontend. The oracle recomputes both
    // snapshots set-theoretically; the bonus is price/4 (binary-exact
    // quartering) so the double arithmetic replays bit-for-bit.
    "q208_sql_alter_add_column" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q208_alter")
      val orders = stagedOrdersCopy(s, d, base)
      VersionLog.commit(s, s"$base/versions", s"$base/manifest") // v0
      val reg = Map("atable" -> TableSql.TableRef(s"$base/data", s"$base/versions",
        "o_orderkey", evolveSchema = true))
      TableSql(s, reg, "ALTER TABLE atable ADD COLUMN o_bonus DOUBLE") // v1
      // old-shape INSERT: the added column null-fills
      mergeInserts(orders).createOrReplaceTempView("q208_old_rows")
      TableSql(s, reg,
        """INSERT INTO atable
           SELECT o_orderkey, o_orderpriority, o_totalprice FROM q208_old_rows""") // v2
      // new-shape INSERT: carries the added column
      orders.filter(col("o_orderkey") % 997 === 0)
        .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
          lit("9-BONUS").as("o_orderpriority"),
          col("o_totalprice"),
          (col("o_totalprice") / 4).as("o_bonus"))
        .createOrReplaceTempView("q208_new_rows")
      TableSql(s, reg,
        """INSERT INTO atable
           SELECT o_orderkey, o_orderpriority, o_totalprice, o_bonus
           FROM q208_new_rows""") // v3
      // self-check the pin's schema (a leak would also hash-mismatch the
      // oracle's literal-0 bonus columns)
      require(!VersionLog.readVersion(s, s"$base/versions", 0)
        .columns.contains("o_bonus"),
        "pre-ALTER pinned version leaked the added column")
      val head = TableSql(s, reg,
        s"""SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price,
                   COUNT(o_bonus) AS n_bonus,
                   ${Sql.dsum("COALESCE(o_bonus, 0)")} AS sum_bonus
            FROM atable GROUP BY o_orderpriority""")
      val v0 = TableSql(s, reg,
        s"""SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price,
                   CAST(0 AS BIGINT) AS n_bonus, ${Sql.dsum("0")} AS sum_bonus
            FROM atable VERSION AS OF 0 GROUP BY o_orderpriority""")
      head.unionByName(v0)
    },

    // ── q209: OPTIMIZE + DESCRIBE HISTORY through the SQL frontend ─────
    // The daily maintenance verb a lake operator actually types: OPTIMIZE
    // folds the 16 small staged files through one range exchange as a
    // REWRITE-ONLY OCC transaction (composes with live writers — band
    // checks skipped both directions, q207's production pair), DESCRIBE
    // HISTORY shows the commit classes, and content is provably
    // byte-preserved: the head aggregate AND the pre-OPTIMIZE pinned
    // aggregate must both equal the plain source oracle.
    "q209_sql_optimize" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q209_optimize")
      stagedOrdersCopy(s, d, base)
      VersionLog.commit(s, s"$base/versions", s"$base/manifest") // v0
      val reg = Map("octable" -> TableSql.TableRef(s"$base/data", s"$base/versions", "o_orderkey"))
      val m = TableSql(s, reg, "OPTIMIZE octable").head() // v1, rewrite-only
      require(m.getLong(1) >= 2 && m.getLong(2) < m.getLong(1),
        s"OPTIMIZE must fold small files: compacted=${m.getLong(1)} written=${m.getLong(2)}")
      val hist = TableSql(s, reg, "DESCRIBE HISTORY octable").collect()
      require(hist.length == 2 &&
        !hist(0).getBoolean(hist(0).fieldIndex("rewrite_only")) &&
        hist(1).getBoolean(hist(1).fieldIndex("rewrite_only")),
        s"history must show v0 content + v1 rewrite-only, got ${hist.mkString(";")}")
      def agg(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src GROUP BY o_orderpriority""")
      agg("head", "octable").unionByName(agg("v0", "octable VERSION AS OF 0"))
    },

    // ── q210: RESTORE TABLE … TO VERSION AS OF through the SQL frontend ─
    // Delta's rollback verb (round-13 verdict stretch): an INSERT lands
    // (v1), a bad DELETE fires (v2), RESTORE rolls head back to v1 as a
    // NEW commit (v3) — history preserved, so the bad v2 stays
    // inspectable under time travel while head equals the pinned v1
    // EXACTLY. The oracle recomputes all three snapshots
    // set-theoretically; a restore that resurrected the wrong file set,
    // leaked the deleted range, or clobbered history hash-mismatches.
    "q210_sql_restore" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q210_restore")
      val orders = stagedOrdersCopy(s, d, base)
      VersionLog.commit(s, s"$base/versions", s"$base/manifest") // v0
      val reg = Map("rtable" -> TableSql.TableRef(s"$base/data", s"$base/versions", "o_orderkey"))
      mergeInserts(orders).createOrReplaceTempView("q210_ins")
      TableSql(s, reg, "INSERT INTO rtable SELECT * FROM q210_ins") // v1 good
      TableSql(s, reg,
        "DELETE FROM rtable WHERE o_orderkey BETWEEN 100 AND 50000") // v2 bad
      val r = TableSql(s, reg, "RESTORE TABLE rtable TO VERSION AS OF 1").head() // v3
      require(r.getLong(0) == 3 && r.getLong(1) == 1,
        s"restore committed (${r.getLong(0)}, restored_to=${r.getLong(1)}), expected (3, 1)")
      val hist = TableSql(s, reg, "DESCRIBE HISTORY rtable").collect()
      require(hist.length == 4 && hist.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3),
        s"RESTORE must preserve history as a new commit, got ${hist.mkString(";")}")
      require(hist(3).getLong(1) == hist(1).getLong(1),
        s"restored head file count ${hist(3).getLong(1)} != v1's ${hist(1).getLong(1)}")
      def agg(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src GROUP BY o_orderpriority""")
      agg("head", "rtable")
        .unionByName(agg("v1", "rtable VERSION AS OF 1"))
        .unionByName(agg("v2", "rtable VERSION AS OF 2"))
    },

    // ── q211: OPTIMIZE … ZORDER BY through the SQL frontend ────────────
    // Delta's multi-dimensional clustering verb on an EXISTING table:
    // the fixture stages the q202 point cloud SCATTERED (hash-random
    // placement — every file spans the full (x, y) plane, so the 2D
    // manifest admits ALL files for any box), then one SQL ZORDER
    // rewrite re-clusters it as a rewrite-only OCC transaction. The
    // probe asserts the PHYSICAL claim (the same box probe opens
    // strictly fewer files at the z-ordered head than at the scattered
    // v0 — input_file_name()-counted) and the oracle gates the LOGICAL
    // one: both layouts' box aggregates, plus the full-table rollup at
    // the head, replay set-theoretically — a rewrite that lost/duped a
    // row or mis-bucketed the dims hash-mismatches.
    "q211_sql_zorder" -> { (s, d) =>
      import graft.io.{FileSkipping, TableSql, VersionLog}
      val base = Staging.scratch("q211_zorder")
      pristineFixture(s, d, base) {
        Tables.orders(s, d).select(
          col("o_orderkey"),
          pmod(Parity.keyHash(col("o_orderkey")), lit(256L)).as("x"),
          pmod(Parity.keyHash(col("o_custkey") * 131), lit(256L)).as("y"),
          col("o_totalprice"))
          .repartition(16) // SCATTERED: every file spans the whole plane
          .write.mode("overwrite").parquet(s"$base/data")
        FileSkipping.buildManifest(s, s"$base/data", "o_orderkey", Seq("x", "y"))
          .write.mode("overwrite").parquet(s"$base/manifest")
      }
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("ztable" -> TableSql.TableRef(s"$base/data", s"$base/versions", "o_orderkey"))
      val m = TableSql(s, reg, "OPTIMIZE ztable ZORDER BY (x, y)").head() // v1
      require(m.getLong(0) == 1 && m.getLong(1) == 16,
        s"expected v1 rewriting 16 files, got ${m}")
      def boxFiles(v: Int) = FileSkipping.prunedReadVersionMulti(s, vdir, v,
          Seq(("x", lit(64L), lit(95L)), ("y", lit(160L), lit(191L))))
        .select(input_file_name()).distinct().count()
      val (pre, post) = (boxFiles(0), boxFiles(1))
      require(post < pre,
        s"ZORDER did not sharpen 2D pruning: $post files admitted post vs $pre pre")
      // rewrite-only class recorded (composes with live writers)
      val hist = TableSql(s, reg, "DESCRIBE HISTORY ztable").collect()
      require(hist.length == 2 && hist(1).getBoolean(3),
        s"ZORDER commit must be rewrite-only, got ${hist.mkString(";")}")
      def box(v: Int, snap: String) =
        FileSkipping.prunedReadVersionMulti(s, vdir, v,
          Seq(("x", lit(64L), lit(95L)), ("y", lit(160L), lit(191L))))
          .filter(col("x").between(64, 95) && col("y").between(160, 191))
          .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
          .select(lit(snap).as("snap"), col("n"), col("sum_price"))
      box(0, "v0").unionByName(box(1, "head"))
        .unionByName(VersionLog.readVersion(s, vdir, 1)
          .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
          .select(lit("head_all").as("snap"), col("n"), col("sum_price")))
    },

    // ── q212: TIMESTAMP AS OF time travel through the SQL frontend ─────
    // Delta's instant-based read: each commit records a name-encoded
    // `_TS_<millis>` stamp in its snapshot dir (here passed EXPLICITLY
    // through the markers channel so the fixture is deterministic; live
    // commits stamp their wall clock), and `t TIMESTAMP AS OF <bound>`
    // resolves to the LATEST version at or before the instant — three
    // versions (v0 = even keys, v1 = all, v2 = back to even), read at an
    // instant before v1 (→ v0), exactly AT v1's stamp (boundary → v1),
    // mid v1..v2 via the quoted-literal form (→ v1), and at head. A
    // pre-v0 instant must reject loudly, never serve the earliest
    // version as a silently-wrong snapshot.
    "q212_timestamp_travel" -> { (s, d) =>
      import graft.io.{FileSkipping, TableSql, VersionLog}
      val base = Staging.scratch("q212_tstravel")
      val vdir = s"$base/versions"
      val (ts0, ts1, ts2) = (1700000000000L, 1700000100000L, 1700000200000L)
      // the three stamped commits are DETERMINISTIC (explicit _TS_
      // markers), so the whole log is part of the pristine fixture — the
      // per-invocation work is exactly the operator under test: the
      // TIMESTAMP AS OF reads
      pristineFixture(s, d, base) {
        val orders = Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
          .write.mode("overwrite").parquet(s"$base/data/even")
        orders.filter(col("o_orderkey") % 2 =!= 0)
          .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
          .write.mode("overwrite").parquet(s"$base/data/odd")
        val mEven = FileSkipping.buildManifest(s, s"$base/data/even", "o_orderkey")
        val mOdd = FileSkipping.buildManifest(s, s"$base/data/odd", "o_orderkey")
        VersionLog.commitSnapshot(s, vdir, mEven, markers = Seq(s"_TS_$ts0"))      // v0
        VersionLog.commitSnapshot(s, vdir, mEven.unionByName(mOdd),
          markers = Seq(s"_TS_$ts1"))                                              // v1
        VersionLog.commitSnapshot(s, vdir, mEven, markers = Seq(s"_TS_$ts2"))      // v2
      }
      val reg = Map("ttable" -> TableSql.TableRef(s"$base/data", vdir, "o_orderkey"))
      // a pre-v0 instant rejects loudly — serving v0 would be silently wrong
      val rejected =
        try { TableSql(s, reg, s"SELECT * FROM ttable TIMESTAMP AS OF ${ts0 - 1}"); false }
        catch { case e: IllegalArgumentException =>
          require(e.getMessage.contains("predates"), e.getMessage); true }
      require(rejected, "a pre-v0 TIMESTAMP AS OF must reject, not resolve")
      // the quoted-literal form round-trips through the session clock's
      // rendering of the mid instant (same zone in, same zone out)
      val midLit = new java.sql.Timestamp((ts1 + ts2) / 2).toString
      def agg(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src GROUP BY o_orderpriority""")
      agg("pre_v1", s"ttable TIMESTAMP AS OF ${ts1 - 1}")
        .unionByName(agg("at_v1", s"ttable TIMESTAMP AS OF $ts1"))
        .unionByName(agg("mid", s"ttable TIMESTAMP AS OF '$midLit'"))
        .unionByName(agg("head", "ttable"))
    },

    // ── q213: N-dimensional OPTIMIZE … ZORDER BY (3 dims) ──────────────
    // q211's physical/logical gate generalized past the pair signature
    // (round-14 verdict: z-order was fixed at exactly 2 dims; 3–4 is the
    // common Delta ask): the scattered point cloud re-clusters by the
    // 3-dim Morton code, and pruning must sharpen for a box on ANY
    // single dim AND any 2-dim box — the property N-dim interleaving
    // buys that a 2-dim code cannot (a predicate on the third dim alone
    // would admit every file). The oracle replays both box aggregates
    // and the full-table rollup set-theoretically.
    "q213_zorder_3d" -> { (s, d) =>
      import graft.io.{FileSkipping, TableSql, VersionLog}
      val base = Staging.scratch("q213_zorder3")
      pristineFixture(s, d, base) {
        Tables.orders(s, d).select(
          col("o_orderkey"),
          pmod(Parity.keyHash(col("o_orderkey")), lit(256L)).as("x"),
          pmod(Parity.keyHash(col("o_custkey") * 131), lit(256L)).as("y"),
          pmod(Parity.keyHash(col("o_orderkey") * 509), lit(256L)).as("w"),
          col("o_totalprice"))
          .repartition(16) // SCATTERED: every file spans the whole cube
          .write.mode("overwrite").parquet(s"$base/data")
        FileSkipping.buildManifest(s, s"$base/data", "o_orderkey", Seq("x", "y", "w"))
          .write.mode("overwrite").parquet(s"$base/manifest")
      }
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("z3table" -> TableSql.TableRef(s"$base/data", vdir, "o_orderkey"))
      val m = TableSql(s, reg, "OPTIMIZE z3table ZORDER BY (x, y, w)").head() // v1
      require(m.getLong(0) == 1 && m.getLong(1) == 16,
        s"expected v1 rewriting 16 files, got $m")
      def files(v: Int, box: Seq[(String, Long, Long)]) =
        FileSkipping.prunedReadVersionMulti(s, vdir, v,
          box.map { case (c, lo, hi) => (c, lit(lo), lit(hi)) })
          .select(input_file_name()).distinct().count()
      // pruning sharpens on a single-dim slab for EVERY dim and on a
      // 2-dim box — the scattered layout admits all 16 files for each
      for (box <- Seq(Seq(("x", 64L, 95L)), Seq(("y", 160L, 191L)),
                      Seq(("w", 0L, 31L)),
                      Seq(("x", 64L, 95L), ("y", 160L, 191L)))) {
        val (pre, post) = (files(0, box), files(1, box))
        require(post < pre,
          s"3-dim ZORDER did not sharpen pruning for $box: $post vs $pre files")
      }
      def box(v: Int, snap: String) =
        FileSkipping.prunedReadVersionMulti(s, vdir, v,
          Seq(("x", lit(64L), lit(95L)), ("y", lit(160L), lit(191L))))
          .filter(col("x").between(64, 95) && col("y").between(160, 191))
          .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
          .select(lit(snap).as("snap"), col("n"), col("sum_price"))
      val wslab = FileSkipping.prunedReadVersionMulti(s, vdir, 1,
          Seq(("w", lit(0L), lit(31L))))
        .filter(col("w").between(0, 31))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
        .select(lit("w_slab").as("snap"), col("n"), col("sum_price"))
      box(0, "v0").unionByName(box(1, "head")).unionByName(wslab)
        .unionByName(VersionLog.readVersion(s, vdir, 1)
          .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
          .select(lit("head_all").as("snap"), col("n"), col("sum_price")))
    },

    // ── q214: OPTIMIZE … WHERE — range-scoped compaction ───────────────
    // The hot-partition maintenance shape (round-14 verdict stretch):
    // a key-sorted 16-file table compacts ONLY the small files whose
    // manifest band intersects the WHERE range — the candidate set is
    // manifest math, out-of-range files are asserted untouched
    // (file-set identity pre/post), the commit is rewrite-only, and the
    // oracle gates content at head and at the pre-compaction pin (a
    // scoped rewrite that lost a straddling file's out-of-range rows
    // hash-mismatches the full-table rollup).
    "q214_optimize_where" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q214_optwhere")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("owtable" -> TableSql.TableRef(s"$base/data", vdir, "o_orderkey"))
      val keyMax = manifestMaxKey(s, base)
      val (lo, hi) = (1L, keyMax / 4) // ~the first quarter of the key space
      val before = VersionLog.manifestAt(s, vdir, 0)
      val m = TableSql(s, reg,
        s"OPTIMIZE owtable WHERE o_orderkey BETWEEN $lo AND $hi").head() // v1
      require(m.getLong(0) == 1 && m.getLong(1) >= 2 && m.getLong(1) <= 6,
        s"scoped OPTIMIZE should compact only the in-range files of 16, got $m")
      val after = VersionLog.manifestAt(s, vdir, 1)
      val beforeFiles = before.select("file", "min_key").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val afterFiles = after.select("file").collect().map(_.getString(0)).toSet
      val untouched = beforeFiles.keySet.filter(afterFiles.contains)
      val rewritten = beforeFiles.keySet -- afterFiles
      require(rewritten.nonEmpty && rewritten.forall(f => beforeFiles(f) <= hi),
        s"OPTIMIZE WHERE rewrote out-of-range files: " +
          rewritten.filter(f => beforeFiles(f) > hi).mkString(","))
      require(untouched.exists(f => beforeFiles(f) > hi),
        "every out-of-range file must survive the scoped compaction untouched")
      val hist = TableSql(s, reg, "DESCRIBE HISTORY owtable").collect()
      require(hist.length == 2 && hist(1).getBoolean(3),
        s"scoped OPTIMIZE must be rewrite-only, got ${hist.mkString(";")}")
      def agg(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src GROUP BY o_orderpriority""")
      def inRange(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, 'inrange' AS o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src WHERE o_orderkey BETWEEN $lo AND $hi""")
      agg("head", "owtable").unionByName(agg("v0", "owtable VERSION AS OF 0"))
        .unionByName(inRange("head_box", "owtable"))
    },

    // ── q215: CHECKPOINT through the SQL frontend ──────────────────────
    // Delta's _last_checkpoint shape (round-14 verdict #7): the history
    // summary folds into one parquet, and a VACUUM that physically drops
    // old version dirs no longer erases their history — DESCRIBE HISTORY
    // reads checkpoint + tail, with per-version row counts exact. The
    // oracle replays every version's n_rows set-theoretically; a
    // checkpoint that summarized the wrong snapshots (or a post-vacuum
    // DESCRIBE that lost folded versions) hash-mismatches.
    "q215_sql_checkpoint" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q215_ckpt")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("cktable" -> TableSql.TableRef(s"$base/data", vdir, "o_orderkey"))
      mergeInserts(orders).createOrReplaceTempView("q215_ins")
      TableSql(s, reg, "INSERT INTO cktable SELECT * FROM q215_ins")           // v1
      TableSql(s, reg, "DELETE FROM cktable WHERE o_orderkey BETWEEN 100 AND 50000") // v2
      val c = TableSql(s, reg, "CHECKPOINT cktable").head().getLong(0)
      require(c == 2, s"checkpoint must fold through head v2, got v$c")
      TableSql(s, reg, "VACUUM cktable RETAIN 1 VERSIONS") // drops v0, v1 dirs
      require(!new java.io.File(s"$vdir/v0").exists(),
        "VACUUM must physically drop v0's snapshot dir")
      // history survives the vacuum through the checkpoint — exact rows
      TableSql(s, reg, "DESCRIBE HISTORY cktable")
        .select(col("version").cast("long").as("version"), col("n_rows"))
    },

    // ── q216: deletion vectors — merge-on-read DELETE lifecycle ────────
    // The Delta-DV shape (round 15): on a `deletionVectors = true` table,
    // DELETE records (file, row-position) pairs in one sidecar parquet
    // instead of rewriting files — at 100 TB a small delete costs
    // O(deleted rows), not a rewrite of every multi-GB file it touches.
    // The lifecycle under oracle: two OVERLAPPING DV deletes (second
    // merges the shared files' sidecars; already-deleted rows not
    // re-counted), a MERGE that materializes its hit files (and
    // re-inserts updated keys into the deleted ranges — positions, not
    // keys: upserts land as fresh rows), then OPTIMIZE materializing the
    // rest. Physical claims asserted in-engine (file set UNTOUCHED by
    // both deletes; zero pointers after OPTIMIZE); logical content at
    // v1 / v2 / head replayed set-theoretically by DuckDB.
    "q216_dv_delete" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q216_dv")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("dvt" -> TableSql.TableRef(s"$base/data", vdir,
        "o_orderkey", deletionVectors = true))
      val mx = manifestMaxKey(s, base)
      val (lo1, hi1) = (mx / 8, mx / 4)
      val (lo2, hi2) = (mx / 5, mx / 3) // overlaps [lo2, hi1]
      val m1 = TableSql(s, reg,
        s"DELETE FROM dvt WHERE o_orderkey BETWEEN $lo1 AND $hi1").head() // v1
      val m2 = TableSql(s, reg,
        s"DELETE FROM dvt WHERE o_orderkey BETWEEN $lo2 AND $hi2").head() // v2
      require(m1.getAs[Long]("rows_deleted") > 0 && m2.getAs[Long]("rows_deleted") > 0,
        s"both DV deletes must hit rows, got $m1 / $m2")
      // merge-on-read: both deletes leave the physical file set UNTOUCHED
      val f0 = VersionLog.manifestAt(s, vdir, 0).select("file")
        .collect().map(_.getString(0)).toSet
      val f2 = VersionLog.manifestAt(s, vdir, 2).select("file")
        .collect().map(_.getString(0)).toSet
      require(f0 == f2, "a DV delete must not add or retire data files")
      // MERGE materializes its hit files; updated keys inside the deleted
      // ranges re-insert (position-scoped DVs cannot touch fresh rows)
      mergeUpdates(orders).createOrReplaceTempView("q216_up")
      TableSql(s, reg, "MERGE INTO dvt USING q216_up ON " +
        "dvt.o_orderkey = q216_up.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *") // v3
      TableSql(s, reg, "OPTIMIZE dvt") // v4 — materializes remaining DVs
      val ptrs = VersionLog.manifestAt(s, vdir, VersionLog.head(s, vdir))
      require(!ptrs.columns.contains("dv_file") ||
        ptrs.filter(col("dv_file").isNotNull).isEmpty,
        "OPTIMIZE must materialize every deletion vector at head")
      def agg(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src GROUP BY o_orderpriority""")
      agg("v1", "dvt VERSION AS OF 1")
        .unionByName(agg("v2", "dvt VERSION AS OF 2"))
        .unionByName(agg("head", "dvt"))
    },

    // ── q217: TABLE_CHANGES — the CDF read verb ────────────────────────
    // Delta's `table_changes(t, from[, to])` over the committed feed
    // slots, `_commit_version` attached (round 15): an INSERT (appendOcc
    // now emits op="insert" feed rows — Delta's CDF records appends), a
    // merge-on-read DELETE, and a MERGE, then the whole window read back
    // grouped by (version, op) and replayed set-theoretically by DuckDB.
    // A wrong slot→version attribution, a missed insert feed, a DV
    // delete re-emitting already-deleted rows, or pre/post-image
    // arithmetic drift all hash-mismatch. The default-to-head window
    // must agree with the explicit one (asserted in-engine).
    "q217_table_changes" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q217_tc")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("ct" -> TableSql.TableRef(s"$base/data", vdir,
        "o_orderkey", cdcDir = Some(s"$base/cdc"), deletionVectors = true))
      mergeInserts(orders).createOrReplaceTempView("q217_ins")
      mergeUpdates(orders).createOrReplaceTempView("q217_up")
      val mx = manifestMaxKey(s, base)
      val (lo, hi) = (mx / 10, mx / 6)
      TableSql(s, reg, "INSERT INTO ct SELECT * FROM q217_ins")                  // v1
      TableSql(s, reg, s"DELETE FROM ct WHERE o_orderkey BETWEEN $lo AND $hi")   // v2 (DV)
      TableSql(s, reg, "MERGE INTO ct USING q217_up ON " +
        "ct.o_orderkey = q217_up.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")         // v3
      val full = TableSql(s, reg,
        s"""SELECT _commit_version, op, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM TABLE_CHANGES(ct, 1, 3)
            GROUP BY _commit_version, op""")
      val tail = TableSql(s, reg,
        "SELECT COUNT(*) AS n FROM TABLE_CHANGES(ct, 2)").head().getLong(0)
      val tailFromFull = full.filter(col("_commit_version") >= 2)
        .agg(sum(col("n"))).head().getLong(0)
      require(tail == tailFromFull,
        s"TABLE_CHANGES default-to-head window diverged: $tail vs $tailFromFull")
      full
    },

    // ── q218: UPDATE … SET … WHERE — the row-level mutation verb ──────
    // Between MERGE and DELETE (round 15): in-range rows get the SET
    // assignments, out-of-range rows in overlapping files ride along
    // byte-identical, untouched files never read. Composed with a prior
    // merge-on-read DELETE whose range the update straddles: the update
    // reads DV-applied (deleted rows neither update nor resurrect) and
    // materializes its files' vectors. Head and the pre-update v1 both
    // replay set-theoretically.
    "q218_sql_update" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q218_upd")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("ut" -> TableSql.TableRef(s"$base/data", vdir,
        "o_orderkey", cdcDir = Some(s"$base/cdc"), deletionVectors = true))
      val mx = manifestMaxKey(s, base)
      val (dlo, dhi) = (mx / 2, mx / 2 + mx / 20)
      val (ulo, uhi) = (mx / 4, mx / 2 + mx / 10) // straddles the deleted range
      TableSql(s, reg, s"DELETE FROM ut WHERE o_orderkey BETWEEN $dlo AND $dhi") // v1 (DV)
      val m = TableSql(s, reg,
        s"""UPDATE ut SET o_totalprice = o_totalprice * 2,
                          o_orderpriority = '9-UPDATED'
            WHERE o_orderkey BETWEEN $ulo AND $uhi""").head() // v2
      require(m.getAs[Long]("rows_updated") > 0 && m.getAs[Long]("files_rewritten") > 0,
        s"UPDATE must hit rows and rewrite files, got $m")
      // the update's change feed carries matched pre/post images only
      val ops = graft.io.FileSkipping.readTableChanges(s, s"$base/cdc", 2, 2)
        .groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(ops.keySet == Set("update_preimage", "update_postimage") &&
        ops.values.toSeq.distinct.size == 1,
        s"UPDATE feed must be balanced pre/post images, got $ops")
      def agg(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src GROUP BY o_orderpriority""")
      agg("v1", "ut VERSION AS OF 1").unionByName(agg("head", "ut"))
    },

    // ── q219: OPTIMIZE … CLUSTER BY — Hilbert-curve re-clustering ──────
    // The liquid-clustering verb (round 15): same rewrite-only
    // transaction, bucketing, and multi-dim snapshot stats as ZORDER BY,
    // but the layout key is the Hilbert index (codegen `HilbertIndex` —
    // Skilling's transform; unit-step curve, no Morton seams, so
    // per-file hyper-rectangles come out tighter on average;
    // HilbertSpec pins the curve exhaustively). Same q213 physical
    // claims: pruning sharpens for a slab on EVERY dim and a 2-dim box
    // vs the scattered layout, content oracle-exact at both snapshots.
    "q219_cluster_hilbert" -> { (s, d) =>
      import graft.io.{FileSkipping, TableSql, VersionLog}
      val base = Staging.scratch("q219_hilbert")
      pristineFixture(s, d, base) {
        Tables.orders(s, d).select(
          col("o_orderkey"),
          pmod(Parity.keyHash(col("o_orderkey")), lit(256L)).as("x"),
          pmod(Parity.keyHash(col("o_custkey") * 131), lit(256L)).as("y"),
          pmod(Parity.keyHash(col("o_orderkey") * 509), lit(256L)).as("w"),
          col("o_totalprice"))
          .repartition(16) // SCATTERED: every file spans the whole cube
          .write.mode("overwrite").parquet(s"$base/data")
        FileSkipping.buildManifest(s, s"$base/data", "o_orderkey", Seq("x", "y", "w"))
          .write.mode("overwrite").parquet(s"$base/manifest")
      }
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("hctable" -> TableSql.TableRef(s"$base/data", vdir, "o_orderkey"))
      val m = TableSql(s, reg, "OPTIMIZE hctable CLUSTER BY (x, y, w)").head() // v1
      require(m.getLong(0) == 1 && m.getLong(1) == 16,
        s"expected v1 rewriting 16 files, got $m")
      require(VersionLog.isRewriteOnly(s, vdir, 1),
        "CLUSTER BY commit must be rewrite-only")
      def files(v: Int, box: Seq[(String, Long, Long)]) =
        FileSkipping.prunedReadVersionMulti(s, vdir, v,
          box.map { case (c, lo, hi) => (c, lit(lo), lit(hi)) })
          .select(input_file_name()).distinct().count()
      for (box <- Seq(Seq(("x", 64L, 95L)), Seq(("y", 160L, 191L)),
                      Seq(("w", 0L, 31L)),
                      Seq(("x", 64L, 95L), ("y", 160L, 191L)))) {
        val (pre, post) = (files(0, box), files(1, box))
        require(post < pre,
          s"Hilbert CLUSTER BY did not sharpen pruning for $box: $post vs $pre files")
      }
      def box(v: Int, snap: String) =
        FileSkipping.prunedReadVersionMulti(s, vdir, v,
          Seq(("x", lit(64L), lit(95L)), ("y", lit(160L), lit(191L))))
          .filter(col("x").between(64, 95) && col("y").between(160, 191))
          .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
          .select(lit(snap).as("snap"), col("n"), col("sum_price"))
      box(0, "v0").unionByName(box(1, "head"))
        .unionByName(VersionLog.readVersion(s, vdir, 1)
          .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
          .select(lit("head_all").as("snap"), col("n"), col("sum_price")))
    },

    // ── q220: CHECK constraints through the SQL frontend ───────────────
    // Delta's ADD CONSTRAINT (round 15): validate-then-record, enforce
    // on every later row-adding statement, revision-bumped DROP
    // re-admits. The lifecycle under oracle: constraint lands (full-scan
    // validated), a conforming INSERT and UPDATE land, a violating
    // INSERT and a violating UPDATE are refused LOUDLY with head
    // unmoved (asserted in-engine), DROP, then the previously-refused
    // rows land. Head replays set-theoretically — an enforcement hole
    // (violating rows leaking in) or an over-rejection (conforming
    // mutation refused) both hash-mismatch.
    "q220_sql_constraints" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q220_cons")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("kt" -> TableSql.TableRef(s"$base/data", vdir, "o_orderkey"))
      val mx = manifestMaxKey(s, base)
      val (lo, hi) = (mx / 10, mx / 5)
      TableSql(s, reg,
        "ALTER TABLE kt ADD CONSTRAINT price_pos CHECK (o_totalprice > 0)") // v1
      mergeInserts(orders).createOrReplaceTempView("q220_ins")
      orders.filter(col("o_orderkey") % 997 === 0)
        .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
          lit("0-BAD").as("o_orderpriority"), lit(-1.0).as("o_totalprice"))
        .createOrReplaceTempView("q220_bad")
      TableSql(s, reg, "INSERT INTO kt SELECT * FROM q220_ins") // v2
      // violating INSERT and UPDATE refuse loudly, head unmoved
      val e1 = try { TableSql(s, reg, "INSERT INTO kt SELECT * FROM q220_bad"); None }
        catch { case e: IllegalArgumentException => Some(e) }
      require(e1.exists(_.getMessage.contains("price_pos")),
        s"violating INSERT must name the constraint, got $e1")
      val e2 = try {
        TableSql(s, reg,
          s"UPDATE kt SET o_totalprice = o_totalprice - 1000000 " +
            s"WHERE o_orderkey BETWEEN $lo AND $hi"); None
      } catch { case e: IllegalArgumentException => Some(e) }
      require(e2.exists(_.getMessage.contains("price_pos")),
        s"violating UPDATE must name the constraint, got $e2")
      require(VersionLog.head(s, vdir) == 2,
        "refused mutations must not move head")
      TableSql(s, reg,
        s"UPDATE kt SET o_totalprice = o_totalprice + 10 " +
          s"WHERE o_orderkey BETWEEN $lo AND $hi") // v3 — conforming
      TableSql(s, reg, "ALTER TABLE kt DROP CONSTRAINT price_pos") // v4
      TableSql(s, reg, "INSERT INTO kt SELECT * FROM q220_bad") // v5 — re-admitted
      TableSql(s, reg,
        s"""SELECT o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM kt GROUP BY o_orderpriority""")
    },

    // ── q221: shallow CLONE — zero-copy table clone ────────────────────
    // Delta's clone verb (round 15): one metadata commit creates a new
    // log referencing the source's files in place (file-set identity
    // asserted in-engine — the clone of a 100 TB table costs one
    // snapshot write), then the two tables DIVERGE copy-on-write: the
    // clone's DELETE never touches the source, the source's MERGE never
    // reaches the clone. Both heads replay set-theoretically.
    "q221_shallow_clone" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q221_clone")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val srcReg = Map("srct" -> TableSql.TableRef(s"$base/data", vdir, "o_orderkey"))
      val m = TableSql(s, srcReg, s"CLONE srct TO '$base/clone/versions'").head()
      require(m.getLong(0) == 0L, s"clone must pin source v0, got $m")
      val clRef = TableSql.TableRef(s"$base/clone/data", s"$base/clone/versions", "o_orderkey")
      val reg = srcReg + ("clt" -> clRef)
      require(VersionLog.manifestAt(s, vdir, 0).select("file").collect().map(_.getString(0)).toSet
        == VersionLog.manifestAt(s, s"$base/clone/versions", 0).select("file")
          .collect().map(_.getString(0)).toSet,
        "clone v0 must reference the source's files verbatim (zero copy)")
      val mx = manifestMaxKey(s, base)
      val (lo, hi) = (mx / 6, mx / 3)
      TableSql(s, reg, s"DELETE FROM clt WHERE o_orderkey BETWEEN $lo AND $hi")
      mergeUpdates(orders).createOrReplaceTempView("q221_up")
      TableSql(s, reg, "MERGE INTO srct USING q221_up ON " +
        "srct.o_orderkey = q221_up.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      def agg(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src GROUP BY o_orderpriority""")
      agg("source", "srct").unionByName(agg("clone", "clt"))
    },

    // ── q222: operational metadata verbs ───────────────────────────────
    // DESCRIBE DETAIL (one metadata row, zero data opens — n_rows is the
    // PHYSICAL manifest sum, an upper bound under live DVs), SHOW
    // CONSTRAINTS, and VACUUM … DRY RUN, whose counts must equal the
    // real vacuum's (dry-run truthfulness, asserted in-engine — a dry
    // run that under- or over-reports is operationally worse than none).
    // The replayable projection (physical row count, constraint set)
    // gates through DuckDB; layout-dependent fields (file counts, bytes,
    // DV'd-file count) are asserted in-engine.
    "q222_describe_detail" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q222_detail")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("dt" -> TableSql.TableRef(s"$base/data", vdir,
        "o_orderkey", deletionVectors = true))
      TableSql(s, reg,
        "ALTER TABLE dt ADD CONSTRAINT price_pos CHECK (o_totalprice > 0)") // v1
      val mx = manifestMaxKey(s, base)
      TableSql(s, reg,
        s"DELETE FROM dt WHERE o_orderkey BETWEEN ${mx / 8} AND ${mx / 4}") // v2 (DV)
      val det = TableSql(s, reg, "DESCRIBE DETAIL dt").head()
      require(det.getAs[Long]("version") == 2L &&
        det.getAs[Long]("n_files") == 16L &&
        det.getAs[Long]("n_dv_files") >= 1L &&
        det.getAs[Long]("size_bytes") > 0L &&
        !det.getAs[Boolean]("is_clone"),
        s"DESCRIBE DETAIL physical fields off: $det")
      // dry-run truthfulness: counts must equal the real vacuum's
      val dry = TableSql(s, reg, "VACUUM dt RETAIN 1 VERSIONS DRY RUN").head()
      val real = TableSql(s, reg, "VACUUM dt RETAIN 1 VERSIONS").head()
      require(dry.getAs[Long]("files_would_delete") == real.getAs[Long]("files_deleted") &&
        dry.getAs[Long]("versions_would_drop") == real.getAs[Long]("versions_dropped"),
        s"VACUUM DRY RUN diverged from the real vacuum: $dry vs $real")
      val det2 = TableSql(s, reg, "DESCRIBE DETAIL dt").head()
      require(det2.getAs[Long]("version") == 2L && det2.getAs[Long]("n_files") == 16L,
        s"post-vacuum head must be unchanged: $det2")
      val detail = s.createDataFrame(Seq(("detail", "head",
        det.getAs[Long]("n_rows"), det.getAs[Long]("n_constraints"))))
        .toDF("kind", "name", "n", "m")
      val cons = TableSql(s, reg, "SHOW CONSTRAINTS dt")
        .select(lit("constraint").as("kind"), col("name"),
          col("revision").as("n"), lit(1L).as("m"))
      detail.unionByName(cons)
    },

    // ── q223: ALTER TABLE … DROP COLUMN — logical drop, zero data IO ──
    // The Delta-without-column-mapping shape (round 15): the commit
    // records the schema minus the column; reads at or after project it
    // away (parquet column pruning — the dropped bytes are never
    // decoded), pinned PRE-drop versions keep it (time travel), and
    // post-drop mutations use the narrowed schema. Oracle replays head
    // (2-col world: base ∪ a priority-less insert) and the pre-drop v0
    // (3-col world, per-priority rollup) — a read that resurrected the
    // column, or a drop that leaked into the pinned version,
    // hash-mismatches.
    "q223_drop_column" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q223_dropcol")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("pt" -> TableSql.TableRef(s"$base/data", vdir, "o_orderkey"))
      TableSql(s, reg, "ALTER TABLE pt DROP COLUMN o_orderpriority") // v1
      val headCols = TableSql(s, reg, "SELECT * FROM pt").columns
      require(headCols.toSeq == Seq("o_orderkey", "o_totalprice"),
        s"dropped column must vanish from head reads, got ${headCols.mkString(",")}")
      // post-drop mutations speak the narrowed schema
      orders.filter(col("o_orderkey") % 409 === 0)
        .select((col("o_orderkey") + 300000000L).as("o_orderkey"),
          (col("o_totalprice") + 7).as("o_totalprice"))
        .createOrReplaceTempView("q223_ins")
      TableSql(s, reg, "INSERT INTO pt SELECT * FROM q223_ins") // v2
      val head = TableSql(s, reg,
        s"""SELECT 'head' AS snap, 'ALL' AS o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM pt""")
      val v0 = TableSql(s, reg,
        s"""SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM pt VERSION AS OF 0 GROUP BY o_orderpriority""")
      head.unionByName(v0)
    },

    // ── q224: idempotent writers — txnAppId / txnVersion ───────────────
    // Delta's SetTransaction shape (round 15): a mutation tagged
    // (appId, txnVersion) at or below the log's per-app watermark is a
    // NO-OP returning success — the crash-retried batch job's
    // exactly-once. The lifecycle: a tagged MERGE applies; its replay
    // (carrying a DIFFERENT, corrupting delta — exactly what a buggy
    // retry would do) is a no-op; a tagged INSERT applies; ITS replay is
    // a no-op; head is asserted at exactly two commits. The oracle
    // replays the once-applied content — any double-apply (or a replay
    // that leaked the corrupted delta) hash-mismatches.
    "q224_idempotent_txn" -> { (s, d) =>
      import graft.io.{FileSkipping, VersionLog}
      val base = Staging.scratch("q224_txn")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val v1 = FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
        mergeUpdates(orders), "t1", txn = Some(("etl", 1L)))
      // the buggy retry: same tag, price zeroed — MUST NOT apply
      val v1b = FileSkipping.mergeKeyedOcc(s, s"$base/data", vdir, "o_orderkey",
        mergeUpdates(orders).withColumn("o_totalprice", lit(0.0)), "t1r",
        txn = Some(("etl", 1L)))
      val v2 = FileSkipping.appendOcc(mergeInserts(orders), s"$base/data", vdir,
        "o_orderkey", "t2", txn = Some(("etl", 2L)))
      val v2b = FileSkipping.appendOcc(mergeInserts(orders), s"$base/data", vdir,
        "o_orderkey", "t2r", txn = Some(("etl", 2L)))
      require(v1 == 1 && v1b == 1 && v2 == 2 && v2b == 2 &&
        VersionLog.head(s, vdir) == 2,
        s"idempotent replays must not commit: $v1/$v1b/$v2/$v2b head=${VersionLog.head(s, vdir)}")
      VersionLog.readVersion(s, vdir, 2)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // ── q225: INSERT OVERWRITE … WHERE — atomic slice replacement ──────
    // Delta's replaceWhere, the nightly-backfill verb: ONE OCC commit
    // retires the key slice and lands its recomputed replacement (here:
    // every third key survives the recompute, re-priced +1 and
    // re-prioritized) — a reader pinned to ANY version sees whole-old or
    // whole-new, never the sliceless intermediate a DELETE+INSERT pair
    // exposes. Physical claims asserted in-engine: fully-covered files
    // retire unread, boundary files rewrite, the stray-row contract is
    // loud, and the commit's change feed carries exactly |slice| deletes
    // + |replacement| inserts. The oracle recomputes head set-
    // theoretically (out-of-range ∪ recomputed slice) and replays v0,
    // so a lost survivor, a resurrected slice row, or a leaked stray
    // hash-mismatches.
    "q225_replace_where" -> { (s, d) =>
      import graft.io.{FileSkipping, TableSql, VersionLog}
      val base = Staging.scratch("q225_rw")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("rt" -> TableSql.TableRef(s"$base/data", vdir,
        "o_orderkey", cdcDir = Some(s"$base/cdc")))
      val mx = manifestMaxKey(s, base)
      val (lo, hi) = (mx / 3, mx / 3 + mx / 10)
      val sliceN = orders.filter(col("o_orderkey").between(lo, hi)).count()
      val repl = orders.filter(col("o_orderkey").between(lo, hi) &&
          col("o_orderkey") % 3 === 0)
        .withColumn("o_orderpriority", lit("9-REPLACED"))
        .withColumn("o_totalprice", col("o_totalprice") + 1)
      repl.createOrReplaceTempView("q225_src")
      val m = TableSql(s, reg,
        s"""INSERT OVERWRITE rt WHERE o_orderkey BETWEEN $lo AND $hi
            SELECT * FROM q225_src""").head() // v1
      require(m.getAs[Long]("committed_version") == 1L &&
        m.getAs[Long]("files_retired") + m.getAs[Long]("files_rewritten") > 0 &&
        m.getAs[Long]("files_written") > 0,
        s"replaceWhere must retire/rewrite the slice and write replacements, got $m")
      // the feed is exactly the swap: |slice| deletes + |replacement| inserts
      val ops = FileSkipping.readTableChanges(s, s"$base/cdc", 1, 1)
        .groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(ops == Map("delete" -> sliceN, "insert" -> repl.count()),
        s"replaceWhere feed must be the exact swap, got $ops (slice=$sliceN)")
      // the stray-row contract is loud and leaves head unmoved
      val stray = intercept_[IllegalArgumentException] {
        orders.limit(5).withColumn("o_orderkey", col("o_orderkey") + mx * 2)
          .createOrReplaceTempView("q225_stray")
        TableSql(s, reg,
          s"""INSERT OVERWRITE rt WHERE o_orderkey BETWEEN $lo AND $hi
              SELECT * FROM q225_stray""")
      }
      require(stray.getMessage.contains("outside the replaced range") &&
        VersionLog.head(s, vdir) == 1,
        s"stray replacement must reject without committing: ${stray.getMessage}")
      def agg(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src GROUP BY o_orderpriority""")
      agg("v0", "rt VERSION AS OF 0").unionByName(agg("head", "rt"))
    },

    // ── q226: TBLPROPERTIES — versioned table metadata + property-driven
    // maintenance ──────────────────────────────────────────────────────
    // Delta's TBLPROPERTIES surface: SET merges (new wins) as a
    // metadata-only commit, the record is carried forward by every
    // commit and versioned like the schema record (SHOW under time
    // travel reads the map that governed the pinned version), UNSET is
    // loud on a never-set key, CLONE copies the map. The operational
    // point: `VACUUM rt` with no RETAIN clause reads the table's OWN
    // 'graft.retain.versions' property — retention policy travels WITH
    // the table, not in every maintenance script. The emitted frame is
    // fully deterministic (property strings, vacuum arithmetic, and the
    // post-delete content counts), so the oracle replays all three
    // facets exactly.
    "q226_tblproperties" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q226_props")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("pt" -> TableSql.TableRef(s"$base/data", vdir, "o_orderkey"))
      TableSql(s, reg,
        """ALTER TABLE pt SET TBLPROPERTIES
           ('pipeline' = 'trainprep', 'graft.retain.versions' = '3')""") // v1
      val mx = manifestMaxKey(s, base)
      val (lo, hi) = (mx / 5, mx / 5 + mx / 20)
      TableSql(s, reg, s"DELETE FROM pt WHERE o_orderkey BETWEEN $lo AND $hi") // v2
      TableSql(s, reg,
        "ALTER TABLE pt SET TBLPROPERTIES ('pipeline' = 'trainprep-v2')") // v3
      // time travel: v1's record is the ORIGINAL map (the SET at v3
      // must not rewrite history)
      require(VersionLog.propertiesAt(s, vdir, 1)("pipeline") == "trainprep" &&
        VersionLog.propertiesAt(s, vdir, 0).isEmpty,
        "properties must version with the commits that set them")
      val vac = TableSql(s, reg, "VACUUM pt").head() // retention from the property
      require(vac.getAs[Long]("retained_versions") == 3L &&
        vac.getAs[Long]("versions_dropped") == 1L,
        s"property-driven vacuum must retain 3 and drop v0, got $vac")
      val props = TableSql(s, reg, "SHOW TBLPROPERTIES pt")
        .withColumn("kind", lit("property"))
        .select(col("kind"), col("key").as("name"), col("value").as("sval"),
          lit(VersionLog.head(s, vdir).toLong).as("n"))
      val vacRow = s.createDataFrame(Seq(
        ("vacuum", "retained", vac.getAs[Long]("retained_versions").toString,
          vac.getAs[Long]("versions_dropped"))))
        .toDF("kind", "name", "sval", "n")
      val content = TableSql(s, reg,
        """SELECT 'content' AS kind, o_orderpriority AS name, '' AS sval,
                  COUNT(*) AS n FROM pt GROUP BY o_orderpriority""")
      props.unionByName(vacRow).unionByName(content)
    },

    // ── q227: general MERGE arms — the full Delta MERGE INTO surface ──
    // One statement, four arms, first-true-wins: matched rows DELETE
    // when the source price crosses a threshold else UPDATE with
    // explicit assignments (source-qualified RHS), unmatched source rows
    // INSERT conditionally, and NOT MATCHED BY SOURCE prunes stale
    // target rows — the SCD-sync shape the plain upsert cannot express.
    // Scale note pinned in-engine: the NMBS arm forces full-table
    // victims (Delta's documented cost for that clause); without it the
    // merge stays range-hit-bounded. The oracle replays all four arms
    // set-theoretically over the source tables, so a mis-ordered arm, a
    // leaked stale row, or a wrong-side alias rewrite hash-mismatches.
    "q227_merge_arms" -> { (s, d) =>
      import graft.io.{TableSql, VersionLog}
      val base = Staging.scratch("q227_arms")
      val orders = stagedOrdersCopy(s, d, base)
      val vdir = s"$base/versions"
      VersionLog.commit(s, vdir, s"$base/manifest") // v0
      val reg = Map("st" -> TableSql.TableRef(s"$base/data", vdir,
        "o_orderkey", cdcDir = Some(s"$base/cdc")))
      orders.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderpriority", lit("9-SRC"))
        .withColumn("o_totalprice", col("o_totalprice") + 10)
        .unionByName(orders.filter(col("o_orderkey") % 601 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("9-SRC").as("o_orderpriority"),
            (col("o_totalprice") + 5).as("o_totalprice")))
        .createOrReplaceTempView("q227_src")
      val m = TableSql(s, reg,
        """MERGE INTO st USING q227_src ON st.o_orderkey = q227_src.o_orderkey
           WHEN MATCHED AND q227_src.o_totalprice > 100000 THEN DELETE
           WHEN MATCHED THEN UPDATE SET
             o_totalprice = q227_src.o_totalprice, o_orderpriority = '9-SYNCED'
           WHEN NOT MATCHED AND q227_src.o_orderkey % 2 = 0 THEN INSERT *
           WHEN NOT MATCHED BY SOURCE AND st.o_orderkey % 31 = 0 THEN DELETE""")
        .head() // v1
      require(m.getAs[Long]("rows_updated") > 0 && m.getAs[Long]("rows_deleted") > 0 &&
        m.getAs[Long]("rows_inserted") > 0,
        s"all four arms must fire at every SF, got $m")
      // the feed carries the exact op mix the arms produced
      val ops = graft.io.FileSkipping.readTableChanges(s, s"$base/cdc", 1, 1)
        .groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(ops("update_preimage") == ops("update_postimage") &&
        ops("update_preimage") == m.getAs[Long]("rows_updated") &&
        ops("delete") == m.getAs[Long]("rows_deleted") &&
        ops("insert") == m.getAs[Long]("rows_inserted"),
        s"feed must mirror the arm counts, got $ops vs $m")
      def agg(snap: String, src: String) = TableSql(s, reg,
        s"""SELECT '$snap' AS snap, o_orderpriority, COUNT(*) AS n,
                   ${Sql.dsum("o_totalprice")} AS sum_price
            FROM $src GROUP BY o_orderpriority""")
      agg("v0", "st VERSION AS OF 0").unionByName(agg("head", "st"))
    }
  )

  /** Spec-style intercept for in-query contract assertions (the query
    * packs run outside scalatest). Returns the thrown exception; throws
    * when the body does NOT throw. */
  private def intercept_[T <: Throwable](body: => Any)(
      implicit ct: scala.reflect.ClassTag[T]): T =
    try {
      body
      throw new IllegalStateException(
        s"expected ${ct.runtimeClass.getSimpleName} but nothing was thrown")
    } catch {
      case t: Throwable if ct.runtimeClass.isInstance(t) => t.asInstanceOf[T]
    }

  override def oracles: Map[String, String] = Map(

    "q164_manifest_pruned_read" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1998-03-01'
            AND o_orderdate <= TIMESTAMP '1998-04-30'
          GROUP BY 1""",

    // q179: the survivor table must equal orders minus the deleted range
    // exactly — same inclusive predicate the engine's deleteRangeOcc applied
    "q179_manifest_range_delete" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS y, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders
          WHERE NOT (o_orderdate >= TIMESTAMP '1995-01-01'
                     AND o_orderdate <= TIMESTAMP '1995-12-31')
          GROUP BY 1""",

    // q181: the merged table recomputed set-theoretically — unmatched
    // base rows ∪ updated rows ∪ inserted rows, same key arithmetic
    "q181_manifest_merge" ->
      s"""WITH up AS (SELECT o_orderkey, '9-MERGED' AS o_orderpriority,
                        o_totalprice * 2 AS o_totalprice
                      FROM orders WHERE o_orderkey % 97 = 0),
          ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                    '9-MERGED' AS o_orderpriority,
                    o_totalprice + 5 AS o_totalprice
                  FROM orders WHERE o_orderkey % 601 = 0),
          keep AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                   FROM orders WHERE o_orderkey % 97 <> 0),
          merged AS (SELECT * FROM keep UNION ALL SELECT * FROM up
                     UNION ALL SELECT * FROM ins)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM merged GROUP BY 1""",

    // q182: compaction is a pure layout change — the table must equal
    // the source exactly, every row preserved once
    "q182_manifest_compaction" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS y, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1""",

    // q183: bloom skipping must be invisible to the answer — the plain
    // point-lookup aggregate over the source table
    "q183_bloom_point_read" ->
      s"""SELECT l_orderkey, COUNT(*) AS n,
                 ${Sql.dsum("l_extendedprice")} AS sum_price
          FROM lineitem WHERE l_orderkey IN (11, 4177, 9973)
          GROUP BY 1""",

    // q184: crash + replay + manifest handoff + compaction must be
    // invisible — the plain first-week aggregate over the source
    "q184_stream_ingest_table" ->
      s"""WITH e AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS t FROM events),
          b AS (SELECT date_trunc('day', MIN(t)) AS t0,
                       date_trunc('day', MIN(t)) + INTERVAL 7 DAY AS t1 FROM e)
          SELECT event_type, COUNT(*) AS n, ${Sql.dsum("value")} AS sum_value
          FROM e, b WHERE t >= b.t0 AND t < b.t1
          GROUP BY 1""",

    // q185: v0 = the untouched source; head = merge then range delete,
    // recomputed set-theoretically
    "q185_version_travel" ->
      s"""WITH up AS (SELECT o_orderkey, '9-MERGED' AS o_orderpriority,
                        o_totalprice * 2 AS o_totalprice
                      FROM orders WHERE o_orderkey % 97 = 0),
          keep AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                   FROM orders WHERE o_orderkey % 97 <> 0),
          merged AS (SELECT * FROM keep UNION ALL SELECT * FROM up),
          headt AS (SELECT * FROM merged
                    WHERE o_orderkey NOT BETWEEN 1 AND 3000)
          SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2
          UNION ALL
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM headt GROUP BY 1, 2""",

    // q186: the three change classes recomputed from the source — pre
    // images at original values, post images doubled, inserts shifted
    "q186_merge_cdc_feed" ->
      s"""WITH cdc AS (
            SELECT 'update_preimage' AS op, o_totalprice
            FROM orders WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT 'update_postimage' AS op, o_totalprice * 2 AS o_totalprice
            FROM orders WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT 'insert' AS op, o_totalprice + 5 AS o_totalprice
            FROM orders WHERE o_orderkey % 601 = 0)
          SELECT op, COUNT(*) AS n, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM cdc GROUP BY 1""",

    // q187: 2D file skipping must be invisible — the plain box aggregate
    // over the same keyHash-derived coordinates
    "q187_zorder_multidim_skip" ->
      s"""SELECT COUNT(*) AS n, ${Sql.dsum("l_extendedprice")} AS sum_price
          FROM lineitem
          WHERE (${Sql.keyHash("l_orderkey")} % 256) BETWEEN 64 AND 95
            AND (${Sql.keyHash("(l_partkey * 131)")} % 256) BETWEEN 160 AND 191""",

    // q188: file pruning must be invisible — the plain dimension join
    // with the same deterministic date sample
    "q188_dynamic_file_pruning" ->
      s"""WITH dd AS (SELECT o_orderdate FROM (
                SELECT o_orderdate, ROW_NUMBER() OVER (ORDER BY o_orderdate) AS rn
                FROM (SELECT DISTINCT o_orderdate FROM orders))
              WHERE rn % 601 = 1)
          SELECT o_orderpriority, COUNT(*) AS n, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders JOIN dd USING (o_orderdate)
          GROUP BY 1""",

    // q189: the delete feed recomputed from the source range
    "q189_delete_cdc_feed" ->
      s"""SELECT 'delete' AS op, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders WHERE o_orderkey BETWEEN 1000 AND 4000
          GROUP BY 1, 2""",

    // q190: the maintained view must equal a FULL REBUILD of the merged
    // table — recomputed set-theoretically, same arithmetic as q181
    "q190_cdc_view_maintenance" ->
      s"""WITH up AS (SELECT o_orderkey, '9-MERGED' AS o_orderpriority,
                        o_totalprice * 2 AS o_totalprice
                      FROM orders WHERE o_orderkey % 97 = 0),
          ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                    '9-MERGED' AS o_orderpriority,
                    o_totalprice + 5 AS o_totalprice
                  FROM orders WHERE o_orderkey % 601 = 0),
          keep AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                   FROM orders WHERE o_orderkey % 97 <> 0),
          merged AS (SELECT * FROM keep UNION ALL SELECT * FROM up
                     UNION ALL SELECT * FROM ins)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM merged GROUP BY 1""",

    // q192: both band-disjoint OCC merges applied to the source — under
    // snapshot-pinned rebase that equals any commit order; head_version
    // = 2 (v0 bootstrap + two transactional commits) proves B rebased
    "q192_occ_concurrent_merge" ->
      s"""WITH k AS (SELECT MAX(o_orderkey) // 3 AS lo3,
                            2 * (MAX(o_orderkey) // 3) AS hi3 FROM orders),
          m AS (SELECT CASE
                    WHEN o_orderkey <= k.lo3 AND o_orderkey % 97 = 0 THEN '9-OCC-A'
                    WHEN o_orderkey >= k.hi3 AND o_orderkey % 89 = 0 THEN '9-OCC-B'
                    ELSE o_orderpriority END AS o_orderpriority,
                  CASE
                    WHEN o_orderkey <= k.lo3 AND o_orderkey % 97 = 0 THEN o_totalprice * 2
                    WHEN o_orderkey >= k.hi3 AND o_orderkey % 89 = 0 THEN o_totalprice * 3
                    ELSE o_totalprice END AS o_totalprice
                FROM orders, k)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 CAST(2 AS BIGINT) AS head_version
          FROM m GROUP BY 1""",

    // q193: the merge recomputed set-theoretically (updates confined to
    // the low half + shifted inserts); the racing rewrite-only compaction
    // must be INVISIBLE — head_version = 2 proves it rebased over v1
    "q193_occ_compaction_merge" ->
      s"""WITH k AS (SELECT MAX(o_orderkey) // 2 AS split FROM orders),
          up AS (SELECT o_orderkey, '9-OCC-M' AS o_orderpriority,
                   o_totalprice * 2 AS o_totalprice
                 FROM orders, k WHERE o_orderkey <= k.split AND o_orderkey % 97 = 0),
          ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                    '9-MERGED' AS o_orderpriority,
                    o_totalprice + 5 AS o_totalprice
                  FROM orders WHERE o_orderkey % 601 = 0),
          keep AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                   FROM orders, k
                   WHERE NOT (o_orderkey <= k.split AND o_orderkey % 97 = 0)),
          merged AS (SELECT * FROM keep UNION ALL SELECT * FROM up
                     UNION ALL SELECT * FROM ins)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 CAST(2 AS BIGINT) AS head_version
          FROM merged GROUP BY 1""",

    // q194: the pinned b0 snapshot == staged file 1 (pre-cutoff rows with
    // event_id % 10 != 0 — the late-arrival replay's construction); the
    // head == all events. Crash/replay and later batches must be
    // invisible to the pinned reader.
    "q194_versioned_stream_ingest" ->
      s"""WITH e AS (SELECT event_id, event_type, value,
                       CAST(ts AS TIMESTAMP) AS t FROM events),
          b AS (SELECT date_trunc('day', MIN(t)) + INTERVAL 7 DAY AS t1,
                       date_trunc('day', MIN(t)) + INTERVAL 14 DAY AS t2 FROM e)
          SELECT 'b0' AS snap, event_type, COUNT(*) AS n,
                 ${Sql.dsum("value")} AS sum_value
          FROM e, b WHERE t < b.t1 AND event_id % 10 <> 0
          GROUP BY 1, 2
          UNION ALL
          SELECT 'head' AS snap, event_type, COUNT(*) AS n,
                 ${Sql.dsum("value")} AS sum_value
          FROM e, b WHERE t < b.t2 GROUP BY 1, 2""",

    // q198: both band-disjoint OCC deletes applied to the source — under
    // snapshot-pinned rebase that equals any commit order; head_version
    // = 2 proves B rebased
    "q198_occ_range_delete" ->
      s"""WITH k AS (SELECT MAX(o_orderkey) AS m FROM orders)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 CAST(2 AS BIGINT) AS head_version
          FROM orders, k
          WHERE NOT (o_orderkey >= k.m // 10 AND o_orderkey <= 2 * (k.m // 10))
            AND NOT (o_orderkey >= 7 * (k.m // 10) AND o_orderkey <= 8 * (k.m // 10))
          GROUP BY 1""",

    // q199: the maintained view must equal a full rebuild of the
    // TWICE-merged table — replacement semantics make the CASE
    // arithmetic order-free (%89 rows end at p*3/'8-M2' regardless of
    // whether %97 doubled them first)
    "q199_stream_cdc_view" ->
      s"""WITH m AS (
            SELECT CASE WHEN o_orderkey % 89 = 0 THEN '8-M2'
                        WHEN o_orderkey % 97 = 0 THEN '9-MERGED'
                        ELSE o_orderpriority END AS o_orderpriority,
                   CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice * 3
                        WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END AS o_totalprice
            FROM orders
            UNION ALL
            SELECT '9-MERGED' AS o_orderpriority,
                   o_totalprice + 5 AS o_totalprice
            FROM orders WHERE o_orderkey % 601 = 0)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM m GROUP BY 1""",

    // q195/q196/q197: the SQL-string path must be observationally
    // identical to its Scala twin — same oracles as q181/q179/q185
    "q195_sql_merge" ->
      s"""WITH up AS (SELECT o_orderkey, '9-MERGED' AS o_orderpriority,
                        o_totalprice * 2 AS o_totalprice
                      FROM orders WHERE o_orderkey % 97 = 0),
          ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                    '9-MERGED' AS o_orderpriority,
                    o_totalprice + 5 AS o_totalprice
                  FROM orders WHERE o_orderkey % 601 = 0),
          keep AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                   FROM orders WHERE o_orderkey % 97 <> 0),
          merged AS (SELECT * FROM keep UNION ALL SELECT * FROM up
                     UNION ALL SELECT * FROM ins)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM merged GROUP BY 1""",

    "q196_sql_delete_vacuum" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS y, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders
          WHERE NOT (o_orderdate >= TIMESTAMP '1995-01-01'
                     AND o_orderdate <= TIMESTAMP '1995-12-31')
          GROUP BY 1""",

    "q197_sql_time_travel" ->
      s"""WITH up AS (SELECT o_orderkey, '9-MERGED' AS o_orderpriority,
                        o_totalprice * 2 AS o_totalprice
                      FROM orders WHERE o_orderkey % 97 = 0),
          keep AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                   FROM orders WHERE o_orderkey % 97 <> 0),
          merged AS (SELECT * FROM keep UNION ALL SELECT * FROM up),
          headt AS (SELECT * FROM merged
                    WHERE o_orderkey NOT BETWEEN 1 AND 3000)
          SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2
          UNION ALL
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM headt GROUP BY 1, 2""",

    // q200/q201: the OCC SQL path must be observationally identical to
    // its Scala twin (q181's / q179's oracles) AND prove the
    // transactional path ran: head_version = 1 is v0 bootstrap + exactly
    // one rebase commit
    "q200_sql_occ_merge" ->
      s"""WITH up AS (SELECT o_orderkey, '9-MERGED' AS o_orderpriority,
                        o_totalprice * 2 AS o_totalprice
                      FROM orders WHERE o_orderkey % 97 = 0),
          ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                    '9-MERGED' AS o_orderpriority,
                    o_totalprice + 5 AS o_totalprice
                  FROM orders WHERE o_orderkey % 601 = 0),
          keep AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                   FROM orders WHERE o_orderkey % 97 <> 0),
          merged AS (SELECT * FROM keep UNION ALL SELECT * FROM up
                     UNION ALL SELECT * FROM ins)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 CAST(1 AS BIGINT) AS head_version
          FROM merged GROUP BY 1""",

    "q201_sql_occ_delete" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS y, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 CAST(1 AS BIGINT) AS head_version
          FROM orders
          WHERE NOT (o_orderdate >= TIMESTAMP '1995-01-01'
                     AND o_orderdate <= TIMESTAMP '1995-12-31')
          GROUP BY 1""",

    // q203: the feed-rebuilt table must equal both band-disjoint merges
    // applied to the source (q192's arithmetic, F-tagged) — under OCC
    // rebase that equals any commit order
    "q203_occ_feed_replay" ->
      s"""WITH k AS (SELECT MAX(o_orderkey) // 3 AS lo3,
                            2 * (MAX(o_orderkey) // 3) AS hi3 FROM orders),
          m AS (SELECT CASE
                    WHEN o_orderkey <= k.lo3 AND o_orderkey % 97 = 0 THEN '9-F-A'
                    WHEN o_orderkey >= k.hi3 AND o_orderkey % 89 = 0 THEN '9-F-B'
                    ELSE o_orderpriority END AS o_orderpriority,
                  CASE
                    WHEN o_orderkey <= k.lo3 AND o_orderkey % 97 = 0 THEN o_totalprice * 2
                    WHEN o_orderkey >= k.hi3 AND o_orderkey % 89 = 0 THEN o_totalprice * 3
                    ELSE o_totalprice END AS o_totalprice
                FROM orders, k)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM m GROUP BY 1""",

    // q204: both snapshots recomputed set-theoretically — the head with
    // the evolved column (null-filled to 0 outside the delta, price/2 —
    // a binary-exact halving — inside it), the pinned v0 with the
    // literal 0 its pre-evolution schema forces
    "q204_occ_schema_evolution" ->
      s"""WITH up AS (SELECT o_orderkey, '9-MERGED' AS o_orderpriority,
                        o_totalprice * 2 AS o_totalprice,
                        o_totalprice * 2 / 2 AS o_bonus
                      FROM orders WHERE o_orderkey % 97 = 0),
          keep AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
                     CAST(NULL AS DOUBLE) AS o_bonus
                   FROM orders WHERE o_orderkey % 97 <> 0),
          m AS (SELECT * FROM keep UNION ALL SELECT * FROM up)
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 ${Sql.dsum("COALESCE(o_bonus, 0)")} AS sum_bonus
          FROM m GROUP BY 1, 2
          UNION ALL
          SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 ${Sql.dsum("0")} AS sum_bonus
          FROM orders GROUP BY 1, 2""",

    // q205: the cursor-maintained view must equal a full rebuild of the
    // THRICE-merged table — replacement semantics make the last-applied
    // merge win for keys matched by several (deltas derive from the
    // source, so the final value is the last delta's, computed from the
    // original row)
    "q205_occ_feed_incremental" ->
      s"""WITH m AS (SELECT CASE
                    WHEN o_orderkey % 101 = 0 THEN '9-I-C'
                    WHEN o_orderkey % 89 = 0 THEN '9-I-B'
                    WHEN o_orderkey % 97 = 0 THEN '9-I-A'
                    ELSE o_orderpriority END AS o_orderpriority,
                  CASE
                    WHEN o_orderkey % 101 = 0 THEN o_totalprice + 7
                    WHEN o_orderkey % 89 = 0 THEN o_totalprice * 3
                    WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
                FROM orders)
          SELECT o_orderpriority, COUNT(*) AS n, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM m GROUP BY 1""",

    // q206: base ∪ inserted on both the plain and the OCC side, with the
    // OCC side's committed version (v0 bootstrap + one INSERT = 1)
    "q206_sql_insert" ->
      s"""WITH ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                         '9-MERGED' AS o_orderpriority,
                         o_totalprice + 5 AS o_totalprice
                       FROM orders WHERE o_orderkey % 601 = 0),
          m AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
                UNION ALL SELECT * FROM ins)
          SELECT side, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 CAST(1 AS BIGINT) AS occ_version
          FROM m, (SELECT 'plain' AS side UNION ALL SELECT 'occ') sides
          GROUP BY 1, 2""",

    // q207: everything the 3-file replay delivers (ts < t0+14d), by
    // event type — any row duplicated by the crash replay, lost by the
    // racing compaction, or double-committed by the rebase breaks it
    "q207_occ_stream_ingest" ->
      s"""WITH e AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS t FROM events),
          b AS (SELECT date_trunc('day', MIN(t)) + INTERVAL 14 DAY AS t2 FROM e)
          SELECT event_type, COUNT(*) AS n, ${Sql.dsum("value")} AS sum_value
          FROM e, b WHERE t < b.t2 GROUP BY 1""",

    // q208: head = base ∪ old-shape inserts (null bonus) ∪ new-shape
    // inserts (price/4 bonus); v0 = the untouched base with the literal
    // zeros the pre-ALTER schema forces
    "q208_sql_alter_add_column" ->
      s"""WITH old_ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                 '9-MERGED' AS o_orderpriority,
                 o_totalprice + 5 AS o_totalprice,
                 CAST(NULL AS DOUBLE) AS o_bonus
               FROM orders WHERE o_orderkey % 601 = 0),
          new_ins AS (SELECT o_orderkey + 200000000 AS o_orderkey,
                 '9-BONUS' AS o_orderpriority,
                 o_totalprice,
                 o_totalprice / 4 AS o_bonus
               FROM orders WHERE o_orderkey % 997 = 0),
          m AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
                       CAST(NULL AS DOUBLE) AS o_bonus FROM orders
                UNION ALL SELECT * FROM old_ins
                UNION ALL SELECT * FROM new_ins)
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 COUNT(o_bonus) AS n_bonus,
                 ${Sql.dsum("COALESCE(o_bonus, 0)")} AS sum_bonus
          FROM m GROUP BY 1, 2
          UNION ALL
          SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price,
                 CAST(0 AS BIGINT) AS n_bonus, ${Sql.dsum("0")} AS sum_bonus
          FROM orders GROUP BY 1, 2""",

    // q209: compaction is content-preserving at BOTH snapshots — the head
    // (compacted files) and the pre-OPTIMIZE pin must equal the source
    "q209_sql_optimize" ->
      s"""SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2
          UNION ALL
          SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2""",

    // q210: v1 = orders ∪ inserts; v2 = v1 minus the deleted key range;
    // head = v1 exactly (the restore) — all three recomputed
    // set-theoretically from the source
    "q210_sql_restore" ->
      s"""WITH ins AS (SELECT o_orderkey + 100000000 AS o_orderkey,
                 '9-MERGED' AS o_orderpriority,
                 o_totalprice + 5 AS o_totalprice
               FROM orders WHERE o_orderkey % 601 = 0),
          v1 AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
                 UNION ALL SELECT * FROM ins),
          v2 AS (SELECT * FROM v1
                 WHERE NOT (o_orderkey BETWEEN 100 AND 50000))
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM v1 GROUP BY 1, 2
          UNION ALL
          SELECT 'v1' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM v1 GROUP BY 1, 2
          UNION ALL
          SELECT 'v2' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM v2 GROUP BY 1, 2""",

    // q211: the scattered v0 box, the z-ordered head box, and the
    // full-table head rollup all recomputed from the source — layout
    // changes must be invisible to every one of them
    "q211_sql_zorder" ->
      s"""WITH pts AS (SELECT o_orderkey,
                 (${Sql.keyHash("o_orderkey")} % 256) AS x,
                 (${Sql.keyHash("(o_custkey * 131)")} % 256) AS y,
                 o_totalprice
               FROM orders),
          inbox AS (SELECT * FROM pts
                    WHERE x BETWEEN 64 AND 95 AND y BETWEEN 160 AND 191)
          SELECT 'v0' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM inbox
          UNION ALL
          SELECT 'head' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM inbox
          UNION ALL
          SELECT 'head_all' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM pts""",

    // q212: the four instant-resolved snapshots recomputed
    // set-theoretically — pre_v1 and head resolve to the even-key file
    // set (v0/v2), at_v1 (boundary: AS OF exactly the commit stamp) and
    // mid both resolve to v1 = all keys
    "q212_timestamp_travel" ->
      s"""WITH ev AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                      FROM orders WHERE o_orderkey % 2 = 0)
          SELECT 'pre_v1' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM ev GROUP BY 1, 2
          UNION ALL
          SELECT 'at_v1' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2
          UNION ALL
          SELECT 'mid' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2
          UNION ALL
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM ev GROUP BY 1, 2""",

    // q213: the 2-dim box at both layouts, the third-dim slab, and the
    // full-table head rollup all recomputed from the source — the 3-dim
    // re-clustering must be invisible to every one of them
    "q213_zorder_3d" ->
      s"""WITH pts AS (SELECT o_orderkey,
                 (${Sql.keyHash("o_orderkey")} % 256) AS x,
                 (${Sql.keyHash("(o_custkey * 131)")} % 256) AS y,
                 (${Sql.keyHash("(o_orderkey * 509)")} % 256) AS w,
                 o_totalprice
               FROM orders),
          inbox AS (SELECT * FROM pts
                    WHERE x BETWEEN 64 AND 95 AND y BETWEEN 160 AND 191)
          SELECT 'v0' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM inbox
          UNION ALL
          SELECT 'head' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM inbox
          UNION ALL
          SELECT 'w_slab' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM pts WHERE w BETWEEN 0 AND 31
          UNION ALL
          SELECT 'head_all' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM pts""",

    // q214: scoped compaction is content-preserving at BOTH snapshots
    // (head and the pre-compaction v0) and the in-range slice replays
    // exactly — the bounds mirror the fixture's keyMax/4 arithmetic
    "q214_optimize_where" ->
      s"""WITH bounds AS (SELECT MAX(o_orderkey) // 4 AS hi FROM orders)
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2
          UNION ALL
          SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2
          UNION ALL
          SELECT 'head_box' AS snap, 'inrange' AS o_orderpriority,
                 COUNT(*) AS n, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders WHERE o_orderkey BETWEEN 1 AND (SELECT hi FROM bounds)""",

    // q215: per-version row counts replayed set-theoretically — v0 = the
    // source, v1 = source ∪ inserts, v2 = v1 minus the deleted range;
    // the checkpointed-then-vacuumed v0/v1 must still report exactly
    "q215_sql_checkpoint" ->
      s"""WITH n0 AS (SELECT COUNT(*) AS n FROM orders),
          ni AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 601 = 0),
          nd AS (SELECT COUNT(*) AS n FROM (
                   SELECT o_orderkey FROM orders
                   UNION ALL
                   SELECT o_orderkey + 100000000 FROM orders WHERE o_orderkey % 601 = 0)
                 WHERE o_orderkey BETWEEN 100 AND 50000)
          SELECT CAST(0 AS BIGINT) AS version, (SELECT n FROM n0) AS n_rows
          UNION ALL
          SELECT CAST(1 AS BIGINT), (SELECT n FROM n0) + (SELECT n FROM ni)
          UNION ALL
          SELECT CAST(2 AS BIGINT),
                 (SELECT n FROM n0) + (SELECT n FROM ni) - (SELECT n FROM nd)""",

    // q216: all three snapshots replayed set-theoretically — v1 = orders
    // minus the first range, v2 = minus both ranges, head = v2 upserted
    // with the %97 delta (updates in place, re-inserts inside the deleted
    // ranges). The bounds mirror the fixture's mx/8..mx/3 arithmetic; a
    // reader that resurrected a DV-deleted row (or dropped a re-inserted
    // one, or a materialization that lost a row) hash-mismatches.
    "q216_dv_delete" ->
      s"""WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders),
          r AS (SELECT mx // 8 AS lo1, mx // 4 AS hi1,
                       mx // 5 AS lo2, mx // 3 AS hi2 FROM b),
          v1 AS (SELECT o.* FROM orders o, r
                 WHERE NOT (o.o_orderkey BETWEEN r.lo1 AND r.hi1)),
          v2 AS (SELECT o.* FROM orders o, r
                 WHERE NOT (o.o_orderkey BETWEEN r.lo1 AND r.hi1)
                   AND NOT (o.o_orderkey BETWEEN r.lo2 AND r.hi2)),
          hd AS (SELECT o.o_orderkey,
                   CASE WHEN o.o_orderkey % 97 = 0 THEN '9-MERGED'
                        ELSE o.o_orderpriority END AS o_orderpriority,
                   CASE WHEN o.o_orderkey % 97 = 0 THEN o.o_totalprice * 2
                        ELSE o.o_totalprice END AS o_totalprice
                 FROM orders o, r
                 WHERE o.o_orderkey % 97 = 0
                    OR (NOT (o.o_orderkey BETWEEN r.lo1 AND r.hi1)
                        AND NOT (o.o_orderkey BETWEEN r.lo2 AND r.hi2)))
          SELECT 'v1' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM v1 GROUP BY 1, 2
          UNION ALL
          SELECT 'v2' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM v2 GROUP BY 1, 2
          UNION ALL
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM hd GROUP BY 1, 2""",

    // q217: every (commit, op) group replayed set-theoretically — v1's
    // inserts are the %601 delta, v2's deletes the range slice of
    // ORIGINAL rows (the inserted keys sit at +10⁸, beyond the range;
    // a DV delete must not re-emit), v3's pre/post-images split the %97
    // delta around the deleted range (in-range keys re-INSERT)
    "q217_table_changes" ->
      s"""WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders),
          r AS (SELECT mx // 10 AS lo, mx // 6 AS hi FROM b),
          ins AS (SELECT o_totalprice + 5 AS p FROM orders WHERE o_orderkey % 601 = 0),
          del AS (SELECT o.o_totalprice AS p FROM orders o, r
                  WHERE o.o_orderkey BETWEEN r.lo AND r.hi),
          upk AS (SELECT o.o_orderkey, o.o_totalprice FROM orders o
                  WHERE o.o_orderkey % 97 = 0),
          mpre AS (SELECT u.o_totalprice AS p FROM upk u, r
                   WHERE NOT (u.o_orderkey BETWEEN r.lo AND r.hi)),
          mins AS (SELECT u.o_totalprice * 2 AS p FROM upk u, r
                   WHERE u.o_orderkey BETWEEN r.lo AND r.hi)
          SELECT CAST(1 AS BIGINT) AS _commit_version, 'insert' AS op,
                 COUNT(*) AS n, ${Sql.dsum("p")} AS sum_price FROM ins
          UNION ALL
          SELECT CAST(2 AS BIGINT), 'delete', COUNT(*), ${Sql.dsum("p")} FROM del
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'update_preimage', COUNT(*), ${Sql.dsum("p")} FROM mpre
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'update_postimage', COUNT(*),
                 ${Sql.dsum("p * 2")} FROM mpre
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'insert', COUNT(*), ${Sql.dsum("p")} FROM mins""",

    // q218: head = orders minus the DV-deleted range, with the update's
    // assignments applied inside the update range; v1 = the pre-update
    // survivors. An update that resurrected a deleted row, updated one,
    // or double-applied to a straddling file hash-mismatches.
    "q218_sql_update" ->
      s"""WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders),
          r AS (SELECT mx // 2 AS dlo, mx // 2 + mx // 20 AS dhi,
                       mx // 4 AS ulo, mx // 2 + mx // 10 AS uhi FROM b),
          v1 AS (SELECT o.o_orderpriority, o.o_totalprice FROM orders o, r
                 WHERE NOT (o.o_orderkey BETWEEN r.dlo AND r.dhi)),
          hd AS (SELECT
                   CASE WHEN o.o_orderkey BETWEEN r.ulo AND r.uhi
                        THEN '9-UPDATED' ELSE o.o_orderpriority END AS o_orderpriority,
                   CASE WHEN o.o_orderkey BETWEEN r.ulo AND r.uhi
                        THEN o.o_totalprice * 2 ELSE o.o_totalprice END AS o_totalprice
                 FROM orders o, r
                 WHERE NOT (o.o_orderkey BETWEEN r.dlo AND r.dhi))
          SELECT 'v1' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM v1 GROUP BY 1, 2
          UNION ALL
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM hd GROUP BY 1, 2""",

    // q220: head = orders (update +10 inside the range) ∪ the %601
    // inserts ∪ the %997 bad rows admitted only after the DROP — the
    // refused mutations contribute NOTHING (head-unmoved is asserted
    // in-engine; a leak of either refused statement's rows mismatches)
    "q220_sql_constraints" ->
      s"""WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders),
          r AS (SELECT mx // 10 AS lo, mx // 5 AS hi FROM b),
          baseu AS (SELECT o.o_orderpriority AS op,
                      CASE WHEN o.o_orderkey BETWEEN r.lo AND r.hi
                           THEN o.o_totalprice + 10 ELSE o.o_totalprice END AS p
                    FROM orders o, r),
          ins AS (SELECT '9-MERGED' AS op, o_totalprice + 5 AS p
                  FROM orders WHERE o_orderkey % 601 = 0),
          bad AS (SELECT '0-BAD' AS op, -1.0 AS p
                  FROM orders WHERE o_orderkey % 997 = 0)
          SELECT op AS o_orderpriority, COUNT(*) AS n, ${Sql.dsum("p")} AS sum_price
          FROM (SELECT * FROM baseu UNION ALL SELECT * FROM ins
                UNION ALL SELECT * FROM bad)
          GROUP BY 1""",

    // q221: the two heads replayed independently — source = orders with
    // the %97 upsert applied, clone = orders minus the deleted range;
    // any cross-contamination (the clone's delete reaching the source,
    // or the source's merge reaching the clone) hash-mismatches
    "q221_shallow_clone" ->
      s"""WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders),
          r AS (SELECT mx // 6 AS lo, mx // 3 AS hi FROM b),
          src AS (SELECT
                    CASE WHEN o_orderkey % 97 = 0 THEN '9-MERGED'
                         ELSE o_orderpriority END AS o_orderpriority,
                    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                         ELSE o_totalprice END AS o_totalprice
                  FROM orders),
          cl AS (SELECT o.o_orderpriority, o.o_totalprice FROM orders o, r
                 WHERE NOT (o.o_orderkey BETWEEN r.lo AND r.hi))
          SELECT 'source' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM src GROUP BY 1, 2
          UNION ALL
          SELECT 'clone' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM cl GROUP BY 1, 2""",

    // q223: head is the 2-column world (base ∪ the %409 insert at +3·10⁸
    // with price+7), v0 the pre-drop 3-column world per priority
    "q223_drop_column" ->
      s"""WITH hd AS (SELECT o_totalprice AS p FROM orders
                      UNION ALL
                      SELECT o_totalprice + 7 FROM orders WHERE o_orderkey % 409 = 0)
          SELECT 'head' AS snap, 'ALL' AS o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("p")} AS sum_price
          FROM hd
          UNION ALL
          SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2""",

    // q224: the once-applied content — %97 keys upserted (priority
    // 9-MERGED, price ×2, NEVER the corrupted retry's zero), plus the
    // %601 inserts exactly once
    "q224_idempotent_txn" ->
      s"""WITH hd AS (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN '9-MERGED'
                        ELSE o_orderpriority END AS o_orderpriority,
                   CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END AS o_totalprice
            FROM orders
            UNION ALL
            SELECT '9-MERGED', o_totalprice + 5
            FROM orders WHERE o_orderkey % 601 = 0)
          SELECT o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM hd GROUP BY 1""",

    // q225: head recomputed set-theoretically — out-of-range survivors ∪
    // the recomputed slice (every third key, re-priced +1); v0 is the
    // plain source. A resurrected slice row, lost survivor, or leaked
    // stray all hash-mismatch.
    "q225_replace_where" ->
      s"""WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders),
          r AS (SELECT mx // 3 AS lo, mx // 3 + mx // 10 AS hi FROM b),
          hd AS (SELECT o.o_orderpriority, o.o_totalprice FROM orders o, r
                 WHERE NOT (o.o_orderkey BETWEEN r.lo AND r.hi)
                 UNION ALL
                 SELECT '9-REPLACED', o.o_totalprice + 1 FROM orders o, r
                 WHERE o.o_orderkey BETWEEN r.lo AND r.hi
                   AND o.o_orderkey % 3 = 0)
          SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2
          UNION ALL
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM hd GROUP BY 1, 2""",

    // q226: all three facets replayed — the final property map (the v3
    // SET overrode 'pipeline', the retention property survives), the
    // vacuum arithmetic (retain 3 of 4 versions → 1 dropped), and the
    // post-delete content counts
    "q226_tblproperties" ->
      s"""WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders),
          r AS (SELECT mx // 5 AS lo, mx // 5 + mx // 20 AS hi FROM b)
          SELECT 'property' AS kind, 'pipeline' AS name,
                 'trainprep-v2' AS sval, CAST(3 AS BIGINT) AS n
          UNION ALL
          SELECT 'property', 'graft.retain.versions', '3', CAST(3 AS BIGINT)
          UNION ALL
          SELECT 'vacuum', 'retained', '3', CAST(1 AS BIGINT)
          UNION ALL
          SELECT 'content', o.o_orderpriority, '', COUNT(*)
          FROM orders o, r
          WHERE NOT (o.o_orderkey BETWEEN r.lo AND r.hi)
          GROUP BY 1, 2, 3""",

    // q227: all four arms replayed set-theoretically — matched rows
    // delete past the price threshold else update (priority + source
    // price), unmatched targets survive unless the NMBS arm's %31
    // predicate hits, and the +1e8 source keys (provably unmatched)
    // insert only when even
    "q227_merge_arms" ->
      s"""WITH src AS (
            SELECT o_orderkey, '9-SRC' AS o_orderpriority,
                   o_totalprice + 10 AS o_totalprice
            FROM orders WHERE o_orderkey % 13 = 0
            UNION ALL
            SELECT o_orderkey + 100000000, '9-SRC', o_totalprice + 5
            FROM orders WHERE o_orderkey % 601 = 0),
          m AS (SELECT t.o_orderkey, t.o_orderpriority AS tprio,
                       t.o_totalprice AS tprice, s.o_totalprice AS sprice,
                       s.o_orderkey IS NOT NULL AS matched
                FROM orders t LEFT JOIN src s USING (o_orderkey)),
          hd AS (
            SELECT '9-SYNCED' AS o_orderpriority, sprice AS o_totalprice
            FROM m WHERE matched AND NOT (sprice > 100000)
            UNION ALL
            SELECT tprio, tprice FROM m
            WHERE NOT matched AND o_orderkey % 31 <> 0
            UNION ALL
            SELECT s.o_orderpriority, s.o_totalprice
            FROM src s LEFT JOIN orders t USING (o_orderkey)
            WHERE t.o_orderkey IS NULL AND s.o_orderkey % 2 = 0)
          SELECT 'v0' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2
          UNION ALL
          SELECT 'head' AS snap, o_orderpriority, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM hd GROUP BY 1, 2""",

    // q222: the replayable projection — physical row count (DVs do not
    // shrink the manifest sum) and the recorded constraint set
    "q222_describe_detail" ->
      s"""SELECT 'detail' AS kind, 'head' AS name,
                 (SELECT COUNT(*) FROM orders) AS n, CAST(1 AS BIGINT) AS m
          UNION ALL
          SELECT 'constraint', 'price_pos', CAST(1 AS BIGINT), CAST(1 AS BIGINT)""",

    // q219: content-preservation at both snapshots under the Hilbert
    // layout — identical replay shape to q213's (the curve changes the
    // LAYOUT only; a re-cluster that lost or duplicated a row, or pruning
    // that skipped a hit file, hash-mismatches)
    "q219_cluster_hilbert" ->
      s"""WITH pts AS (SELECT o_orderkey,
                 (${Sql.keyHash("o_orderkey")} % 256) AS x,
                 (${Sql.keyHash("(o_custkey * 131)")} % 256) AS y,
                 (${Sql.keyHash("(o_orderkey * 509)")} % 256) AS w,
                 o_totalprice
               FROM orders),
          inbox AS (SELECT * FROM pts
                    WHERE x BETWEEN 64 AND 95 AND y BETWEEN 160 AND 191)
          SELECT 'v0' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM inbox
          UNION ALL
          SELECT 'head' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM inbox
          UNION ALL
          SELECT 'head_all' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM pts""",

    // q202: both snapshots' box aggregates recomputed set-theoretically
    // from the source — 2D pruning at either version must be invisible
    "q202_occ_2d_travel" ->
      s"""WITH pts AS (SELECT o_orderkey,
                 (${Sql.keyHash("o_orderkey")} % 256) AS x,
                 (${Sql.keyHash("(o_custkey * 131)")} % 256) AS y,
                 o_totalprice
               FROM orders),
          inbox AS (SELECT * FROM pts
                    WHERE x BETWEEN 64 AND 95 AND y BETWEEN 160 AND 191),
          m AS (SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                            ELSE o_totalprice END AS p
                FROM inbox)
          SELECT 'v0' AS snap, COUNT(*) AS n,
                 ${Sql.dsum("o_totalprice")} AS sum_price
          FROM inbox
          UNION ALL
          SELECT 'head' AS snap, COUNT(*) AS n, ${Sql.dsum("p")} AS sum_price
          FROM m""",

    "q121_incremental_view" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY o_custkey""",

    // the exact counts replay fully; `ok` replays as the literal the
    // STRUCTURAL CMS guarantee forces (counters only increment, so
    // est ≥ exact on every dataset — the probabilistic eps·N overshoot
    // is spec-asserted, not hash-gated)
    "q158_cms_heavy_hitters" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS exact FROM events
                    GROUP BY user_id ORDER BY exact DESC, user_id LIMIT 50)
          SELECT user_id, exact, TRUE AS ok FROM c
          ORDER BY exact DESC, user_id""",

    // counts stay INDEPENDENT (full corpus count, no candidate pruning) so
    // a candidate-set miss still hash-mismatches; only the `sound` bound
    // arithmetic replays the sampled-candidate pipeline
    // The CMS arithmetic is replayed cell-for-cell: same portable md5
    // hash, same (row ':' token) keying, same width — the oracle derives
    // the identical tail_ub and certificate bit.
    "q122_heavy_hitters" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          samp AS (SELECT token, COUNT(*) AS cnt FROM tok
                   WHERE ${Sql.keyHash("doc_id")} % 10 < 3
                   GROUP BY token ORDER BY cnt DESC, token LIMIT 400),
          top25 AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token
                    ORDER BY n DESC, token LIMIT 25),
          e25 AS (SELECT MIN(n) AS exact25 FROM top25),
          tail AS (SELECT token FROM tok
                   WHERE token NOT IN (SELECT token FROM samp)),
          cells AS (SELECT r, ${TextOps.hash32Sql("concat(CAST(r AS VARCHAR), ':', token)")} % 65536 AS cell,
                      COUNT(*) AS c
                    FROM tail CROSS JOIN range(4) t(r) GROUP BY 1, 2),
          rowmax AS (SELECT r, MAX(c) AS mc FROM cells GROUP BY r),
          ub AS (SELECT COALESCE(MIN(mc), 0) AS tail_ub FROM rowmax)
          SELECT token, CAST(n AS BIGINT) AS n,
                 CAST(ub.tail_ub AS BIGINT) AS tail_ub,
                 (e25.exact25 >= ub.tail_ub) AS sound
          FROM top25, e25, ub ORDER BY n DESC, token""",

    "q123_bigram_lm_score" -> {
      val ngrams = TextOps.wordNgramsSql("w", 2)
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          bi AS (SELECT doc_id, unnest($ngrams) AS b FROM ws),
          cb AS (SELECT b, COUNT(*) AS cb FROM bi GROUP BY b),
          cu AS (SELECT string_split(b, ' ')[1] AS w1, COUNT(*) AS cu FROM bi GROUP BY 1),
          v AS (SELECT COUNT(DISTINCT string_split(b, ' ')[1]) AS v FROM bi),
          sc AS (SELECT doc_id,
                   round(ln(CAST(cb.cb + 1 AS DOUBLE) / CAST(cu.cu + v.v AS DOUBLE)), 6) AS lp
                 FROM bi JOIN cb USING (b)
                 JOIN cu ON string_split(bi.b, ' ')[1] = cu.w1 CROSS JOIN v)
          SELECT doc_id, COUNT(*) AS n_bigrams,
                 ${Sql.dsum6("lp")} AS sum_logprob
          FROM sc GROUP BY doc_id"""
    },

    "q124_zorder_tiles" -> {
      val z = ZOrder.zValueSql("l_partkey", "l_suppkey", 8)
      s"""WITH pts AS (SELECT $z AS z,
                 ((l_partkey % 256 + 256) % 256) AS x,
                 ((l_suppkey % 256 + 256) % 256) AS y
               FROM lineitem)
          SELECT (z >> 10) AS tile, COUNT(*) AS n,
                 MIN(x) AS min_x, MAX(x) AS max_x,
                 MIN(y) AS min_y, MAX(y) AS max_y
          FROM pts GROUP BY tile"""
    },

    "q125_negative_sampling" ->
      s"""WITH np AS (SELECT COUNT(*) AS np FROM part),
          cand AS (SELECT s_suppkey, k,
                     ${Sql.keyHash("(s_suppkey * 131 + k)")} % np AS neg_partkey
                   FROM supplier, np, LATERAL UNNEST(range(1, 9)) AS t(k)),
          pos AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
          SELECT c.s_suppkey, c.k, c.neg_partkey,
                 p.l_partkey IS NOT NULL AS collided
          FROM cand c LEFT JOIN pos p
            ON c.s_suppkey = p.l_suppkey AND c.neg_partkey = p.l_partkey""",

    "q126_bloom_decontam" -> {
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
    }
  )
}
