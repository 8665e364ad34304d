package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.graph.PageRank
import graft.io.Tables
import graft.ml.Metrics
import graft.relational.Scd
import graft.text.TextOps
import graft.timeseries.Resample
import graft.util.{Parity, Staging}

/** Wave-3 analytics surface: time-series regularization, ranking metrics,
  * iterative graph propagation, weighted sampling, grouped model fits,
  * SCD2 merge, schema-evolution reads, and collocation mining — the
  * operations that round out a warehouse + training-data engine beyond
  * SURVEY §2's checklist.
  */
object AnalyticsPack extends QueryPack {

  /** The q110/q120 score probe: a fixed linear functional of the embedding,
    * so every rank/calibration metric over it is replayable end-to-end. */
  private def scoreCol = ((element_at(col("embedding"), 1).cast("double")
    - lit(0.5) * element_at(col("embedding"), 2).cast("double"))
    + lit(0.25) * element_at(col("embedding"), 3).cast("double")).as("s")

  /** A deliberately over-fragmented parquet copy of events (200 splits) —
    * the small-files input the compaction op (q118) consolidates. */
  private def stagedFragmented(s: SparkSession, d: String): String =
    Staging.ensure(Staging.dirFor("events_fragmented", d), s"$d/events.parquet") { dir =>
      Tables.events(s, d).repartition(200).write.mode("overwrite").parquet(dir)
    }

  /** Two parquet "generations" of lineitem with divergent schemas under
    * one root — generation `a` carries l_quantity, generation `b`
    * l_extendedprice — exercising mergeSchema evolution on read. */
  private def stagedEvo(s: SparkSession, d: String): String =
    Staging.ensure(Staging.dirFor("lineitem_evo", d), s"$d/lineitem.parquet") { dir =>
      val li = Tables.lineitem(s, d)
      li.filter(col("l_orderkey") % 2 === 0).select("l_orderkey", "l_quantity")
        .write.mode("overwrite").parquet(s"$dir/a")
      li.filter(col("l_orderkey") % 2 === 1).select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite").parquet(s"$dir/b")
    }

  override def stage(s: SparkSession, d: String): Unit = {
    stagedEvo(s, d); stagedFragmented(s, d); ()
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── time-series resample + forward fill ────────────────────────────
    // Hourly grid over the first week for a deterministic user subset;
    // gaps carry the last observed value forward (Resample scale notes).
    "q109_time_resample" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val g0 = ev.agg(date_trunc("hour", min(col("ts")))).head.getTimestamp(0)
      val gEnd = new java.sql.Timestamp(g0.getTime + 167L * 3600 * 1000)
      Resample.hourlyFfill(
          ev.filter(col("user_id") % 29 === 0),
          "user_id", "ts", "event_id", "value", lit(g0), lit(gEnd))
        .withColumnRenamed("key", "user_id")
    },

    // ── ROC-AUC (Mann-Whitney rank statistic) ──────────────────────────
    // Score is a fixed linear probe over the embedding so the metric is
    // replayable end-to-end; ranking is distributed (sort+zipWithIndex),
    // ties get average rank. Complements accuracy (M12) / R² (M13).
    "q110_roc_auc" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(scoreCol,
        when(col("label") % 2 === 0, lit(1L)).otherwise(lit(0L)).as("y"))
      Metrics.rocAuc(e, "s", "y")
    },

    // ── PageRank over the customer→supplier trade graph ────────────────
    // 3 damped iterations, exact-decimal contribution sums (see
    // [[graft.graph.PageRank]]); top 30 nodes, rank-bit-exact so the
    // ordering is deterministic.
    "q111_pagerank" -> { (s, d) =>
      val edges = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      PageRank.run(edges, iterations = 3, damping = 0.85)
        .orderBy(col("rank").desc, col("node")).limit(30)
    },

    // ── weighted sampling (exponential-priority / A-ES trick) ──────────
    // priority = −ln(u)/w with u a portable hash uniform: the k smallest
    // priorities ARE a weight-proportional sample without replacement —
    // selected by TakeOrdered (no global sort materialization).
    "q112_weighted_sample" -> { (s, d) =>
      val mod = (Parity.HashMod + 1).toDouble
      Tables.orders(s, d).select(
          col("o_orderkey"), col("o_totalprice"),
          (-log((Parity.keyHash(col("o_orderkey")) + 1).cast("double") / lit(mod))
            / col("o_totalprice")).as("priority"))
        // order on the ROUNDED priority (like the oracle) so a last-ulp ln()
        // difference between engines can never flip the k-th selection
        .orderBy(Parity.r6(col("priority")), col("o_orderkey")).limit(25)
        .select(col("o_orderkey"), col("o_totalprice"), Parity.r6(col("priority")).as("priority"))
    },

    // ── grouped model fit: per-nation OLS of order price on acctbal ────
    // Closed-form slope/intercept/correlation from exact decimal moments
    // (the dvar/dcorr discipline) — a grouped regression is one hash
    // aggregation, not per-group solver loops.
    "q113_grouped_regression" -> { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val joined = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_acctbal").as("x"), col("o_totalprice").as("y"))
      val agg = joined.groupBy("n_name").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(28, 4))).cast("double").as("sx"),
        sum(col("y").cast(DecimalType(28, 4))).cast("double").as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 6))).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(38, 6))).cast("double").as("sxy"))
      val nD = col("n").cast("double")
      val slope = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sxx") - col("sx") * col("sx"))
      // slope/intercept are cancellation-amplified composites (sy − slope·sx
      // over ~1e5 magnitudes), where even FMA-contraction differences between
      // engines surface — coarse-round like every interpolated stat (Parity.r6)
      agg.select(col("n_name"), col("n"), Parity.r6(slope).as("slope"),
        Parity.r6((col("sy") - slope * col("sx")) / nD).as("intercept"))
    },

    // ── SCD2 merge (batch upsert with history) ─────────────────────────
    // Apply a derived change batch to the customer dim; changed keys get
    // a closed row + a fresh open row ([[graft.relational.Scd]]).
    "q114_scd2_merge" -> { (s, d) =>
      val base = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val updates = base.filter(col("c_custkey") % 10 === 3)
        .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
        .withColumn("c_mktsegment", lit("MOVED"))
      Scd.scd2Apply(base, updates, Seq("c_custkey"),
        baseFrom = to_date(lit("2024-01-01")), effective = to_date(lit("2024-06-01")))
    },

    // ── schema evolution: mergeSchema over divergent generations ───────
    // Generation a lacks l_extendedprice, generation b lacks l_quantity;
    // the merged scan unions the schemas and nulls the absent columns.
    "q115_schema_evolution" -> { (s, d) =>
      val root = stagedEvo(s, d)
      s.read.option("mergeSchema", "true").parquet(s"$root/a", s"$root/b")
        .groupBy((col("l_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          Parity.dsum(col("l_quantity")).as("sum_qty"),
          Parity.dsum(col("l_extendedprice")).as("sum_price"))
    },

    // ── collocation mining: top bigrams by PMI ─────────────────────────
    // Bigrams are row-local (no self-join on position); unigram and
    // bigram counts are two hash aggregations; PMI needs only the two
    // corpus totals as a broadcast scalar. Token arrays are materialized
    // once per projection (interpreted-HOF CSE gotcha).
    "q116_pmi_collocations" -> { (s, d) =>
      val toks = Tables.documents(s, d).select(TextOps.words(col("text")).as("w"))
      // both count tables are read twice (pair join + corpus totals), so they
      // are persisted — vocab- and bigram-type-sized, tiny next to the corpus.
      // The totals then fold out of them as eager scalars (Σc = Σ len(w),
      // Σn_pair = Σ max(len−1,0)): two document scans total, zero rescans
      // (plan-level reuse of the aggregate subtree is not guaranteed).
      val uni = toks.select(explode(col("w")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c")).persist()
      val bg = toks.filter(size(col("w")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
                      element_at(col("w"), i + 1).as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair")).persist()
      val nu = uni.agg(sum(col("c"))).head.getLong(0).toDouble
      val nb = bg.agg(sum(col("n_pair"))).head.getLong(0).toDouble
      val pmi = log(((col("n_pair").cast("double") * lit(nu)) * lit(nu))
        / ((lit(nb) * col("cx")) * col("cy")))
      bg.join(uni.withColumnRenamed("tok", "w1").withColumnRenamed("c", "cx1"), "w1")
        .join(uni.withColumnRenamed("tok", "w2").withColumnRenamed("c", "cy1"), "w2")
        .withColumn("cx", col("cx1").cast("double"))
        .withColumn("cy", col("cy1").cast("double"))
        .filter(col("n_pair") >= 5)
        .orderBy(Parity.r6(pmi).desc, col("w1"), col("w2")).limit(20)
        .select(col("w1"), col("w2"), col("n_pair"), Parity.r6(pmi).as("pmi"))
    },

    // ── native session windows (batch form of the streaming operator) ──
    // session_window merges events within a 30-min gap; the window closes
    // at last_ts + gap. Same operator Structured Streaming uses — here
    // driven in batch so the full session set is oracle-replayable
    // (q42 covers the stateful streaming shape).
    "q117_session_window" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("value")).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("sess_start"),
          col("sw.end").as("sess_end"), col("n"), col("sum_value"))
    },

    // ── small-files compaction (the OPTIMIZE shape) ────────────────────
    // Read the 200-way fragmented copy, consolidate to size-targeted
    // partitions (one stats pass + one shuffle — Scale.repartitionToBytes),
    // rewrite, and aggregate the re-read to prove content preservation.
    // File-count reduction is asserted in AnalyticsSpec (not SQL-visible).
    "q118_compaction" -> { (s, d) =>
      val src = stagedFragmented(s, d)
      val out = Staging.scratch(s"compacted_${math.abs(d.hashCode)}")
      val (sized, _) = graft.relational.Scale.repartitionToBytes(
        s.read.parquet(src), 64L * 1024 * 1024)
      sized.write.mode("overwrite").parquet(out)
      s.read.parquet(out).agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Parity.dsum(col("value")).as("sum_value"))
    },

    // ── CDC apply (MERGE: insert / update / delete in one batch) ───────
    // A derived change batch — deletes (k%17=0), payload updates
    // (k%10=3, surviving keys), inserts in fresh key space (k%31=1) —
    // folded into the customer dim by [[graft.relational.Scd.cdcApply]].
    "q119_cdc_apply" -> { (s, d) =>
      val base = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val deletes = base.filter(col("c_custkey") % 17 === 0)
        .select(lit("D").as("op"), col("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
      val updates = base.filter(col("c_custkey") % 10 === 3 && col("c_custkey") % 17 =!= 0)
        .select(lit("U").as("op"), col("c_custkey"), col("c_name"),
          (col("c_acctbal") + lit(100.0)).as("c_acctbal"), lit("MOVED").as("c_mktsegment"))
      val inserts = base.filter(col("c_custkey") % 31 === 1)
        .select(lit("I").as("op"), (col("c_custkey") + lit(10000000L)).as("c_custkey"),
          lit("NEW").as("c_name"), lit(1.0).as("c_acctbal"), lit("CDC").as("c_mktsegment"))
      Scd.cdcApply(base, deletes.unionByName(updates).unionByName(inserts), Seq("c_custkey"))
    },

    // ── calibration curve (reliability diagram) ────────────────────────
    // Fixed-width decile bins over the q110 score probe: per bin the
    // observed positive rate vs the mean score — the classifier-eval
    // companion to AUC. Bin edges come from two eagerly-collected
    // scalars; binning and rates are exact row/integer arithmetic.
    "q120_calibration" -> { (s, d) =>
      val scored = Tables.embeddings(s, d).select(scoreCol,
        when(col("label") % 2 === 0, lit(1L)).otherwise(lit(0L)).as("y"))
      val r = scored.agg(min(col("s")), max(col("s"))).head
      val (mn, mx) = (r.getDouble(0), r.getDouble(1))
      scored
        .withColumn("bin", least(floor((col("s") - lit(mn)) / (lit(mx) - lit(mn)) * lit(10.0)),
          lit(9.0)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), Parity.davg(col("s")).as("mean_score"),
          (sum(col("y")).cast("double") / count(lit(1)).cast("double")).as("frac_pos"))
    }
  )

  override def oracles: Map[String, String] = Map(

    "q109_time_resample" ->
      """WITH b AS (SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS g0 FROM events),
          f AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id, value
                FROM events WHERE user_id % 29 = 0),
          pr AS (SELECT user_id, date_trunc('hour', t) AS bucket, value,
                   row_number() OVER (PARTITION BY user_id, date_trunc('hour', t)
                                      ORDER BY t DESC, event_id DESC) AS rn
                 FROM f),
          bk AS (SELECT user_id, bucket, COUNT(*) AS n_events,
                   MAX(CASE WHEN rn = 1 THEN value END) AS last_v
                 FROM pr GROUP BY user_id, bucket),
          grid AS (SELECT u.user_id, CAST(g.h AS TIMESTAMP) AS bucket
                   FROM (SELECT DISTINCT user_id FROM f) u, b,
                        LATERAL UNNEST(generate_series(b.g0, b.g0 + INTERVAL 167 HOUR,
                                                       INTERVAL 1 HOUR)) AS g(h))
          SELECT grid.user_id, grid.bucket,
            COALESCE(bk.n_events, 0) AS n_events,
            last_value(bk.last_v IGNORE NULLS) OVER (
              PARTITION BY grid.user_id ORDER BY grid.bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
          FROM grid LEFT JOIN bk ON grid.user_id = bk.user_id AND grid.bucket = bk.bucket""",

    "q110_roc_auc" ->
      """WITH scored AS (
            SELECT ((CAST(embedding[1] AS DOUBLE) - 0.5 * CAST(embedding[2] AS DOUBLE))
                    + 0.25 * CAST(embedding[3] AS DOUBLE)) AS s,
                   CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y
            FROM embeddings),
          r AS (SELECT s, y,
                  RANK() OVER (ORDER BY s) AS rk,
                  COUNT(*) OVER (PARTITION BY s) AS c
                FROM scored),
          t AS (SELECT
                  CAST(SUM(CAST(y * (CAST(rk AS DOUBLE) + (CAST(c AS DOUBLE) - 1.0) / 2.0)
                       AS DECIMAL(38,6))) AS DOUBLE) AS posrank,
                  CAST(SUM(y) AS BIGINT) AS np,
                  CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
                FROM r)
          SELECT (posrank - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1.0) / 2.0)
                   / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) AS auc,
                 np AS n_pos, nn AS n_neg
          FROM t""",

    "q111_pagerank" -> {
      def iter(prev: String, cur: String) =
        s"""$cur AS (SELECT n2.node,
               ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n)
                 + CAST(0.85 AS DOUBLE) * COALESCE(s.s, 0.0) AS rank
             FROM nodes n2 CROSS JOIN nn
             LEFT JOIN (SELECT e.dst AS node,
                          CAST(SUM(CAST(ROUND(r.rank / od.outdeg * 1e15, 0) AS BIGINT)) AS DOUBLE)
                            / 1e15 AS s
                        FROM e JOIN $prev r ON e.src = r.node
                               JOIN od ON e.src = od.src
                        GROUP BY e.dst) s ON n2.node = s.node)"""
      s"""WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
          od AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
          r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
          ${iter("r0", "r1")},
          ${iter("r1", "r2")},
          ${iter("r2", "r3")}
          SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 30"""
    },

    "q112_weighted_sample" -> {
      val mod = (Parity.HashMod + 1).toDouble
      s"""SELECT o_orderkey, o_totalprice, ROUND(priority, 6) AS priority FROM (
            SELECT o_orderkey, o_totalprice,
              (- LN((${Parity.keyHashSql("o_orderkey")} + 1) / $mod)) / o_totalprice AS priority
            FROM orders)
          ORDER BY priority, o_orderkey LIMIT 25"""
    },

    "q113_grouped_regression" -> {
      val nD = "CAST(n AS DOUBLE)"
      val slope = s"($nD * sxy - sx * sy) / ($nD * sxx - sx * sx)"
      s"""WITH m AS (SELECT n_name, COUNT(*) AS n,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS sx,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS sy,
              CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
              CAST(SUM(CAST(c_acctbal * o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name)
          SELECT n_name, n, ROUND($slope, 6) AS slope,
                 ROUND((sy - ($slope) * sx) / $nD, 6) AS intercept
          FROM m"""
    },

    "q114_scd2_merge" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
            DATE '2024-01-01' AS valid_from,
            CASE WHEN c_custkey % 10 = 3 THEN DATE '2024-06-01' END AS valid_to,
            c_custkey % 10 <> 3 AS is_current
          FROM customer
          UNION ALL
          SELECT c_custkey, c_name, c_acctbal + 100.0, 'MOVED',
            DATE '2024-06-01', NULL, true
          FROM customer WHERE c_custkey % 10 = 3""",

    "q115_schema_evolution" ->
      s"""SELECT l_orderkey % 10 AS bucket, COUNT(*) AS n,
            ${Sql.dsum("CASE WHEN l_orderkey % 2 = 0 THEN l_quantity END")} AS sum_qty,
            ${Sql.dsum("CASE WHEN l_orderkey % 2 = 1 THEN l_extendedprice END")} AS sum_price
          FROM lineitem GROUP BY 1""",

    "q116_pmi_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
          uni AS (SELECT tok, COUNT(*) AS c
                  FROM toks, LATERAL UNNEST(w) AS u(tok) GROUP BY tok),
          bg AS (SELECT w[i] AS w1, w[i + 1] AS w2, COUNT(*) AS n_pair
                 FROM toks, LATERAL UNNEST(range(1, len(w))) AS g(i)
                 WHERE len(w) >= 2
                 GROUP BY w[i], w[i + 1]),
          totals AS (SELECT CAST(SUM(len(w)) AS DOUBLE) AS nu,
                            CAST(SUM(GREATEST(len(w) - 1, 0)) AS DOUBLE) AS nb
                     FROM toks)
          SELECT w1, w2, n_pair,
            ROUND(LN(((CAST(n_pair AS DOUBLE) * nu) * nu)
                     / ((nb * CAST(cx.c AS DOUBLE)) * CAST(cy.c AS DOUBLE))), 6) AS pmi
          FROM bg JOIN uni cx ON bg.w1 = cx.tok
                  JOIN uni cy ON bg.w2 = cy.tok
                  CROSS JOIN totals
          WHERE n_pair >= 5
          ORDER BY pmi DESC, w1, w2 LIMIT 20""",

    // session semantics replay: greedy 30-min-gap islands per user (the
    // q42 convention: a gap of exactly 30 min starts a new session, the
    // window closes at last event + gap)
    "q117_session_window" ->
      s"""WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
          m AS (SELECT user_id, t, value,
                  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS ns
                FROM o),
          g AS (SELECT user_id, t, value,
                  SUM(ns) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM m)
          SELECT user_id, MIN(t) AS sess_start, MAX(t) + INTERVAL 30 MINUTE AS sess_end,
            COUNT(*) AS n, ${Sql.dsum("value")} AS sum_value
          FROM g GROUP BY user_id, sid""",

    // content preservation: the compacted copy must aggregate identically
    // to the source table (file-count reduction is spec-asserted)
    "q118_compaction" ->
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
            ${Sql.dsum("value")} AS sum_value
          FROM events""",

    "q119_cdc_apply" ->
      """SELECT c_custkey, c_name,
            CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
            CASE WHEN c_custkey % 10 = 3 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment
          FROM customer WHERE c_custkey % 17 <> 0
          UNION ALL
          SELECT c_custkey + 10000000, 'NEW', 1.0, 'CDC'
          FROM customer WHERE c_custkey % 31 = 1""",

    "q120_calibration" ->
      s"""WITH scored AS (
            SELECT ((CAST(embedding[1] AS DOUBLE) - 0.5 * CAST(embedding[2] AS DOUBLE))
                    + 0.25 * CAST(embedding[3] AS DOUBLE)) AS s,
                   CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS y
            FROM embeddings),
          b AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM scored)
          SELECT CAST(LEAST(FLOOR((s - b.mn) / (b.mx - b.mn) * 10.0), 9.0) AS BIGINT) AS bin,
            COUNT(*) AS n, ${Sql.davg("s")} AS mean_score,
            CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos
          FROM scored CROSS JOIN b
          GROUP BY 1"""
  )
}
