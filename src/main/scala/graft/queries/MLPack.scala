package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.io.Tables
import graft.ml.{DeterministicSplits, Models, Normalization, PipelineStages}
import graft.matrix.ArrayOps
import graft.util.{OracleDump, Parity, Staging}
import graft.util.Parity._

/** ML pipeline surface (SURVEY §2.9): deterministic seeded splits,
  * stratified sampling, label encoding, standardization, K-fold assignment
  * (oracle-checked) and MLlib model training / evaluation / random search
  * (rows-only — not SQL-expressible).
  */
object MLPack extends QueryPack {

  private val segFractions = Map(
    "AUTOMOBILE" -> 0.6, "BUILDING" -> 0.4, "FURNITURE" -> 0.5,
    "HOUSEHOLD" -> 0.2, "MACHINERY" -> 0.3)

  /** embeddings with MLlib vector features + double label, hash-split. */
  private def embeddingsML(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val df = Tables.embeddings(s, d).select(
      col("vec_id"),
      col("label").cast("double").as("label"),
      PipelineStages.arrayToVector(transform(col("embedding"), _.cast("double"))).as("features"))
    (DeterministicSplits.trainSplit(df, col("vec_id"), 0.7),
     DeterministicSplits.testSplit(df, col("vec_id"), 0.7))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M6 — deterministic z-score standardization of order totals.
    "q19_standardized_prices" -> { (s, d) =>
      PipelineStages.standardize(Tables.orders(s, d), "o_totalprice", "z")
        .select(col("o_orderkey"), round(col("z"), 6).as("z"))
    },

    // feature discretization (KBinsDiscretizer shape): quartile-bucket
    // prices, roll up per bucket. Breaks replayed by quantile_cont.
    // EXACT mode — the oracle baseline; q87 is the scale path.
    "q83_quantile_binning" -> { (s, d) =>
      PipelineStages.quantileBin(Tables.lineitem(s, d), "l_extendedprice", "bucket")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
    },

    // q83's APPROX (scale-mode) twin: breaks from the mergeable GK sketch
    // instead of the exact percentile's buffer-everything state — the
    // 100 TB path. Tolerance-gated (the q28/q64 pattern): the sketch
    // breaks are dumped; the oracle replays bucket assignment + per-bucket
    // aggregates from the DUMPED breaks bit-exactly, and independently
    // gates each break's empirical rank within 1/accuracy·50 of its
    // target quantile. The breaks used for binning are re-read from the
    // dump so oracle and engine bin from identical values.
    "q87_quantile_binning_approx" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      OracleDump.dump(
        PipelineStages.quantileBreaks(li, "l_extendedprice", exact = false, accuracy = 10000),
        "q87_breaks")
      val breaks = s.read.parquet(s"${OracleDump.dir}/q87_breaks")
      PipelineStages.binByBreaks(li, "l_extendedprice", "bucket", breaks)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .withColumn("within_tol", lit(true))
    },

    // M1 as a FIRST-CLASS MLlib stage (the reference's transformers are
    // sklearn-protocol citizens, `feature_selection_and_normalization
    // .py:8,34` — ours are Estimator/Model with ParamMap + MLWritable):
    // fit a stock ml.Pipeline(UpperQuartileNormalizer) on the lineitem
    // width-4 matrix, SAVE the PipelineModel, RE-LOAD it through MLlib's
    // reflective reader, transform with the loaded copy. The oracle
    // replays the scaled first feature from the UQ algebra — a wrapper
    // that drifted from the engine, or persistence that lost a model
    // field, hash-mismatches.
    "q89_uq_estimator_persist" -> { (s, d) =>
      // fan + cache as in q18: the fit's stat jobs are CPU-bound row math
      val li = graft.relational.Scale.fanOut(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
            ArrayOps.toArray(Seq(col("l_quantity"), col("l_extendedprice"),
              lit(1.0) + col("l_discount"), lit(1.0) + col("l_tax"))).as("features")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pipe = new org.apache.spark.ml.Pipeline().setStages(Array(
        new org.apache.spark.ml.graft.UpperQuartileNormalizer()
          .setQuantile(0.75).setFeaturesCol("features")))
      val fitted = pipe.fit(li)
      val dir = Staging.scratch(s"uq_model_${math.abs(d.hashCode)}")
      fitted.write.overwrite().save(dir)
      val loaded = org.apache.spark.ml.PipelineModel.load(dir)
      loaded.transform(li).select(col("l_orderkey"), col("l_linenumber"),
        round(element_at(col("features"), 1), 6).as("f1_scaled"))
    },

    // M3 — seeded 70/30 train/test split as a pure key function.
    "q20_hash_split" -> { (s, d) =>
      Tables.orders(s, d)
        .withColumn("split", DeterministicSplits.splitTag(col("o_orderkey"), 0.7))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
    },

    // M4 — stratified sampling with per-stratum fractions.
    "q21_stratified_sample" -> { (s, d) =>
      DeterministicSplits.stratifiedSample(
        Tables.customer(s, d), col("c_custkey"), col("c_mktsegment"), segFractions)
        .select("c_custkey", "c_mktsegment")
    },

    // M5 — label encoding: frequency-desc with alphabetical tie-break.
    "q22_label_encode" -> { (s, d) =>
      PipelineStages.fitLabelIndex(Tables.customer(s, d), "c_mktsegment")
    },

    // M7 — disjoint exhaustive 10-fold assignment + per-fold aggregates.
    "q23_fold_counts" -> { (s, d) =>
      Tables.orders(s, d)
        .withColumn("fold", DeterministicSplits.foldId(col("o_orderkey"), 10))
        .groupBy("fold")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
    },

    // M8/M14 — RandomForest multiclass on embeddings (hash-split 70/30),
    // predictions on held-out set. Oracle: q25's *independently fitted*
    // prediction dump — a cross-fit determinism check (seeded fit + hash
    // split + fixed partitioning must reproduce row-for-row).
    "q24_rf_predictions" -> { (s, d) =>
      val (train, test) = embeddingsML(s, d)
      val model = Models.randomForest("label", "features", numTrees = 20).fit(train)
      model.transform(test).select(col("vec_id"), col("label"), col("prediction"))
    },

    // M12 — held-out accuracy of the RF model, with split sizes. The
    // accuracy is differential-oracled: predictions are dumped and DuckDB
    // recomputes the metric from them (see OracleDump); split sizes are
    // independently SQL-derived from the hash-split replay.
    "q25_rf_accuracy" -> { (s, d) =>
      val (train, test) = embeddingsML(s, d)
      val model = Models.randomForest("label", "features", numTrees = 20).fit(train)
      val preds = OracleDump.dump(
        model.transform(test).select(col("vec_id"), col("label"), col("prediction")),
        "q25_rf_preds")
      val acc = Models.accuracy("label").evaluate(preds)
      s.createDataFrame(Seq(("rf_embeddings", train.count(), test.count(), acc)))
        .toDF("model", "n_train", "n_test", "accuracy")
        .withColumn("accuracy", round(col("accuracy"), 6))
    },

    // M8 at the reference's TRUE multiclass shape: the reference's
    // XGBClassifier handles the 10-class task natively
    // (`dask_pipeline.py:83`); MLlib's GBTClassifier is binary-only, so
    // this is OneVsRest(GBT) — 10 concurrent seeded binary fits (SURVEY
    // §7.3), the boosting-family sibling of the q24/q25 RF default.
    // Accuracy + per-class prediction counts are differential-oracled from
    // the dumped predictions; split sizes replayed from the hash split;
    // the oracle's degeneracy clause (non-constant predictions) gates a
    // broken OVR margin comparison independently of our own evaluator.
    "q90_ovr_gbt_multiclass" -> { (s, d) =>
      val (train, test) = embeddingsML(s, d)
      // maxIter 5: 10 one-vs-rest fits are scheduler-bound on this corpus
      // (each binary fit alone is ~q52's 2.8 s at maxIter 10); 5 rounds
      // keeps the boosting genuine while halving the tiny-fit overhead —
      // accuracy is differential-oracled, so the budget is a cost knob,
      // not a correctness one
      val model = Models.ovrGbt("label", "features", maxIter = 5).fit(train)
      val preds = OracleDump.dump(
        model.transform(test).select(col("vec_id"), col("label"), col("prediction")),
        "q90_ovr_preds")
      val acc = Models.accuracy("label").evaluate(preds)
      s.createDataFrame(Seq(("ovr_gbt_embeddings", train.count(), test.count(), acc)))
        .toDF("model", "n_train", "n_test", "accuracy")
        .withColumn("accuracy", round(col("accuracy"), 6))
        .withColumn("sanity_ok", lit(true))
    },

    // M7 — parallel K-fold CV (concurrent fold jobs) with logistic
    // regression; per-fold sizes + accuracy. Fold sizes are SQL-derived
    // from the fold-hash replay; accuracies are differential-oracled from
    // the dumped per-fold predictions.
    "q26_cv_scores" -> { (s, d) =>
      val df = Tables.embeddings(s, d).select(
        col("vec_id"), col("label").cast("double").as("label"),
        PipelineStages.arrayToVector(transform(col("embedding"), _.cast("double"))).as("features"))
      val scores = Models.kFoldCvWithPreds(df, 3, "vec_id",
        tr => { val m = Models.logistic("label", "features").fit(tr); te => m.transform(te) },
        scored => Models.accuracy("label").evaluate(scored)) { folds =>
        OracleDump.dump(
          folds.map { case (f, sdf) =>
            sdf.select(lit(f.toLong).as("fold"), col("label"), col("prediction"))
          }.reduce(_ unionByName _), "q26_cv_preds")
      }
      val foldSizes = df.groupBy(DeterministicSplits.foldId(col("vec_id"), 3).as("fold"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = foldSizes.values.sum
      s.createDataFrame(scores.zipWithIndex.map { case (sc, f) =>
        (f.toLong, total - foldSizes(f.toLong), foldSizes(f.toLong), sc)
      }).toDF("fold", "n_train", "n_test", "accuracy")
        .withColumn("accuracy", round(col("accuracy"), 6))
    },

    // M11 — seeded random hyperparameter search over LinearSVC (binary
    // task: label < 5) — trial + config + score. The seeded config draw is
    // oracle-pinned as a golden VALUES list; per-trial accuracies are
    // differential-oracled from the dumped per-trial predictions.
    "q27_random_search" -> { (s, d) =>
      val df = Tables.embeddings(s, d).select(
        col("vec_id"), (col("label") < 5).cast("double").as("label"),
        PipelineStages.arrayToVector(transform(col("embedding"), _.cast("double"))).as("features"))
      val train = DeterministicSplits.trainSplit(df, col("vec_id"), 0.7)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val test = DeterministicSplits.testSplit(df, col("vec_id"), 0.7)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      train.count(); test.count()
      val all = try {
        val (_, _, scored) = Models.randomSearchPar(
          Map("regParam" -> Seq(0.0, 0.01, 0.1), "maxIter" -> Seq(10, 20)), n = 4) { (cfg, t) =>
          val m = Models.linearSvc("label", "features")
            .setRegParam(cfg("regParam").asInstanceOf[Double])
            .setMaxIter(cfg("maxIter").asInstanceOf[Int])
            .fit(train)
          val p = m.transform(test)
            .select(lit(t.toLong).as("trial"), col("label"), col("prediction"))
          (Models.accuracy("label").evaluate(p), p)
        }
        OracleDump.dump(scored.map(_._3).reduce(_ unionByName _), "q27_trial_preds")
        scored
      } finally { train.unpersist(); test.unpersist() }
      s.createDataFrame(all.zipWithIndex.map { case ((cfg, sc, _), t) =>
        (t.toLong, cfg("regParam").asInstanceOf[Double], cfg("maxIter").asInstanceOf[Int].toLong, sc)
      }).toDF("trial", "reg_param", "max_iter", "accuracy")
        .withColumn("accuracy", round(col("accuracy"), 6))
    },

    // M11 — NESTED random search at the reference's shape
    // (`dask_pipeline.py:108-115`): outer 3-fold, seeded candidate draws
    // (default 20; SPARK_GRAFT_HPO_DRAWS lifts toward the reference's
    // n_iter=100 — see BASELINE.md for a recorded 50-draw run), each
    // scored by inner 2-fold CV, per-fold best emitted. Runs on a 1/4
    // key-hash subset (the many small fits are scheduler-bound).
    // Oracle: per-fold argmax + tie-break replayed in SQL over the dumped
    // trial table (draw-count agnostic); fold sizes from the hash replay.
    "q62_nested_search" -> { (s, d) =>
      val df = Tables.embeddings(s, d)
        .filter(pmod(col("vec_id"), lit(4)) === 0)
        .select(col("vec_id"), (col("label") < 5).cast("double").as("label"),
          PipelineStages.arrayToVector(transform(col("embedding"), _.cast("double"))).as("features"))
      val grid = Map(
        "regParam" -> Seq(0.0, 0.001, 0.01, 0.05, 0.1, 0.5),
        "maxIter" -> Seq(5, 10, 20))
      val nDraws = sys.env.getOrElse("SPARK_GRAFT_HPO_DRAWS", "20").toInt
      val (trials, bests) = Models.nestedRandomSearch(df, 3, 2, "vec_id", grid, nIter = nDraws) {
        cfg => tr => {
          val m = Models.linearSvc("label", "features")
            .setRegParam(cfg("regParam").asInstanceOf[Double])
            .setMaxIter(cfg("maxIter").asInstanceOf[Int])
            .fit(tr)
          te => m.transform(te)
        }
      } { scored => Models.accuracy("label").evaluate(scored) }
      OracleDump.dump(
        s.createDataFrame(trials.map { case (f, t, cfg, sc) =>
          (f.toLong, t.toLong, cfg("regParam").asInstanceOf[Double],
            cfg("maxIter").asInstanceOf[Int].toLong, sc)
        }).toDF("fold", "trial", "reg_param", "max_iter", "score"),
        "q62_trials")
      val foldSizes = df.groupBy(DeterministicSplits.foldId(col("vec_id"), 3).as("fold"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = foldSizes.values.sum
      s.createDataFrame(bests.map { case (f, t, cfg, sc) =>
        (f.toLong, total - foldSizes(f.toLong), t.toLong,
          cfg("regParam").asInstanceOf[Double], cfg("maxIter").asInstanceOf[Int].toLong, sc)
      }).toDF("fold", "n_train", "trial", "reg_param", "max_iter", "best_score")
        .withColumn("best_score", round(col("best_score"), 6))
    },

    // M2 — TMM, exact mode, on a 1/20th slice of the matrix: the FULL
    // estimator (pseudo-reference, log-ratio/abs-expr algebra, global trim
    // quantiles, trimmed means, geometric-mean symmetrization) is replayed
    // in DuckDB SQL and must hash-match. Complements q28, which runs the
    // whole table in approx (scale) mode rows-only.
    "q64_tmm_exact" -> { (s, d) =>
      // project down to key + features BEFORE the fit: the TMM ratio matrix
      // is persisted, and caching 14 unused lineitem columns with it wastes
      // the cache build and memory
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          ArrayOps.toArray(Seq(col("l_quantity"), col("l_extendedprice"),
            lit(1.0) + col("l_discount"), lit(1.0) + col("l_tax"))).as("features"))
      val (_, scored) = new Normalization.TMM(0.3, 0.05, "features", exact = true).fitScored(li)
      scored.select(col("l_orderkey"), col("l_linenumber"),
        round(col("scaling_factor"), 6).as("scaling_factor"))
    },

    // M2 — TMM normalization factors on the lineitem 4-column matrix,
    // approx-percentile scale mode. GK-sketch trim thresholds are not
    // bit-replayable in SQL, so this is a TOLERANCE-GATED differential
    // oracle (reference analog: the approx/exact factor agreement in
    // `feature_selection_and_normalization.py:88-92`): the full-precision
    // per-row factors are dumped, and DuckDB replays the EXACT estimator
    // (the q64 SQL, unfiltered) and independently computes
    // max|approx − exact| < 1e-4 plus null-pattern agreement. The Spark row
    // is the claimed contract; a drifting sketch, wrong trim, or missing
    // rows flips the oracle's boolean / row count and hash-mismatches.
    "q28_tmm_factors" -> { (s, d) =>
      // key + features only — see q64: the persisted ratio matrix should
      // not drag the 14 unused lineitem columns through the cache
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          ArrayOps.toArray(Seq(col("l_quantity"), col("l_extendedprice"),
            lit(1.0) + col("l_discount"), lit(1.0) + col("l_tax"))).as("features"))
      val (_, scored) = new Normalization.TMM(0.3, 0.05, "features", exact = false).fitScored(li)
      val dumped = OracleDump.dump(
        scored.select(col("l_orderkey"), col("l_linenumber"), col("scaling_factor")),
        "q28_factors")
      s.createDataFrame(Seq((dumped.count(), true))).toDF("n_rows", "within_tol")
    },

    // M2 as a FIRST-CLASS MLlib stage (the TMM sibling of q89): fit
    // Pipeline(TMMNormalizer) in exact mode on the q64 slice, save the
    // PipelineModel, re-load it reflectively, transform with the loaded
    // copy. The loaded model must scale f1 by exactly factor/geo_mean —
    // replayed by the same full TMM-estimator SQL as q64, so persistence
    // that lost ANY model field (pseudoref, trims, kept mask, geo-mean)
    // hash-mismatches.
    "q91_tmm_estimator_persist" -> { (s, d) =>
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          ArrayOps.toArray(Seq(col("l_quantity"), col("l_extendedprice"),
            lit(1.0) + col("l_discount"), lit(1.0) + col("l_tax"))).as("features"))
      val pipe = new org.apache.spark.ml.Pipeline().setStages(Array(
        new org.apache.spark.ml.graft.TMMNormalizer()
          .setLogRatioTrim(0.3).setAbsExprTrim(0.05).setExact(true)
          .setFeaturesCol("features")))
      val fitted = pipe.fit(li)
      val dir = Staging.scratch(s"tmm_model_${math.abs(d.hashCode)}")
      fitted.write.overwrite().save(dir)
      val loaded = org.apache.spark.ml.PipelineModel.load(dir)
      loaded.transform(li).select(col("l_orderkey"), col("l_linenumber"),
        round(element_at(col("features"), 1), 6).as("f1_scaled"))
    },

    // M15 — the incremental-fit protocol (`functions/dask_cv.py:10-19`:
    // partial-fit estimators with `classes=` declared up front). The train
    // split arrives as 3 sequential hash-fold batches; IncrementalSGD
    // (one-vs-rest hinge, all 10 classes declared before any batch is
    // seen) takes one distributed gradient step per batch per epoch —
    // batches cached once and re-fed across 8 epochs, mirroring dask-ml
    // `Incremental`'s block-streaming fit. Held-out predictions are
    // dumped; the oracle recomputes accuracy from the dump and replays
    // split/batch bookkeeping from the hash split.
    "q76_incremental_fit" -> { (s, d) =>
      val df = Tables.embeddings(s, d).select(
        col("vec_id"), col("label").cast("double").as("label"),
        transform(col("embedding"), _.cast("double")).as("features"))
      val train = DeterministicSplits.trainSplit(df, col("vec_id"), 0.7)
      val test = DeterministicSplits.testSplit(df, col("vec_id"), 0.7)
      val model = new graft.ml.IncrementalSGD((0 until 10).map(_.toDouble), dim = 64)
      val batches = (0 until 3).map { b =>
        train.filter(DeterministicSplits.foldId(col("vec_id"), 3) === b)
          .select(col("label"), col("features"))
          .rdd.map(r => (r.getDouble(0), r.getSeq[Double](1).toArray))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      (1 to 8).foreach(_ => batches.foreach(model.fitStep))
      batches.foreach(_.unpersist())
      val preds = OracleDump.dump(
        model.transform(test, "features").select(col("vec_id"), col("label"), col("prediction")),
        "q76_inc_preds")
      val acc = Models.accuracy("label").evaluate(preds)
      // sanity_ok is CLAIMED true here and recomputed independently by the
      // oracle from the dump's prediction DISTRIBUTION (non-constant, and
      // no single class absorbing ≥ 90% of predictions): the accuracy
      // column alone is self-referential (recomputed from our own dump),
      // so a degenerate constant-prediction model — the failure mode a
      // broken gradient step actually produces — would otherwise still
      // pass. Deliberately NOT an accuracy-vs-majority bound: on the tiny
      // sf0.001/sf0.01 test splits (150 rows) a healthy 10-class model can
      // legitimately tie or trail the majority share, so that bound is
      // scale-dependent; the degeneracy test is not.
      s.createDataFrame(Seq((train.count(), test.count(), 3L, model.steps.toLong, acc)))
        .toDF("n_train", "n_test", "n_batches", "n_steps", "accuracy")
        .withColumn("accuracy", round(col("accuracy"), 6))
        .withColumn("sanity_ok", lit(true))
    },

    // The reference's flagship workload end-to-end (SURVEY §7.5 minimum
    // slice, `dask_pipeline.py:124-157`): UQ-normalize → P3 feature mask →
    // log2(x+1) → split → encode → scale → RandomForest → accuracy + CV.
    // Input: an FPKM-like positive matrix derived from the embeddings
    // table (exp transform), string class labels. Fully oracle-checked:
    // split sizes + feature-mask count are replayed in SQL; accuracy /
    // cv stats are differential-oracled from the prediction dumps.
    "q54_gexp_pipeline" -> { (s, d) =>
      val gexp = Tables.embeddings(s, d).select(
        col("vec_id"),
        transform(col("embedding"), x => exp(x.cast("double")) * 10.0).as("features"),
        concat(lit("class_"), (col("label") % 3).cast("string")).as("subtype"))
      val r = graft.ml.GexpPipeline.run(gexp, "vec_id", "features", "subtype",
        dump = Some((testScored, cvPreds) => {
          OracleDump.dump(testScored, "q54_test_preds")
          OracleDump.dump(cvPreds, "q54_cv_preds")
        }))
      s.createDataFrame(Seq((r.nTrain, r.nTest, r.nFeaturesKept.toLong,
          r.accuracy, r.cvMean, r.cvVar)))
        .toDF("n_train", "n_test", "n_features_kept", "accuracy", "cv_mean", "cv_var")
        .withColumn("accuracy", round(col("accuracy"), 6))
        .withColumn("cv_mean", round(col("cv_mean"), 6))
        .withColumn("cv_var", round(col("cv_var"), 9))
    }
  )

  private val unitHashSql: String => String =
    k => s"(CAST(${Parity.keyHashSql(k)} AS DOUBLE) / ${Parity.HashMod}.0)"

  /** CTE chain (`base` … `fct`, `gm`) replaying the exact-mode TMM
    * estimator over the lineitem width-4 matrix, restricted by `where`
    * (empty = full table). Shared by the q64 exact-mode oracle and the q28
    * approx-mode tolerance gate. */
  private def tmmExactCtes(where: String): String = {
    val P = 1 to 4
    val csCols = P.map(j =>
      s"quantile_cont(CASE WHEN f$j > 0 THEN f$j END, 0.75) / CAST(SUM(CAST(f$j AS DECIMAL(38,6))) AS DOUBLE) AS r$j")
      .mkString(", ")
    val sExpr = P.map(j => s"(CASE WHEN f$j > 0 THEN f$j ELSE 0.0 END)").mkString(" + ")
    val s2Expr = P.map(j => s"(CASE WHEN f$j > 0 OR r$j > 0 THEN f$j ELSE 0.0 END)").mkString(" + ")
    val refsExpr = P.map(j => s"(CASE WHEN f$j > 0 OR r$j > 0 THEN r$j ELSE 0.0 END)").mkString(" + ")
    def l2(x: String) = s"(ln($x) / ln(2))"
    def l2num(j: Int) = l2(s"CASE WHEN f$j / s2 = 0 THEN 1.0 ELSE f$j / s2 END")
    def l2den(j: Int) = {
      val raw = l2(s"CASE WHEN r$j / refs = 0 THEN 1.0 ELSE r$j / refs END")
      s"(CASE WHEN $raw = 0 THEN 1.0 ELSE $raw END)"
    }
    val lrs = P.map(j => s"CASE WHEN f$j > 0 THEN (s - f$j) / (s * f$j) END AS lr$j").mkString(", ")
    val aes = P.map(j => s"CASE WHEN f$j > 0 AND r$j > 0 THEN ${l2num(j)} / ${l2den(j)} / 2.0 END AS ae$j").mkString(", ")
    def mem(j: Int) =
      s"(lr$j IS NOT NULL AND NOT isnan(lr$j) AND lr$j > tr.lr_lo AND lr$j < tr.lr_hi AND " +
      s"ae$j IS NOT NULL AND NOT isnan(ae$j) AND ae$j > tr.ae_lo AND ae$j < tr.ae_hi)"
    val ssum = P.map(j => s"(CASE WHEN ${mem(j)} THEN ae$j ELSE 0.0 END)").mkString(" + ")
    val cnt = P.map(j => s"(CASE WHEN ${mem(j)} THEN 1.0 ELSE 0.0 END)").mkString(" + ")
    s"""WITH base AS (
          SELECT l_orderkey, l_linenumber,
            CAST(l_quantity AS DOUBLE) AS f1, CAST(l_extendedprice AS DOUBLE) AS f2,
            CAST(1.0 + l_discount AS DOUBLE) AS f3, CAST(1.0 + l_tax AS DOUBLE) AS f4
          FROM lineitem $where),
        cs AS (SELECT $csCols FROM base),
        rs AS (SELECT b.*, cs.r1, cs.r2, cs.r3, cs.r4,
                 $sExpr AS s, $s2Expr AS s2, $refsExpr AS refs
               FROM base b, cs),
        lra AS (SELECT *, $lrs, $aes FROM rs),
        lrv AS (SELECT v FROM (SELECT unnest([lr1, lr2, lr3, lr4]) AS v FROM lra)
                WHERE v IS NOT NULL AND NOT isnan(v)),
        aev AS (SELECT v FROM (SELECT unnest([ae1, ae2, ae3, ae4]) AS v FROM lra)
                WHERE v IS NOT NULL AND NOT isnan(v)),
        tr AS (SELECT (SELECT quantile_cont(v, 0.3) FROM lrv) AS lr_lo,
                      (SELECT quantile_cont(v, 0.7) FROM lrv) AS lr_hi,
                      (SELECT quantile_cont(v, 0.05) FROM aev) AS ae_lo,
                      (SELECT quantile_cont(v, 0.95) FROM aev) AS ae_hi),
        fct AS (SELECT l_orderkey, l_linenumber, f1,
                  CASE WHEN ($cnt) > 0 THEN ($ssum) / ($cnt) END AS factor
                FROM lra, tr),
        gm AS (SELECT exp(CAST(SUM(CAST(ln(CASE WHEN factor = 0 THEN 1.0 ELSE factor END) AS DECIMAL(28,6))) AS DOUBLE)
                          / COUNT(*)) AS gm
               FROM fct)"""
  }

  override def oracles: Map[String, String] = Map(
    "q83_quantile_binning" ->
      s"""WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                 quantile_cont(l_extendedprice, 0.50) AS q2,
                 quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem)
          SELECT CAST(CASE WHEN l_extendedprice <= q1 THEN 0
                           WHEN l_extendedprice <= q2 THEN 1
                           WHEN l_extendedprice <= q3 THEN 2 ELSE 3 END AS BIGINT) AS bucket,
                 COUNT(*) AS n, ${Sql.dsum("l_extendedprice")} AS sum_price
          FROM lineitem, b GROUP BY 1""",

    // Approx-mode gate: per-bucket rows replayed BIT-EXACTLY from the
    // dumped sketch breaks (assignment + counts + decimal sums are all
    // deterministic given the breaks); within_tol independently asserts
    // each dumped break's empirical rank is within 0.005 of its target
    // quantile — 50× the GK sketch's 1/accuracy = 1e-4 rank-error
    // contract, headroom for duplicate values stepping the empirical CDF.
    // A drifting sketch, wrong probe, or mis-binned row flips the boolean
    // or the per-bucket rows and hash-mismatches.
    "q87_quantile_binning_approx" ->
      s"""WITH br AS (SELECT b1, b2, b3 FROM ${OracleDump.sqlGlob("q87_breaks")}),
          n AS (SELECT COUNT(*) AS n FROM lineitem),
          rk AS (SELECT
                   SUM(CASE WHEN l_extendedprice <= br.b1 THEN 1 ELSE 0 END) * 1.0 / MAX(n.n) AS r1,
                   SUM(CASE WHEN l_extendedprice <= br.b2 THEN 1 ELSE 0 END) * 1.0 / MAX(n.n) AS r2,
                   SUM(CASE WHEN l_extendedprice <= br.b3 THEN 1 ELSE 0 END) * 1.0 / MAX(n.n) AS r3
                 FROM lineitem, br, n),
          tol AS (SELECT (ABS(r1 - 0.25) <= 0.005 AND ABS(r2 - 0.5) <= 0.005
                          AND ABS(r3 - 0.75) <= 0.005) AS ok FROM rk)
          SELECT CAST(CASE WHEN l_extendedprice <= br.b1 THEN 0
                           WHEN l_extendedprice <= br.b2 THEN 1
                           WHEN l_extendedprice <= br.b3 THEN 2 ELSE 3 END AS BIGINT) AS bucket,
                 COUNT(*) AS n, ${Sql.dsum("l_extendedprice")} AS sum_price,
                 MAX(tol.ok) AS within_tol
          FROM lineitem, br, tol GROUP BY 1""",

    "q19_standardized_prices" ->
      s"""WITH s AS (SELECT ${Sql.davg("o_totalprice")} AS mu, ${Sql.dvar("o_totalprice")} AS v FROM orders)
          SELECT o_orderkey, round((o_totalprice - mu) / sqrt(v), 6) AS z FROM orders, s""",

    // UQ algebra replay (the q18 CTEs) applied to the transform output:
    // the loaded model must scale f1 by exactly norm_factor/geo_mean.
    "q89_uq_estimator_persist" ->
      """WITH m AS (
           SELECT l_orderkey, l_linenumber,
                  [CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE),
                   CAST(1.0 + l_discount AS DOUBLE), CAST(1.0 + l_tax AS DOUBLE)] AS arr
           FROM lineitem),
         f AS (
           SELECT l_orderkey, l_linenumber, arr,
                  (ls[3] + (ls[4] - ls[3]) * 0.25) / (arr[1] + arr[2] + arr[3] + arr[4]) AS norm_factor
           FROM (SELECT *, list_sort(arr) AS ls FROM m)),
         g AS (
           SELECT exp(CAST(SUM(CAST(ln(CASE WHEN norm_factor = 0 THEN 1 ELSE norm_factor END) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)) AS gm
           FROM f)
         SELECT l_orderkey, l_linenumber,
                round(arr[1] * (norm_factor / gm), 6) AS f1_scaled
         FROM f, g""",

    "q20_hash_split" ->
      s"""SELECT CASE WHEN ${unitHashSql("o_orderkey")} < 0.7 THEN 'train' ELSE 'test' END AS split,
          COUNT(*) AS n, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1""",

    "q21_stratified_sample" -> {
      val cases = segFractions.map { case (k, f) => s"WHEN c_mktsegment = '$k' THEN $f" }.mkString(" ")
      s"""SELECT c_custkey, c_mktsegment FROM customer
          WHERE ${unitHashSql("c_custkey")} < (CASE $cases ELSE 0.0 END)"""
    },

    "q22_label_encode" ->
      """SELECT c_mktsegment,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, c_mktsegment) - 1 AS DOUBLE) AS label_index
         FROM (SELECT c_mktsegment, COUNT(*) AS cnt FROM customer GROUP BY c_mktsegment)""",

    "q23_fold_counts" ->
      s"""SELECT ${Parity.keyHashSql("o_orderkey")} % 10 AS fold,
          COUNT(*) AS n, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1""",

    // Cross-fit determinism: q24's rows must equal the predictions q25's
    // independent fit dumped.
    "q24_rf_predictions" ->
      s"""SELECT vec_id, label, prediction FROM ${OracleDump.sqlGlob("q25_rf_preds")}""",

    "q25_rf_accuracy" ->
      s"""SELECT 'rf_embeddings' AS model,
            (SELECT COUNT(*) FROM embeddings WHERE ${unitHashSql("vec_id")} < 0.7) AS n_train,
            (SELECT COUNT(*) FROM embeddings WHERE ${unitHashSql("vec_id")} >= 0.7) AS n_test,
            (SELECT round(AVG(CASE WHEN label = prediction THEN 1.0 ELSE 0.0 END), 6)
             FROM ${OracleDump.sqlGlob("q25_rf_preds")}) AS accuracy""",

    "q90_ovr_gbt_multiclass" ->
      s"""WITH pd AS (
            SELECT COUNT(DISTINCT prediction) AS n_distinct,
                   MAX(c) * 1.0 / SUM(c) AS top_share
            FROM (SELECT prediction, COUNT(*) AS c
                  FROM ${OracleDump.sqlGlob("q90_ovr_preds")} GROUP BY prediction))
          SELECT 'ovr_gbt_embeddings' AS model,
            (SELECT COUNT(*) FROM embeddings WHERE ${unitHashSql("vec_id")} < 0.7) AS n_train,
            (SELECT COUNT(*) FROM embeddings WHERE ${unitHashSql("vec_id")} >= 0.7) AS n_test,
            (SELECT round(AVG(CASE WHEN label = prediction THEN 1.0 ELSE 0.0 END), 6)
             FROM ${OracleDump.sqlGlob("q90_ovr_preds")}) AS accuracy,
            (SELECT n_distinct > 1 AND top_share < 0.9 FROM pd) AS sanity_ok""",

    "q26_cv_scores" ->
      s"""WITH acc AS (SELECT fold, round(AVG(CASE WHEN label = prediction THEN 1.0 ELSE 0.0 END), 6) AS accuracy
                       FROM ${OracleDump.sqlGlob("q26_cv_preds")} GROUP BY fold),
          fc AS (SELECT ${Parity.keyHashSql("vec_id")} % 3 AS fold, COUNT(*) AS n_test
                 FROM embeddings GROUP BY 1),
          tot AS (SELECT COUNT(*) AS n FROM embeddings)
          SELECT fc.fold, tot.n - fc.n_test AS n_train, fc.n_test, acc.accuracy
          FROM fc JOIN acc ON acc.fold = fc.fold CROSS JOIN tot""",

    // Config rows are the golden replay of the seeded draw
    // (scala.util.Random(42) over the sorted grid keys); accuracies come
    // from the per-trial prediction dump.
    "q27_random_search" ->
      s"""WITH cfg(trial, reg_param, max_iter) AS (VALUES
            (CAST(0 AS BIGINT), 0.0, CAST(20 AS BIGINT)),
            (CAST(1 AS BIGINT), 0.1, CAST(20 AS BIGINT)),
            (CAST(2 AS BIGINT), 0.01, CAST(10 AS BIGINT)),
            (CAST(3 AS BIGINT), 0.1, CAST(10 AS BIGINT))),
          acc AS (SELECT trial, round(AVG(CASE WHEN label = prediction THEN 1.0 ELSE 0.0 END), 6) AS accuracy
                  FROM ${OracleDump.sqlGlob("q27_trial_preds")} GROUP BY trial)
          SELECT cfg.trial, cfg.reg_param, cfg.max_iter, acc.accuracy
          FROM cfg JOIN acc USING (trial)""",

    // Per-fold argmax (score DESC, trial ASC — Seq.maxBy keeps the first
    // maximum) over the dumped trial table, plus hash-replayed fold sizes.
    "q62_nested_search" ->
      s"""WITH tr AS (SELECT * FROM ${OracleDump.sqlGlob("q62_trials")}),
          best AS (SELECT fold, trial, reg_param, max_iter, score FROM tr
                   QUALIFY ROW_NUMBER() OVER (PARTITION BY fold ORDER BY score DESC, trial) = 1),
          sub AS (SELECT vec_id FROM embeddings WHERE vec_id % 4 = 0),
          fc AS (SELECT ${Parity.keyHashSql("vec_id")} % 3 AS fold, COUNT(*) AS n_test
                 FROM sub GROUP BY 1),
          tot AS (SELECT COUNT(*) AS n FROM sub)
          SELECT b.fold, tot.n - fc.n_test AS n_train, b.trial, b.reg_param, b.max_iter,
                 round(b.score, 6) AS best_score
          FROM best b JOIN fc ON fc.fold = b.fold CROSS JOIN tot""",

    // Full DuckDB replay of the TMM estimator on the width-4 matrix slice,
    // spelled out over explicit position columns f1..f4 so every float op
    // sequence (row sums, log-ratio algebra, trimmed means) matches
    // TmmRatios' left-to-right loops. quantile_cont == Spark's exact
    // `percentile` bit-for-bit; colsum/geomean go through exact decimals.
    "q64_tmm_exact" ->
      s"""${tmmExactCtes("WHERE l_orderkey % 20 = 0")}
          SELECT l_orderkey, l_linenumber, round(factor / gm.gm, 6) AS scaling_factor
          FROM fct, gm""",

    // The q64 replay applied to the loaded model's TRANSFORM output:
    // f1 scaled by factor/geo_mean (null factor → null scaled value).
    "q91_tmm_estimator_persist" ->
      s"""${tmmExactCtes("WHERE l_orderkey % 20 = 0")}
          SELECT l_orderkey, l_linenumber,
                 round(f1 * (factor / gm.gm), 6) AS f1_scaled
          FROM fct, gm""",

    // Tolerance gate for the approx (scale) mode: replay the EXACT
    // estimator over the FULL table, pair the dumped approx factors, and
    // assert (a) every row pairs (COUNT gate) and (b) at most 0.1% of rows
    // deviate by ≥ 1e-4 or flip nullness. The 0.1% allowance is the GK
    // sketch's contract, not slack: rank error ε = 1/accuracy = 2e-5 shifts
    // each of the 4 trim thresholds by ≤ ε·N value-ranks, flipping ≤ ~4·ε·N
    // (row,gene) trim memberships (~20 rows here, 0.02% measured — and with
    // only 4 genes per row one flipped gene legitimately moves that row's
    // trimmed mean). Every other row must agree to 1e-4 (measured ~1e-6).
    "q28_tmm_factors" ->
      s"""${tmmExactCtes("")},
          ex AS (SELECT l_orderkey, l_linenumber, factor / gm.gm AS exact_sf FROM fct, gm),
          ap AS (SELECT * FROM ${OracleDump.sqlGlob("q28_factors")}),
          -- (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
          -- rank-pair the factors within each key (both sides sorted the
          -- same way) so the comparison aligns multisets instead of
          -- exploding, and every row must pair (COUNT gate).
          exr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
                              ORDER BY exact_sf NULLS FIRST) AS rn FROM ex),
          apr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
                              ORDER BY scaling_factor NULLS FIRST) AS rn FROM ap),
          j AS (SELECT COUNT(*) AS n,
                       SUM(CASE WHEN (apr.scaling_factor IS NULL) != (exr.exact_sf IS NULL) THEN 1
                                WHEN abs(apr.scaling_factor - exr.exact_sf) >= 1e-4 THEN 1
                                ELSE 0 END) AS n_deviant
                FROM apr JOIN exr USING (l_orderkey, l_linenumber, rn)),
          -- n_rows is the EXACT side's count, NOT the pair count: a dump
          -- missing K rows would still inner-join cleanly, so anchoring the
          -- gate to the replay's own cardinality is what makes missing rows
          -- (and any unpaired substitutions, via j.n) detectable.
          ec AS (SELECT COUNT(*) AS n FROM ex)
          SELECT ec.n AS n_rows,
                 (j.n = ec.n AND j.n_deviant <= 0.001 * ec.n) AS within_tol
          FROM j, ec""",

    // Split sizes replayed from the hash split; batch/step counts are the
    // protocol's fixed shape; accuracy recomputed from the dump, and
    // sanity_ok independently recomputed from the dump's prediction
    // distribution — a degenerate model (constant or near-constant
    // predictions from a broken gradient step) flips it to false and
    // hash-mismatches the gate.
    "q76_incremental_fit" ->
      s"""WITH pd AS (
            SELECT COUNT(DISTINCT prediction) AS n_distinct,
                   MAX(c) * 1.0 / SUM(c) AS top_share
            FROM (SELECT prediction, COUNT(*) AS c
                  FROM ${OracleDump.sqlGlob("q76_inc_preds")} GROUP BY prediction))
          SELECT
            (SELECT COUNT(*) FROM embeddings WHERE ${unitHashSql("vec_id")} < 0.7) AS n_train,
            (SELECT COUNT(*) FROM embeddings WHERE ${unitHashSql("vec_id")} >= 0.7) AS n_test,
            CAST(3 AS BIGINT) AS n_batches,
            CAST(24 AS BIGINT) AS n_steps,
            (SELECT round(AVG(CASE WHEN label = prediction THEN 1.0 ELSE 0.0 END), 6)
             FROM ${OracleDump.sqlGlob("q76_inc_preds")}) AS accuracy,
            (SELECT n_distinct > 1 AND top_share < 0.9 FROM pd) AS sanity_ok""",

    // Full SQL replay of the pipeline's deterministic spine — the feature
    // matrix (exp·10), the UpperQuartile row factors (type-7 q75 / ordered
    // row sum, geometric-mean symmetrization via exact-decimal log sums),
    // the exact-decimal per-position stats, and the q25 mean/var mask —
    // plus accuracy / CV stats recomputed from the prediction dumps.
    "q54_gexp_pipeline" -> {
      val rowSum = (1 to 64).map(i => s"f[$i]").mkString(" + ")
      s"""WITH feat AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> exp(x) * 10.0) AS f
            FROM embeddings),
          nf AS (
            SELECT vec_id, f, ${Sql.q7("ls", 64, 0.75)} / ($rowSum) AS nf
            FROM (SELECT vec_id, f, list_sort(f) AS ls FROM feat)),
          gm AS (
            SELECT exp(CAST(SUM(CAST(ln(CASE WHEN nf = 0 THEN 1 ELSE nf END) AS DECIMAL(28,6))) AS DOUBLE)
                       / COUNT(*)) AS gm
            FROM nf),
          norm AS (SELECT vec_id, list_transform(f, x -> x * (nf / gm.gm)) AS g FROM nf, gm),
          pos AS (SELECT unnest(g) AS v, unnest(range(len(g))) AS p FROM norm),
          stats AS (SELECT p, COUNT(*) AS n,
                      CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE) AS s,
                      CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE) AS s2
                    FROM pos GROUP BY p),
          mv AS (SELECT p, s / n AS mean, (s2 - s * s / n) / (n - 1.0) AS var FROM stats),
          thr AS (SELECT quantile_cont(mean, 0.25) AS tm, quantile_cont(var, 0.25) AS tv FROM mv),
          kept AS (SELECT COUNT(*) AS k FROM mv, thr WHERE mean > thr.tm AND var > thr.tv),
          tacc AS (SELECT round(AVG(CASE WHEN label_index = prediction THEN 1.0 ELSE 0.0 END), 6) AS accuracy
                   FROM ${OracleDump.sqlGlob("q54_test_preds")}),
          facc AS (SELECT fold, AVG(CASE WHEN label_index = prediction THEN 1.0 ELSE 0.0 END) AS a
                   FROM ${OracleDump.sqlGlob("q54_cv_preds")} GROUP BY fold),
          cvs AS (SELECT (SELECT a FROM facc WHERE fold = 0) AS a0,
                         (SELECT a FROM facc WHERE fold = 1) AS a1,
                         (SELECT a FROM facc WHERE fold = 2) AS a2),
          cvm AS (SELECT a0, a1, a2, (a0 + a1 + a2) / 3.0 AS m FROM cvs),
          cvv AS (SELECT round(m, 6) AS cv_mean,
                         round(((a0 - m) * (a0 - m) + (a1 - m) * (a1 - m) + (a2 - m) * (a2 - m)) / 3.0, 9) AS cv_var
                  FROM cvm)
          SELECT
            (SELECT COUNT(*) FROM embeddings WHERE ${unitHashSql("vec_id")} < 0.7) AS n_train,
            (SELECT COUNT(*) FROM embeddings WHERE ${unitHashSql("vec_id")} >= 0.7) AS n_test,
            kept.k AS n_features_kept, tacc.accuracy, cvv.cv_mean, cvv.cv_var
          FROM kept, tacc, cvv"""
    }
  )
}
