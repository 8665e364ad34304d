package graft

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.graft.{TMMNormalizer, TMMNormalizerModel, UpperQuartileNormalizer, UpperQuartileNormalizerModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.Normalization

/** MLlib-conformance spec for the Estimator/Model wrappers: wrapper ≡
  * engine bit-for-bit, save→load→transform round-trips bit-identically,
  * and the stages compose into (and persist through) a stock ml.Pipeline.
  */
class NormalizerEstimatorSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    (0L, Seq(2.0, 0.0, 8.0, 6.0)),
    (1L, Seq(4.0, 0.0, 4.0, 2.0)),
    (2L, Seq(1.0, 0.0, 3.0, 5.0)),
    (3L, Seq(7.0, 0.0, 2.0, 9.0))
  ).toDF("row_id", "features")

  // getSeq[Any]: TMM's factor (trimmed mean) is legitimately null on tiny
  // fixtures when no position survives both trims, which nulls the scaled
  // elements — the comparison must be null-tolerant, not Seq[Double]-typed.
  private def collectFeatures(df: DataFrame): Map[Long, Seq[Any]] =
    df.select($"row_id", $"features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap

  private def tmpDir(name: String): String = {
    val d = scratch(s"mlspec_$name")
    graft.util.Staging.deleteRecursive(d)
    d
  }

  test("UpperQuartileNormalizer ≡ engine estimator and round-trips bit-identically") {
    val est = new UpperQuartileNormalizer().setQuantile(0.75).setFeaturesCol("features")
    val model = est.fit(fixture)

    // wrapper ≡ engine (the wrapper must add no numeric drift)
    val engineModel = new Normalization.UpperQuartile(0.75, "features").fit(fixture)
    assert(model.kept.toSeq == engineModel.kept && model.width == engineModel.width)
    assert(model.geoMean == engineModel.geoMean) // bit equality
    val direct = collectFeatures(engineModel.transform(fixture))
    val viaWrapper = collectFeatures(model.transform(fixture))
    assert(viaWrapper == direct)

    // save → load → transform: bit-identical model and output
    val dir = tmpDir("uq")
    model.write.overwrite().save(dir)
    val loaded = UpperQuartileNormalizerModel.load(dir)
    assert(loaded.kept.toSeq == model.kept.toSeq)
    assert(loaded.width == model.width && loaded.geoMean == model.geoMean)
    assert(loaded.getOrDefault(loaded.quantile) == 0.75)
    assert(collectFeatures(loaded.transform(fixture)) == direct)
  }

  test("TMMNormalizer ≡ engine estimator and round-trips bit-identically") {
    val est = new TMMNormalizer().setLogRatioTrim(0.3).setAbsExprTrim(0.05)
      .setExact(true).setFeaturesCol("features")
    val model = est.fit(fixture)

    val engineModel = new Normalization.TMM(0.3, 0.05, "features", exact = true).fit(fixture)
    assert(model.kept.toSeq == engineModel.kept && model.geoMean == engineModel.geoMean)
    assert(model.pseudoref.toSeq == engineModel.pseudoref.toSeq)
    assert(Seq(model.lrLo, model.lrHi, model.aeLo, model.aeHi) ==
      Seq(engineModel.lrLo, engineModel.lrHi, engineModel.aeLo, engineModel.aeHi))
    val direct = collectFeatures(engineModel.transform(fixture))
    assert(collectFeatures(model.transform(fixture)) == direct)

    val dir = tmpDir("tmm")
    model.write.overwrite().save(dir)
    val loaded = TMMNormalizerModel.load(dir)
    assert(loaded.kept.toSeq == model.kept.toSeq &&
      loaded.pseudoref.toSeq == model.pseudoref.toSeq &&
      loaded.geoMean == model.geoMean &&
      Seq(loaded.lrLo, loaded.lrHi, loaded.aeLo, loaded.aeHi) ==
        Seq(model.lrLo, model.lrHi, model.aeLo, model.aeHi))
    assert(collectFeatures(loaded.transform(fixture)) == direct)

    // factor surface agrees with the engine's scoring path
    val f1 = loaded.withFactors(fixture).select($"row_id", $"scaling_factor")
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val f2 = engineModel.withFactors(fixture).select($"row_id", $"scaling_factor")
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(f1 == f2)
  }

  test("stages compose into a stock ml.Pipeline and persist through PipelineModel") {
    val pipe = new Pipeline().setStages(Array(
      new UpperQuartileNormalizer().setQuantile(0.75).setFeaturesCol("features")))
    val pm = pipe.fit(fixture)
    val expected = collectFeatures(pm.transform(fixture))

    // PipelineModel.load resolves stages reflectively via each model
    // companion's MLReadable — the round-trip proves the wrappers are
    // first-class citizens of MLlib persistence, not just standalone files.
    val dir = tmpDir("uq_pipeline")
    pm.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    assert(collectFeatures(loaded.transform(fixture)) == expected)

    // the UNFITTED pipeline persists too (DefaultParamsReadable estimator)
    val estDir = tmpDir("uq_pipeline_est")
    pipe.write.overwrite().save(estDir)
    val reloadedPipe = Pipeline.load(estDir)
    assert(collectFeatures(reloadedPipe.fit(fixture).transform(fixture)) == expected)
  }

  test("estimator rejects non array<double> feature columns") {
    val bad = Seq((1L, "oops")).toDF("row_id", "features")
    intercept[IllegalArgumentException] {
      new UpperQuartileNormalizer().fit(bad)
    }
  }
}
