package graftbench

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.matrix.ArrayOps
import graft.ml.{DeterministicSplits, GexpPipeline, Models, Normalization, PipelineStages}
import graft.relational.{Scale, StatsProjection}

/** The paper's own workload, `GexpPipeline.run`, over a synthetic
  * FPKM-like matrix written as ONE parquet file (so the scan has a single
  * split and `Scale.fanOut` spreads it). */
final class GexpWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import GexpWorkload._

  private val file = s"$dir/matrix"
  private var rows: Array[(Long, String, Array[Double])] = _
  /** Per iteration: whether it ran [[stepwise]], and its result. */
  private val out = scala.collection.mutable.Map.empty[Int, (Boolean, GexpPipeline.Result)]

  def generate(): Inputs = {
    rows = matrix(seed)
    val f = Workload.writeOneFile(spark.createDataFrame(rows.toSeq).toDF("sample_id", "subtype", "features"),
      file, "matrix")
    Inputs(Seq("samples" -> Samples.toLong, "genes" -> Genes.toLong, "subtypes" -> Subtypes.toLong,
      "rows" -> rows.length.toLong), Seq(f))
  }

  /** Untraced iterations time the program's own `GexpPipeline.run`, one
    * span. Traced iterations run [[stepwise]] for a span per step. */
  def run(iter: Int, t: Tracer): Unit = {
    val df = t.span("io", "scan") { Scale.fanOut(spark.read.parquet(file)) }
    out(iter) = t.tracing ->
      (if (t.tracing) stepwise(df, t)
      else t.span("ml", "pipeline") {
        GexpPipeline.run(df, "sample_id", "features", "subtype", cvFolds = CvFolds, maskQuantile = MaskQuantile)
      })
  }

  /** `GexpPipeline.run` statement for statement (same persists, order,
    * 30 trees and counts), with a span around each step. */
  private def stepwise(df: DataFrame, t: Tracer): GexpPipeline.Result = {
    val normalized = t.span("ml", "normalize") {
      val uq = new Normalization.UpperQuartile(0.75, "features").fit(df)
      uq.transform(df).persist(StorageLevel.MEMORY_AND_DISK)
    }
    val (kept, width) = t.span("ml", "feature_stats") {
      val (means, vars) = GexpPipeline.positionStatsExact(normalized, "features")
      val tm = StatsProjection.quantileType7(means.toSeq, MaskQuantile)
      val tv = StatsProjection.quantileType7(vars.toSeq, MaskQuantile)
      (means.indices.filter(i => means(i) > tm && vars(i) > tv), means.length)
    }
    val (train, test, trainReady, testReady) = t.span("ml", "prepare") {
      val prepared = normalized
        .withColumn("features", ArrayOps.log2p1(Normalization.maskPositions(col("features"), kept, width)))
        .withColumn("features_vec", PipelineStages.arrayToVector(col("features")))
      val train = DeterministicSplits.trainSplit(prepared, col("sample_id"), TrainFraction)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val test = DeterministicSplits.testSplit(prepared, col("sample_id"), TrainFraction)
      val labelIndex = PipelineStages.fitLabelIndex(train, "subtype")
      def encoded(part: DataFrame) =
        PipelineStages.encodeLabels(part, labelIndex, "subtype").na.drop(Seq("label_index"))
      val scaler = PipelineStages.standardScaler("features_vec", "features_std").fit(encoded(train))
      (train, test, scaler.transform(encoded(train)).persist(StorageLevel.MEMORY_AND_DISK),
        scaler.transform(encoded(test)))
    }
    val rf = Models.randomForest("label_index", "features_std", numTrees = Trees)
    val model = t.span("ml", "rf_fit") { rf.fit(trainReady) }
    val accuracy = t.span("ml", "score") {
      val scored = model.transform(testReady).select(col("sample_id"), col("label_index"), col("prediction"))
      Models.accuracy("label_index").evaluate(scored)
    }
    val cv = t.span("ml", "cv") {
      Models.kFoldCvWithPreds(trainReady, CvFolds, "sample_id",
        tr => { val m = rf.fit(tr); te => m.transform(te) },
        scored => Models.accuracy("label_index").evaluate(scored))(_ => ())
    }
    val (nTrain, nTest) = t.span("ml", "split_counts") { (train.count(), test.count()) }
    t.span("ml", "release", op = false) { trainReady.unpersist(); train.unpersist(); normalized.unpersist() }
    GexpPipeline.Result(nTrain, nTest, kept.size, accuracy, cv.sum / cv.size, 0.0)
  }

  private lazy val expected = replay(rows)

  def check(iter: Int): Seq[String] = {
    val (stepped, r) = out(iter)
    val (nTrain, nTest, nKept) = expected
    // same input, same seeded forest: every run of the same code agrees
    val first = out.filter(_._2._1 == stepped).keys.min
    Seq(
      (r.nTrain == nTrain) -> s"train split ${r.nTrain} != replay $nTrain",
      (r.nTest == nTest) -> s"test split ${r.nTest} != replay $nTest",
      (r.nFeaturesKept == nKept) -> s"kept genes ${r.nFeaturesKept} != replay $nKept",
      (r.accuracy > 1.0 / Subtypes) -> s"accuracy ${r.accuracy} not above chance ${1.0 / Subtypes}",
      (r.accuracy == out(first)._2.accuracy) ->
        s"accuracy ${r.accuracy} differs from ${out(first)._2.accuracy} on the same input"
    ).collect { case (false, msg) => s"gexp_pipeline: $msg" }
  }

  def results(untraced: Seq[Int], t: Tracer): Seq[Metric] =
    untraced.lastOption.map(i => Metric("gexp_accuracy", out(i)._2.accuracy, "ratio")).toSeq

  /** 1 when the stepwise copy reproduced the pipeline's own result; 0
    * shows the copy drifted from `GexpPipeline.run`. */
  override def traceResults(traced: Seq[Int], t: Tracer): Seq[Metric] = {
    val own = out.values.filter(!_._1).map(_._2).toSet
    val stepped = traced.map(i => out(i)._2.copy(cvVar = 0.0))
    Seq(Metric("ml.stepwise_matches_pipeline",
      if (stepped.forall(r => own.map(_.copy(cvVar = 0.0)).contains(r))) 1.0 else 0.0, "bool"))
  }
}

object GexpWorkload {
  val Samples = 150
  val Genes = 300
  val Subtypes = 5
  val Trees = 30
  val CvFolds = 3
  val TrainFraction = 0.7
  val MaskQuantile = 0.25

  /** FPKM-like positive matrix: per-gene log-normal base level, a weak
    * subtype effect on ~5% of genes, per-sample library size, ~5% dropout
    * zeros and 2% never-expressed genes. Values carry 3 decimals. */
  def matrix(seed: Long): Array[(Long, String, Array[Double])] = {
    val rnd = new java.util.Random(seed)
    val base = Array.fill(Genes)(math.exp(rnd.nextGaussian() * 1.5 + 2.0))
    val silent = Array.fill(Genes)(rnd.nextDouble() < 0.02)
    val effect = Array.fill(Subtypes, Genes)(if (rnd.nextDouble() < 0.05) rnd.nextGaussian() * 0.7 else 0.0)
    Array.tabulate(Samples) { s =>
      val c = s % Subtypes // equal subtypes
      val lib = math.exp(rnd.nextGaussian() * 0.3)
      val x = Array.tabulate(Genes) { g =>
        val noise = rnd.nextGaussian() * 0.6
        if (silent(g) || rnd.nextDouble() < 0.05) 0.0
        else math.round(base(g) * lib * math.exp(effect(c)(g) + noise) * 1000.0) / 1000.0
      }
      (s.toLong * 7919L + seed % 1000, s"subtype_$c", x)
    }
  }

  /** Split sizes and kept-gene count, replayed in plain Scala with the
    * same arithmetic the pipeline specifies: UpperQuartile scaling, exact
    * decimal position stats, type-7 quantile thresholds, key-hash split. */
  def replay(rows: Array[(Long, String, Array[Double])]): (Long, Long, Int) = {
    val n = rows.length
    val width = rows.head._3.length
    val expressed = (0 until width).filter(g => rows.exists(_._3(g) != 0.0))
    val masked = rows.map(r => expressed.map(r._3).toArray)
    val nf = masked.map { a =>
      val sum = a.foldLeft(0.0)(_ + _)
      quantile7(a, 0.75) / sum
    }
    val lnSum = nf.map(f => BigDecimal(math.log(if (f == 0.0) 1.0 else f)).setScale(6, RoundingMode.HALF_UP)).sum
    val gm = math.exp(lnSum.toDouble / n.toDouble)
    val norm = masked.zip(nf).map { case (a, f) => val s = f / gm; a.map(_ * s) }
    val w = expressed.size
    val means = new Array[Double](w)
    val vars = new Array[Double](w)
    for (g <- 0 until w) {
      var s = BigDecimal(0); var s2 = BigDecimal(0)
      norm.foreach { a =>
        s += BigDecimal(a(g)).setScale(18, RoundingMode.HALF_UP)
        s2 += BigDecimal(a(g) * a(g)).setScale(18, RoundingMode.HALF_UP)
      }
      val sd = s.toDouble
      means(g) = sd / n
      vars(g) = (s2.toDouble - sd * sd / n) / (n - 1.0)
    }
    val tm = quantile7(means, MaskQuantile)
    val tv = quantile7(vars, MaskQuantile)
    val kept = (0 until w).count(g => means(g) > tm && vars(g) > tv)
    val mod = 1000000007L
    val nTrain = rows.count { r => (((r._1 % mod + mod) % mod) * 2654435761L % mod).toDouble / mod.toDouble < TrainFraction }
    (nTrain.toLong, (n - nTrain).toLong, kept)
  }

  private def quantile7(a: Array[Double], q: Double): Double = {
    val s = a.sorted
    val pos = (s.length - 1).toDouble * q
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo.toDouble)
  }
}
