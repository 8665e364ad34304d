package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.relational.Scale
import graft.similarity.Similarity
import graft.text.TextOps

/** The LLM-data operators: near-duplicate detection (LSH bands →
  * candidate pairs → connected components), TF-IDF, and IVF top-k beside
  * the brute-force top-k it is validated against. Both inputs are written
  * as several files, so the scan is already split and `Scale.fanOut`
  * leaves it alone. */
final class CorpusWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import CorpusWorkload._

  private val docsDir = s"$dir/docs"
  private val vecsDir = s"$dir/vectors"
  private var docs: IndexedSeq[(Long, String)] = _
  private var planted: Set[(Long, Long)] = _
  private var vecs: IndexedSeq[(Long, Array[Double])] = _
  private val out = mutable.Map.empty[Int, Out]
  private val probes = mutable.Map.empty[Int, (Double, Double)] // (candidates scored, cell skew)

  private final case class Out(pairs: Set[(Long, Long)], comp: Map[Long, Long], tfidfRows: Long,
                               ivf: Map[Long, Set[Long]], brute: Seq[(Long, Long, Double)])

  def generate(): Inputs = {
    val rnd = new java.util.Random(seed)
    def word(): String = s"w${(Vocab * math.pow(rnd.nextDouble(), 2)).toInt}"
    val bases = IndexedSeq.fill(Docs - Dups)(Seq.fill(40 + rnd.nextInt(21))(word()))
    // every copy has its own source, so every planted component is one
    // pair and the component search does the same work for every seed
    val sources = rnd.ints(0, bases.size).distinct().limit(Dups.toLong).toArray
    val copies = sources.toIndexedSeq.map { src =>
      val w = bases(src).toArray
      w(rnd.nextInt(w.length)) = s"x${rnd.nextInt(Vocab)}" // one substituted word
      (src, w.toSeq)
    }
    // ids are a seeded permutation, so planted copies are not id-adjacent
    val ids = rnd.ints(0, Int.MaxValue).distinct().limit(Docs.toLong).toArray.map(_.toLong)
    docs = (bases ++ copies.map(_._2)).zip(ids).map { case (ws, id) => (id, ws.mkString(" ")) }
    planted = copies.zipWithIndex.map { case ((src, _), j) =>
      val (a, b) = (ids(src), ids(bases.size + j)); (math.min(a, b), math.max(a, b))
    }.toSet
    val centers = Array.fill(Clusters, Dim)(rnd.nextGaussian())
    vecs = (0 until Vectors).map { i =>
      val c = centers(i % Clusters) // equal clusters; the centroid ids hit all 16
      (i.toLong, Array.tabulate(Dim)(d => math.round((c(d) + rnd.nextGaussian() * Noise) * 1e4) / 1e4))
    }
    val d = Workload.writeFiles(spark.createDataFrame(spark.sparkContext.parallelize(docs, Files))
      .toDF("doc_id", "text"), docsDir, "docs")
    val v = Workload.writeFiles(spark.createDataFrame(spark.sparkContext.parallelize(vecs.map(x => (x._1, x._2.toSeq)), Files))
      .toDF("vec_id", "v"), vecsDir, "vectors")
    Inputs(Seq("docs" -> Docs.toLong, "planted_pairs" -> planted.size.toLong, "vectors" -> Vectors.toLong,
      "dim" -> Dim.toLong, "queries" -> (Vectors / QueryEvery).toLong), d ++ v)
  }

  private def vectors(): DataFrame = Scale.fanOut(spark.read.parquet(vecsDir))
  private def cents(v: DataFrame) = v.filter(pmod(col("vec_id"), lit(CentroidEvery)) === 0)
    .select(col("vec_id").as("__cell"), col("v").as("__cv"))
  private def queries(v: DataFrame) = v.filter(pmod(col("vec_id"), lit(QueryEvery)) === 0)
    .select(col("vec_id").as("q_id"), col("v").as("qv"))

  def run(iter: Int, t: Tracer): Unit = {
    val d = t.span("io", "scan") { Scale.fanOut(spark.read.parquet(docsDir)) }
    val (pairsDf, pairs) = t.span("dedup", "candidates") {
      val p = Dedup.candidatePairs(Dedup.bandTable(d, "doc_id", "text"), "doc_id")
      (p, p.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    val comp = t.span("dedup", "components") {
      val c = Dedup.connectedComponents(pairsDf, "id_a", "id_b")
      val m = c.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      c.unpersist(); pairsDf.unpersist()
      m
    }
    val tfidfRows = t.span("text", "tfidf") {
      TextOps.tfidf(d, "doc_id", "text").agg(count(lit(1))).head().getLong(0)
    }
    val v = t.span("io", "scan") { vectors() }
    val ivf = t.span("similarity", "ivf") {
      Similarity.ivfTopK(v, queries(v), cents(v), "q_id", "vec_id", "qv", "v", k = K, nprobe = NProbe, exact = false)
        .select("q_id", "vec_id").collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }
    val brute = t.span("similarity", "brute") {
      Similarity.bruteForceTopK(queries(v), v, "q_id", "vec_id", "qv", "v", K, exact = false)
        .select("q_id", "vec_id", "cos").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    out(iter) = Out(pairs, comp, tfidfRows, ivf, brute)
  }

  /** Work the IVF probe did and how evenly the cells split the corpus. */
  override def probe(iter: Int): Unit = {
    val v = vectors()
    val sizes = Similarity.indexCells(v, cents(v), "v", exact = false).groupBy("__cell").count()
    val scored = Similarity.routeToCells(queries(v), cents(v), "qv", NProbe, exact = false)
      .join(sizes, "__cell").agg(sum("count")).head().getLong(0)
    val counts = sizes.collect().map(_.getLong(1).toDouble)
    probes(iter) = (scored.toDouble, counts.max / (counts.sum / counts.length))
  }

  private def dedupRecall(o: Out): Double =
    planted.count { case (a, b) => o.comp.contains(a) && o.comp.get(a) == o.comp.get(b) }.toDouble / planted.size

  private def annRecall(o: Out): Double = {
    val byQ = o.brute.groupBy(_._1)
    byQ.map { case (q, rs) => rs.count(r => o.ivf.getOrElse(q, Set.empty[Long]).contains(r._2)).toDouble / rs.size }
      .sum / byQ.size
  }

  /** Brute force replayed in plain Scala: every returned cosine matches,
    * and none falls below the replay's k-th best. */
  private lazy val bruteReplay: Map[Long, (Map[Long, Double], Double)] = {
    val qs = vecs.filter(_._1 % QueryEvery == 0)
    def cos(a: Array[Double], b: Array[Double]) = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    qs.map { case (q, qv) =>
      val all = vecs.filter(_._1 != q).map { case (c, cv) => c -> cos(qv, cv) }
      q -> (all.toMap, all.map(_._2).sorted(Ordering[Double].reverse)(K - 1))
    }.toMap
  }

  private lazy val tfidfReplay: Long = docs.map(_._2.split(" ").distinct.length.toLong).sum

  def check(iter: Int): Seq[String] = {
    val o = out(iter)
    val bad = mutable.ArrayBuffer.empty[String]
    val dr = dedupRecall(o)
    if (dr < DedupRecallFloor) bad += f"dedup recall $dr%.4f below floor $DedupRecallFloor"
    val ar = annRecall(o)
    if (ar < AnnRecallFloor) bad += f"ANN recall@$K $ar%.4f below floor $AnnRecallFloor"
    if (o.tfidfRows != tfidfReplay) bad += s"tfidf rows ${o.tfidfRows} != replay $tfidfReplay"
    val wrong = o.brute.filterNot { case (q, c, cs) =>
      val (all, kth) = bruteReplay(q)
      math.abs(all(c) - cs) < 1e-5 && cs >= kth - 1e-5
    }
    if (wrong.nonEmpty || o.brute.size != bruteReplay.size * K)
      bad += s"brute-force top-$K: ${wrong.size} rows disagree with the replay, ${o.brute.size} rows"
    bad.map(m => s"corpus_dedup_search: $m").toSeq
  }

  def results(untraced: Seq[Int], t: Tracer): Seq[Metric] =
    untraced.lastOption.toSeq.flatMap { i =>
      Seq(Metric("ann_recall_at_10", annRecall(out(i)), "ratio"), Metric("dedup_recall", dedupRecall(out(i)), "ratio"))
    }

  override def traceResults(traced: Seq[Int], t: Tracer): Seq[Metric] = {
    val os = traced.map(out)
    Seq(
      Metric("dedup.candidate_pairs", Stats.median(os.map(_.pairs.size.toDouble)), "count"),
      Metric("dedup.pair_precision", Stats.median(os.map(o => o.pairs.count(planted).toDouble / o.pairs.size)), "ratio"),
      Metric("similarity.candidates_scored", Stats.median(traced.map(probes(_)._1)), "count"),
      Metric("similarity.cell_skew", Stats.median(traced.map(probes(_)._2)), "ratio"))
  }
}

object CorpusWorkload {
  val Docs = 2000
  val Dups = 200 // 10% planted near-duplicates
  val Vocab = 3000
  val Files = 4
  val Vectors = 2000
  val Dim = 32
  val Clusters = 16
  val Noise = 0.9
  val CentroidEvery = 125
  val QueryEvery = 20
  val K = 10
  val NProbe = 2
  val DedupRecallFloor = 0.9
  val AnnRecallFloor = 0.5
}
