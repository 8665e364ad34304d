package graftbench

import java.io.File
import java.nio.file.{Files, Path => JPath}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Seeded inputs as written: sizes (row counts among them) and a SHA-256
  * over the bytes of every generated file, taken in path order. */
final case class Inputs(sizes: Seq[(String, Long)], files: Seq[File]) {
  val sha256: String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.sortBy(_.getPath).foreach(f => md.update(Files.readAllBytes(f.toPath)))
    md.digest().map("%02x".format(_)).mkString
  }
  val bytes: Long = files.map(_.length).sum
}

/** One closed-loop workload with a single client: the next iteration
  * starts when the previous one returns.
  *
  * Once per run: `generate` writes the seeded inputs under `dir`.
  * Per iteration: `reset` (untimed) prepares the iteration, `run` is the
  * timed iteration whose every call into the program sits in a tracer
  * span, `check` (untimed) replays the expected output independently and
  * returns the failed checks, and `probe` (untimed, traced iterations
  * only) gathers counters that need extra queries. */
trait Workload {
  def generate(): Inputs
  def reset(iter: Int): Unit = ()
  def run(iter: Int, t: Tracer): Unit
  def check(iter: Int): Seq[String]
  def probe(iter: Int): Unit = ()
  /** Iterations, warm-ups included, the generated inputs can feed. */
  def maxIterations: Int = Int.MaxValue
  /** Workload-specific end-to-end results over the checked untraced
    * iterations; `traceResults`: its own counters over the traced ones. */
  def results(untraced: Seq[Int], t: Tracer): Seq[Metric]
  def traceResults(traced: Seq[Int], t: Tracer): Seq[Metric] = Nil
}

object Workload {
  val names: Seq[String] = Seq("gexp_pipeline", "table_lifecycle", "stream_sessions", "corpus_dedup_search")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "gexp_pipeline" => new GexpWorkload(spark, seed, dir)
    case "table_lifecycle" => new TableWorkload(spark, seed, dir)
    case "stream_sessions" => new StreamWorkload(spark, seed, dir)
    case "corpus_dedup_search" => new CorpusWorkload(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The parquet data files under `dir`, for fingerprinting. */
  def parquetFiles(dir: String): Seq[File] = {
    val it = Files.walk(new File(dir).toPath)
    try it.iterator().asScala.map((p: JPath) => p.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq.sortBy(_.getPath)
    finally it.close()
  }

  /** Write `df` one parquet file per partition, as `<stem>-<i>.parquet`
    * in `dir` (Spark's part files renamed so names do not vary by run).
    * Build `df` from a local collection sliced into partitions, so no
    * shuffle decides row order and the bytes repeat for a seed. */
  def writeFiles(df: org.apache.spark.sql.DataFrame, dir: String, stem: String): Seq[File] = {
    val tmp = s"$dir/.staging-$stem"
    df.write.mode("overwrite").parquet(tmp)
    writeRenamed(tmp, dir, stem)
  }

  /** All of `df` as one parquet file `<stem>-000.parquet` in `dir`. */
  def writeOneFile(df: org.apache.spark.sql.DataFrame, dir: String, stem: String): File = {
    val tmp = s"$dir/.staging-$stem"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    writeRenamed(tmp, dir, stem).head
  }

  private def writeRenamed(tmp: String, dir: String, stem: String): Seq[File] = {
    new File(dir).mkdirs()
    val parts = new File(tmp).listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val out = parts.zipWithIndex.map { case (f, i) =>
      val dst = new File(dir, f"$stem-$i%03d.parquet")
      Files.move(f.toPath, dst.toPath)
      dst
    }
    deleteRecursive(new File(tmp))
    out.toSeq
  }

  def deleteRecursive(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursive))
    f.delete()
  }
}
