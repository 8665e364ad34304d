package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see `SURVEY.md` §7 at the repo root.
  *
  * Queries and oracles are assembled from per-domain [[QueryPack]]s; each
  * pack documents which SURVEY §2 operators it covers.
  */
object SparkEntry {

  /** All packs, in registration order. Keys must be globally unique. */
  def packs: Seq[QueryPack] = Seq(
    _root_.graft.queries.RelationalPack,
    _root_.graft.queries.MatrixPack,
    _root_.graft.queries.MLPack,
    _root_.graft.queries.DedupPack,
    _root_.graft.queries.SimilarityPack,
    _root_.graft.queries.TextPack,
    _root_.graft.queries.TrainPack,
    _root_.graft.queries.StreamPack,
    _root_.graft.queries.MultimodalPack,
    _root_.graft.queries.SinkPack,
    _root_.graft.queries.ExtrasPack,
    _root_.graft.queries.AnalyticsPack,
    _root_.graft.queries.ScaleOpsPack,
    _root_.graft.queries.BehaviorPack,
    _root_.graft.queries.QualityPack
  )

  /** Flagship query on the sf0.001 corpus; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, graft.util.Staging.corpus("sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver's rows-only check. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap

  /** Pre-stage every pack's derived test inputs (idempotent) — called by
    * Bench/Verify before timing so staging writes never pollute query
    * measurements. */
  def stage(spark: SparkSession, sfDir: String): Unit =
    packs.foreach(_.stage(spark, sfDir))
}
