package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{FileSkipping, TableSql, VersionLog}

/** Writes beside reads on one OCC table through the SQL frontend. Each
  * iteration is one round on the same, continuing table: MERGE, DELETE,
  * UPDATE and INSERT, a head range read, a time-travel read of the
  * round's start and a change-feed read of the round, then OPTIMIZE,
  * CHECKPOINT and VACUUM, so the table returns to a compacted state
  * every round. A key→row model of the script, advanced one round per
  * check, checks every read and the full head. */
final class TableWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import TableWorkload._

  private val base = s"$dir/table"
  private val reg = Map("t" -> TableSql.TableRef(s"$base/data", s"$base/manifest", "k",
    versionsDir = Some(s"$base/versions"), cdcDir = Some(s"$base/cdc"), occ = true))
  private var model: Map[Long, (Long, String)] = _ // the head after the last checked round
  private var round = 0
  private var startVersion = 0L
  private val reads = mutable.ArrayBuffer.empty[(String, Seq[Row])]
  private val files = mutable.Map.empty[Int, Long]
  private val bytesPerRow = mutable.Map.empty[Int, Double]

  /** Writes the table's initial rows (range-partitioned on `k`, the
    * table's first version) and one file with every round's MERGE source
    * and INSERT rows (columns `round`, `kind`). */
  def generate(): Inputs = {
    val rnd = new java.util.Random(seed)
    val rows = (0L until Rows).map(k => (k, rnd.nextInt(1000000).toLong, payload(rnd)))
    model = rows.map(r => r._1 -> (r._2, r._3)).toMap
    spark.createDataFrame(spark.sparkContext.parallelize(rows, TableFiles)).toDF("k", "v", "p")
      .repartitionByRange(TableFiles, col("k")).sortWithinPartitions("k").write.parquet(s"$base/data")
    val initial = Workload.parquetFiles(s"$base/data")
    val sources = Workload.writeOneFile(spark.createDataFrame((0 until MaxRounds).flatMap { r =>
      mergeDelta(r).map(d => (r, "delta", d._1, d._2, d._3)) ++ insertRows(r).map(d => (r, "insert", d._1, d._2, d._3))
    }).toDF("round", "kind", "k", "v", "p"), s"$dir/sources", "sources")
    val in = Inputs(Seq("rows" -> Rows, "rounds" -> MaxRounds.toLong, "delta_rows" -> DeltaRows.toLong),
      initial :+ sources)
    VersionLog.commitSnapshot(spark, s"$base/versions", FileSkipping.buildManifest(spark, s"$base/data", "k"))
    in
  }

  override def maxIterations: Int = MaxRounds

  /** Deterministic per-round sources: half of each MERGE delta hits the
    * keys the previous round inserted (round 0: the top of the initial
    * key range), half inserts new keys. */
  private def mergeDelta(r: Int): Seq[(Long, Long, String)] = {
    val rnd = new java.util.Random(seed * 31 + r)
    val recent = if (r == 0) (Rows - DeltaRows / 2 until Rows) else insertRows(r - 1).map(_._1).take(DeltaRows / 2)
    val fresh = (0 until DeltaRows / 2).map(j => 10000000L + 100000L * r + j)
    (recent ++ fresh).map(k => (k, rnd.nextInt(1000000).toLong, payload(rnd)))
  }

  private def insertRows(r: Int): Seq[(Long, Long, String)] = {
    val rnd = new java.util.Random(seed * 37 + r)
    (0 until DeltaRows).map(j => (20000000L + 100000L * r + j, rnd.nextInt(1000000).toLong, payload(rnd)))
  }

  override def reset(iter: Int): Unit = {
    for (kind <- Seq("delta", "insert"))
      spark.read.parquet(s"$dir/sources").where(col("round") === round && col("kind") === kind)
        .select("k", "v", "p").createOrReplaceTempView(kind)
    startVersion = TableSql(spark, reg, "DESCRIBE DETAIL t").head().getAs[Long]("version")
    reads.clear()
  }

  def run(iter: Int, t: Tracer): Unit = {
    def stmt(name: String, sql: String): Seq[Row] = t.span("io", name) { TableSql(spark, reg, sql).collect().toSeq }
    val (dLo, dHi) = deleteRange(round)
    val (uLo, uHi) = updateRange(round)
    stmt("merge", "MERGE INTO t USING delta ON t.k = delta.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    stmt("delete", s"DELETE FROM t WHERE k BETWEEN $dLo AND $dHi")
    stmt("update", s"UPDATE t SET v = v + 1 WHERE k BETWEEN $uLo AND $uHi")
    stmt("insert", "INSERT INTO t SELECT k, v, p FROM insert")
    reads += "head" -> stmt("read_head", s"SELECT COUNT(*) AS n, SUM(v) AS sv FROM t WHERE k BETWEEN $ReadLo AND $ReadHi")
    reads += "travel" -> stmt("read_travel",
      s"SELECT COUNT(*) AS n, SUM(v) AS sv FROM t VERSION AS OF $startVersion WHERE k BETWEEN $ReadLo AND $ReadHi")
    reads += "changes" -> stmt("read_changes",
      s"SELECT _commit_version, op, COUNT(*) AS n FROM TABLE_CHANGES(t, ${startVersion + 1}) GROUP BY _commit_version, op")
    stmt("optimize", "OPTIMIZE t")
    stmt("checkpoint", "CHECKPOINT t")
    stmt("vacuum", s"VACUUM t RETAIN $Retain VERSIONS")
  }

  /** One round of the script on a key→(v, p) map: the head after each of
    * its four writes, and the change counts keyed by (write 1..4, op). */
  private def replayRound(start: Map[Long, (Long, String)], r: Int)
      : (Seq[Map[Long, (Long, String)]], Map[(Long, String), Long]) = {
    val changes = mutable.Map.empty[(Long, String), Long].withDefaultValue(0L)
    val heads = mutable.ArrayBuffer.empty[Map[Long, (Long, String)]]
    var m = start
    def commit(ops: (String, Long)*): Unit = {
      heads += m
      ops.filter(_._2 > 0).foreach { case (op, n) => changes((heads.size.toLong, op)) += n }
    }
    val delta = mergeDelta(r)
    val hits = delta.count(d => m.contains(d._1)).toLong
    m = m ++ delta.map(d => d._1 -> (d._2, d._3))
    commit("update_preimage" -> hits, "update_postimage" -> hits, "insert" -> (delta.size - hits))
    val (dLo, dHi) = deleteRange(r)
    val gone = m.keys.filter(k => k >= dLo && k <= dHi)
    m = m -- gone
    commit("delete" -> gone.size.toLong)
    val (uLo, uHi) = updateRange(r)
    val upd = m.collect { case (k, (v, p)) if k >= uLo && k <= uHi => k -> (v + 1, p) }
    m = m ++ upd
    commit("update_preimage" -> upd.size.toLong, "update_postimage" -> upd.size.toLong)
    m = m ++ insertRows(r).map(d => d._1 -> (d._2, d._3))
    commit("insert" -> DeltaRows.toLong)
    (heads.toSeq, changes.toMap)
  }

  private def rangeAgg(m: Map[Long, (Long, String)]): (Long, Long) = {
    val in = m.filter { case (k, _) => k >= ReadLo && k <= ReadHi }
    (in.size.toLong, in.values.map(_._1).sum)
  }

  /** Checks the round just run against the model, then advances both. */
  def check(iter: Int): Seq[String] = {
    val (heads, changes) = replayRound(model, round)
    val bad = mutable.ArrayBuffer.empty[String]
    def agg(rows: Seq[Row]) = (rows.head.getLong(0), if (rows.head.isNullAt(1)) 0L else rows.head.getLong(1))
    reads.foreach {
      case ("head", rows) =>
        if (agg(rows) != rangeAgg(heads.last)) bad += s"round $round head read ${agg(rows)} != model ${rangeAgg(heads.last)}"
      case ("travel", rows) =>
        if (agg(rows) != rangeAgg(model))
          bad += s"round $round read of version $startVersion: ${agg(rows)} != model ${rangeAgg(model)}"
      case ("changes", rows) =>
        val got = rows.map(x => (x.getLong(0) - startVersion, x.getString(1)) -> x.getLong(2)).toMap
        if (got != changes) bad += s"round $round changes since v${startVersion + 1} (relative): $got != model $changes"
      case other => bad += s"unexpected read $other"
    }
    if (reads.size != 3) bad += s"round $round made ${reads.size} reads, not 3"
    val head = TableSql(spark, reg, "SELECT k, v, p FROM t").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    if (head != heads.last) bad += s"round $round: head differs from the model: ${head.size} rows vs ${heads.last.size}"
    files(iter) = TableSql(spark, reg, "DESCRIBE DETAIL t").head().getAs[Long]("n_files")
    bytesPerRow(iter) = treeBytes(new File(base)).toDouble / heads.last.size
    model = heads.last
    round += 1
    bad.map(m => s"table_lifecycle: $m").toSeq
  }

  def results(untraced: Seq[Int], t: Tracer): Seq[Metric] = {
    val spans = t.spans.toSeq.filter(s => untraced.contains(s.iter) && s.layer == "io")
    def p50(names: Set[String]) = Stats.median(spans.filter(s => names(s.name)).map(_.durS))
    Seq(Metric("write_p50_s", p50(Set("merge", "delete", "update", "insert")), "s"),
      Metric("read_p50_s", p50(Set("read_head", "read_travel", "read_changes")), "s")) ++
      untraced.lastOption.map(i => Metric("bytes_per_live_row", bytesPerRow(i), "bytes"))
  }

  override def traceResults(traced: Seq[Int], t: Tracer): Seq[Metric] =
    Seq(Metric("io.files_live", Stats.median(traced.map(i => files(i).toDouble)), "count"))

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L) else f.length
}

object TableWorkload {
  val Rows = 50000L
  val TableFiles = 2
  /** Rounds the inputs provide; a run stops measuring when they run out. */
  val MaxRounds = 40
  val DeltaRows = 1000
  val Retain = 2
  val ReadLo = 5000L
  val ReadHi = 45000L

  /** Disjoint 200-key ranges per round, all inside the initial keys. */
  def deleteRange(r: Int): (Long, Long) = (100L + 1200L * r, 299L + 1200L * r)
  def updateRange(r: Int): (Long, Long) = (700L + 1200L * r, 899L + 1200L * r)

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"
  def payload(rnd: java.util.Random): String = Seq.fill(16)(Alphabet.charAt(rnd.nextInt(26))).mkString
}
