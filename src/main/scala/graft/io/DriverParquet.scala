package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.graft.LocalFrames
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/** Driver-side parquet IO for METADATA-SCALE frames (snapshot manifests,
  * checkpoint summaries, oracle dumps) — both halves of the
  * engine's Delta-style driver log.
  *
  * WRITE ([[writeSmall]], round-15 optimization, guide §1/§5): every OCC
  * commit used to run `manifest.coalesce(1).write.parquet(dir)` — a full
  * distributed write job (task launch, commit protocol, `_temporary`
  * renames) for a frame that is |files| rows of metadata, measured at
  * 230–920 ms per commit on local[32] against ~10–30 ms for a driver
  * write. A manifest is driver-bounded BY DESIGN (the engine's Delta-log
  * scaling argument: the ~54 existing `.collect()` sites on manifests),
  * so the collect this write performs introduces no new scaling class —
  * Delta itself writes its commit JSON/checkpoint from the driver for the
  * same reason. The frame is still COMPUTED distributively
  * (`executeCollect` runs the plan); only the sink moves to the driver.
  * Output layout matches the distributed writer (one `part-*.snappy
  * .parquet` + `_SUCCESS`), and the bytes go through the Hadoop
  * FileSystem resolved from the session conf, so the `countfs:` shim
  * keeps counting the RPCs — with strictly fewer of them
  * (no `_temporary` dance): create file, write, close, create `_SUCCESS`.
  *
  * READ ([[readSmall]]): `spark.read.parquet(dir)` over a snapshot costs
  * two Spark jobs before the caller sees a row — the ~25 ms schema-
  * inference job that opens one footer, then the job of the caller's
  * `collect` — for a file the engine wrote itself and whose schema the
  * footer already records. The driver read lists the directory, reads
  * the footers and rows in-process through Spark's own parquet reader
  * (same conversions, rebasing and time-zone handling as a scan task),
  * and returns a `LocalRelation`-backed frame: projections and filters
  * fold into it and a `collect` starts no job. [[footerSchema]] is the
  * typing half alone, for DATA reads that stay distributed but need no
  * inference job.
  *
  * One size rule for both halves: a frame of more than [[MaxRows]] rows
  * goes distributed — on write the collected row count decides (or a
  * failed collect), on read the footers' row counts do. The cap bounds
  * driver memory at ~100k rows × O(100 B) ≈ 10 MB, far under any driver
  * heap, and matches the scale at which Delta moves checkpoint IO off
  * the driver too. A read the driver path cannot type exactly as Spark
  * would (a footer without a Spark schema, footers that disagree,
  * summary files, sub-directories, an IO error) is handed to
  * `spark.read.parquet`, which answers or fails exactly as before. */
object DriverParquet {

  /** Rows above which the distributed writer and reader take over. */
  val MaxRows = 100000

  /** Write `df` as one parquet file in `dir` (overwrite semantics:
    * `dir` is deleted first), driver-side when small. */
  def writeSmall(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val rows: Array[InternalRow] =
      try df.queryExecution.executedPlan.executeCollect()
      catch { case scala.util.control.NonFatal(_) => null }
    if (rows == null || rows.length > MaxRows) {
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      return
    }
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    val file = new Path(p,
      s"part-00000-${java.util.UUID.randomUUID}-c000.snappy.parquet")
    writeFile(df.schema, rows, file, hconf)
    fs.create(new Path(p, "_SUCCESS"), /* overwrite = */ true).close()
  }

  /** One parquet file from driver-resident InternalRows, via Spark's own
    * ParquetWriteSupport (full type fidelity: decimals, timestamps,
    * arrays — byte-compatible with what the distributed writer emits). */
  private def writeFile(schema: StructType, rows: Array[InternalRow],
                        file: Path, hconf: Configuration): Unit = {
    val sqlc = SQLConf.get
    ParquetWriteSupport.setSchema(schema, hconf)
    // ParquetWriteSupport.init asserts these two are explicitly set (the
    // distributed path sets them in ParquetFileFormat.prepareWrite).
    hconf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlc.writeLegacyParquetFormat.toString)
    hconf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlc.parquetOutputTimestampType.toString)
    hconf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlc.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    hconf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlc.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    class B(out: org.apache.parquet.io.OutputFile)
        extends ParquetWriter.Builder[InternalRow, B](out) {
      override def self(): B = this
      override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
        new ParquetWriteSupport
    }
    val writer = new B(HadoopOutputFile.fromPath(file, hconf))
      .withConf(hconf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach(writer.write) finally writer.close()
  }

  /** The read half of [[writeSmall]]: the frame `spark.read.parquet(dir)`
    * gives — same schema (the footer's Spark schema, made nullable), same
    * rows — read EAGERLY on the driver into a local relation, so neither
    * this call nor a later `collect` over it starts a Spark job. Above
    * [[MaxRows]] footer rows, or when the footers cannot be typed exactly
    * (see the object doc), it is `spark.read.parquet(dir)` itself. Eager
    * is only safe for directories that never change once written, like a
    * committed version dir. */
  def readSmall(spark: SparkSession, dir: String): DataFrame =
    driverRead(spark, dir).getOrElse(spark.read.parquet(dir))

  private def driverRead(spark: SparkSession, dir: String): Option[DataFrame] =
    try {
      val hconf = spark.sessionState.newHadoopConf()
      val p = new Path(dir)
      dataFiles(p.getFileSystem(hconf).listStatus(p)).flatMap { files =>
        val footers = files.map(f => footerOf(f, hconf))
        val schemas = footers.map(sparkSchemaOf).distinct
        if (schemas.length != 1 || schemas.head.isEmpty ||
            footers.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum > MaxRows) None
        else {
          val schema = LocalFrames.nullable(schemas.head.get)
          val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
            schema, new StructType(), schema, Nil,
            Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hconf)
          val toUnsafe = UnsafeProjection.create(schema)
          val rows = files.flatMap { f =>
            val it = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath),
              0L, f.getLen, Array.empty[String], f.getModificationTime, f.getLen))
            // the reader reuses its row buffer: copy each row out
            try it.map(r => toUnsafe(r).copy()).toVector
            finally it match { case c: java.io.Closeable => c.close(); case _ => () }
          }
          Some(LocalFrames.of(spark, schema, rows))
        }
      }
    } catch { case _: java.io.IOException => None }

  /** The Spark schema recorded in the footer of `path`, made nullable as
    * `spark.read.parquet` makes it — the schema Spark's non-merging
    * inference would give, without the Spark job it runs to open that
    * footer. `path` is a data file, or a directory, whose lexicographically
    * first data file is read (inference's pick). None when that footer
    * carries no Spark schema (a file from another writer, e.g. pyarrow —
    * its types depend on reader confs only inference applies), when the
    * directory is not flat, or on an IO error: callers then infer. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    try {
      val hconf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      // listing a file yields the file itself: one RPC either way
      dataFiles(p.getFileSystem(hconf).listStatus(p))
        .flatMap(files => sparkSchemaOf(footerOf(files.head, hconf)))
        .map(LocalFrames.nullable)
    } catch { case _: java.io.IOException => None }

  /** `spark.read` typed by `recorded` (a version's schema record) when
    * present, else by [[footerSchema]] of `first`, else untyped — the
    * one-footer schema inference `spark.read.parquet` runs itself. */
  def typedReader(spark: SparkSession, recorded: Option[StructType],
                  first: String): DataFrameReader =
    recorded.orElse(footerSchema(spark, first)).map(spark.read.schema).getOrElse(spark.read)

  /** A flat directory's data files in path order, as Spark's file index
    * sees them (names starting `_` — unless a `k=v` partition name — or
    * `.` are metadata/hidden); None
    * when the listing holds what only Spark's own read handles exactly —
    * sub-directories (partition discovery), summary files (they take
    * precedence in inference), or no data file at all. */
  private def dataFiles(listed: Array[FileStatus]): Option[Array[FileStatus]] = {
    val visible = listed.filterNot { s =>
      val n = s.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    }
    val summaries = listed.exists(s =>
      Set("_metadata", "_common_metadata")(s.getPath.getName))
    if (visible.isEmpty || summaries || visible.exists(_.isDirectory)) None
    else Some(visible.sortBy(_.getPath.toString))
  }

  private def footerOf(f: FileStatus, hconf: Configuration): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hconf))
    try r.getFooter finally r.close()
  }

  private def sparkSchemaOf(footer: ParquetMetadata): Option[StructType] =
    Option(footer.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
}
