package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers over the driver's test corpus (`TESTDATA.md` at the repo root) and
  * generic sources mirroring the reference's ingest surface
  * (SURVEY §2.1 S1–S5): parquet, headered CSV, TSV with projection and
  * null markers, JSON.
  */
object Tables {

  /** S1 — vectorized parquet scan (`functions/dask_pipeline.py:19,23`). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) — which Spark
    * rejects outright (PARQUET_TYPE_ILLEGAL) unless read as raw nanos via
    * legacy nanosAsLong — and as plain TIMESTAMP(MICROS), which Spark reads
    * as TIMESTAMP_NTZ. Adapt on the observed schema and surface one stable
    * contract either way: a microsecond TimestampType (session-UTC) column.
    * The conf is set defensively here because driver-owned sessions don't go
    * through [[graft.core.GraftSession]].
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Reader-enabling conf: without it the NANOS layout fails the scan
    // outright. It is session-global by nature (documented contract);
    // unlike the former session.timeZone pin it changes no SEMANTICS —
    // it only unlocks a layout Spark would otherwise reject.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000"))) // integer div: ns > 2^53 would lose bits in double math
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", utcNtzToInstant(col("ts")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** NTZ wall-times are UTC by the corpus contract. A bare NTZ→LTZ cast
    * reads walls in the SESSION zone — a caller-owned non-UTC session
    * would shift every instant by its offset (round-6 review finding; the
    * former fix pinned `spark.sql.session.timeZone` globally, silently
    * changing ALL the caller's timestamp semantics). Column-scoped
    * instead: shift the wall into the session zone first, then cast —
    * the two session-zone dependencies cancel, yielding the UTC instant
    * under ANY session zone. */
  private[graft] def utcNtzToInstant(ntz: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    convert_timezone(lit("UTC"), expr("current_timezone()"), ntz).cast("timestamp")
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** S2 — headered CSV with schema inference
    * (`functions/dask_pipeline.py:21,25`). Explicit schema preferred for
    * determinism (SURVEY §1.3); pass one via `schemaDdl` when known.
    */
  def csv(spark: SparkSession, path: String, schemaDdl: Option[String] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schemaDdl match {
      case Some(ddl) => r.schema(ddl).csv(path)
      case None      => r.option("inferSchema", "true").csv(path)
    }
  }

  /** S3 — TSV scan with column projection and null markers
    * (`data/lung_data/lung_data_prep.ipynb` cell-3: `usecols`,
    * `na_values="'--"`, `dropna()`).
    */
  def tsv(spark: SparkSession, path: String, useCols: Seq[String],
          nullValue: String = "'--"): DataFrame = {
    val df = spark.read
      .option("header", "true").option("sep", "\t")
      .option("nullValue", nullValue).option("inferSchema", "true")
      .csv(path)
    df.select(useCols.map(df.col): _*).na.drop()
  }

  /** S4 — JSON scan (`brca_data_prep.ipynb` cell-5/6 metadata parse). */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S6 — snappy parquet sink (`data/brca_undersample.py:24-27`). */
  def writeParquet(df: DataFrame, path: String, numPartitions: Option[Int] = None): Unit = {
    val out = numPartitions.map(df.repartition).getOrElse(df)
    out.write.mode("overwrite").option("compression", "snappy").parquet(path)
  }

  /** S7 — headerful CSV sink (`data/brca_undersample.py:15-17`). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
}
