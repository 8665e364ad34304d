package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The driver-side read half of [[graft.io.DriverParquet]]:
  *
  *   - `readSmall(dir)` answers exactly as `spark.read.parquet(dir)` —
  *     same schema, same rows — on every snapshot shape the log holds,
  *     from a local relation below `MaxRows` footer rows and from the
  *     distributed read above it;
  *   - data reads typed from one footer (`footerSchema`) read exactly as
  *     inference reads, the log's schema record still wins after an
  *     evolving commit, and a footer with no Spark schema (a file from
  *     another writer) keeps Spark's own inference.
  */
class DriverParquetSpec extends SparkSpec {
  import graft.io.{DriverParquet, FileSkipping, VersionLog}

  private def fresh(name: String): String = {
    val base = scratch(s"driverpq_$name")
    graft.util.Staging.deleteRecursive(base)
    base
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** Same schema and the same multiset of rows as Spark's own read. */
  private def assertSameAsSpark(got: DataFrame, dir: String): Unit = {
    val want = spark.read.parquet(dir)
    assert(got.schema == want.schema, s"${got.schema.treeString} vs ${want.schema.treeString}")
    def rowsOf(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    assert(rowsOf(got) == rowsOf(want))
  }

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 5).cast("string")).as("tag"),
      (col("id") % 997 / 7.0).as("v"))

  test("readSmall: a writeSmall snapshot with null and non-null dv_file reads as spark.read.parquet") {
    val dir = s"${fresh("snapshot")}/v0"
    val snap = spark.range(0, 50).select(
      concat(lit("file:/t/part-"), col("id").cast("string")).as("file"),
      col("id").as("min_key"), (col("id") + 9).as("max_key"),
      lit(10L).as("n_rows"), lit(10L).as("n_keys"),
      when(col("id") % 3 === 0, concat(lit("file:/t/dv-"), col("id").cast("string")))
        .as("dv_file"),
      lit(false).as("rewrite_only"))
    DriverParquet.writeSmall(snap, dir)
    val got = DriverParquet.readSmall(spark, dir)
    assert(isLocal(got), "a small snapshot must be read on the driver")
    assertSameAsSpark(got, dir)
    assert(got.filter(col("dv_file").isNull).count() == 33)
  }

  test("readSmall: a legacy multi-file snapshot without rewrite_only/n_keys reads as spark.read.parquet") {
    val base = fresh("legacy")
    rows(0, 4000).repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.parquet(s"$base/data")
    // the pre-n_keys, pre-class manifest, written by the distributed writer
    FileSkipping.buildManifest(spark, s"$base/data", "k").drop("n_keys")
      .repartition(3).write.parquet(s"$base/v0")
    val got = DriverParquet.readSmall(spark, s"$base/v0")
    assert(isLocal(got))
    assert(!got.columns.contains("n_keys") && !got.columns.contains("rewrite_only"))
    assertSameAsSpark(got, s"$base/v0")
  }

  test("readSmall: a checkpoint summary reads as spark.read.parquet") {
    val base = fresh("ckpt")
    rows(0, 2000).repartitionByRange(2, col("k")).write.parquet(s"$base/data")
    val vdir = s"$base/versions"
    VersionLog.commitSnapshot(spark, vdir, FileSkipping.buildManifest(spark, s"$base/data", "k"))
    FileSkipping.appendOcc(rows(5000, 5010), s"$base/data", vdir, "k", "CK1")
    val c = VersionLog.checkpoint(spark, vdir)
    val dir = s"$vdir/_checkpoint/ckpt-$c"
    val got = DriverParquet.readSmall(spark, dir)
    assert(isLocal(got))
    assertSameAsSpark(got, dir)
    assert(got.count() == 2)
  }

  test("readSmall: above MaxRows footer rows the distributed read answers") {
    val dir = s"${fresh("big")}/v0"
    spark.range(0, DriverParquet.MaxRows + 1L).select(col("id").as("k"))
      .coalesce(2).write.parquet(dir)
    val got = DriverParquet.readSmall(spark, dir)
    assert(!isLocal(got), "a directory above MaxRows rows must take the distributed read")
    assert(got.count() == DriverParquet.MaxRows + 1L)
    assertSameAsSpark(got, dir)
  }

  test("footer typing: a Spark-written table reads identically with inferred and footer-typed schemas") {
    val dir = s"${fresh("typed")}/data"
    spark.range(0, 300).select(col("id").as("k"), (col("id") % 3).cast("int").as("i"),
        when(col("id") % 4 =!= 0, concat(lit("s"), col("id").cast("string"))).as("s"),
        (col("id") / 7.0).as("d"), (col("id") % 2 === 0).as("b"),
        (col("id") / 3).cast("decimal(12,3)").as("dec"),
        timestamp_seconds(col("id") * 3600).as("ts"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id").cast("int")).as("dt"),
        array(col("id"), col("id") + 1).as("arr"),
        struct(col("id").as("x"), lit("y").as("y")).as("st"))
      .repartition(3).write.parquet(dir)
    val files = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    val typed = DriverParquet.footerSchema(spark, files.head)
    assert(typed.contains(spark.read.parquet(files: _*).schema))
    assert(DriverParquet.footerSchema(spark, dir) == typed, "a directory types from its first file")
    def rowsOf(df: DataFrame) = df.collect().toSeq.map(_.toSeq.mkString("|")).sorted
    assert(rowsOf(spark.read.schema(typed.get).parquet(files: _*)) ==
      rowsOf(spark.read.parquet(files: _*)))
    // and through the version log, which types its reads this way
    val vdir = s"${fresh("typedlog")}/versions"
    VersionLog.commitSnapshot(spark, vdir, FileSkipping.buildManifest(spark, dir, "k"))
    val head = VersionLog.readVersion(spark, vdir, 0)
    assert(head.schema == spark.read.parquet(dir).schema)
    assert(rowsOf(head) == rowsOf(spark.read.parquet(dir)))
  }

  test("footer typing: after a schema-evolving commit the record wins and old files null-fill the added column") {
    val base = fresh("evolve")
    rows(0, 4000).repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.parquet(s"$base/data")
    val vdir = s"$base/versions"
    VersionLog.commitSnapshot(spark, vdir, FileSkipping.buildManifest(spark, s"$base/data", "k"))
    FileSkipping.mergeKeyedOcc(spark, s"$base/data", vdir, "k",
      rows(3990, 4010).withColumn("score", col("k") / 10.0), "EV1", evolveSchema = true) // v1
    val recorded = VersionLog.schemaAt(spark, vdir, 1)
    assert(recorded.exists(_.fieldNames.contains("score")))
    // the head's first file predates the evolution: its footer lacks the
    // column, so only the record can type the read
    val first = VersionLog.manifestAt(spark, vdir, 1).select("file").collect()
      .map(_.getString(0)).min
    assert(!DriverParquet.footerSchema(spark, first).get.fieldNames.contains("score"))
    val head = VersionLog.readVersion(spark, vdir, 1)
    assert(head.columns.toSeq == Seq("k", "tag", "v", "score"))
    assert(head.count() == 4010)
    assert(head.filter(col("score").isNull).count() == 3990, "old files must null-fill score")
    assert(head.filter(col("k") >= 3990 && col("score").isNotNull).count() == 20)
    // the pinned pre-evolution version keeps its own schema
    assert(VersionLog.readVersion(spark, vdir, 0).columns.toSeq == Seq("k", "tag", "v"))
  }

  test("footer typing: a footer without a Spark schema keeps spark.read.parquet inference") {
    // written by pyarrow, read in place and never modified
    val path = s"${sf("sf0.001")}/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      assert(DriverParquet.footerSchema(spark, path).isEmpty,
        "a pyarrow footer carries no Spark schema")
      val got = DriverParquet.typedReader(spark, None, path).parquet(path)
      val want = spark.read.parquet(path)
      assert(got.schema == want.schema)
      assert(got.collect().toSeq.map(_.toSeq.mkString("|")).sorted ==
        want.collect().toSeq.map(_.toSeq.mkString("|")).sorted)
      assert(!isLocal(DriverParquet.readSmall(spark, new java.io.File(path).getParent)),
        "readSmall must hand a directory of foreign footers to spark.read.parquet")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
