package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-time canonicalization of an extremely wide feature parquet (one
  * column per gene — the reference's BRCA matrix is 1205 × 60,483,
  * `brca_data_prep.ipynb` cell-14) into the engine's array layout
  * `(key, features: Array[Double])` plus a `(pos, gene)` name sidecar.
  *
  * Rationale (SURVEY §7.4.1): tens of thousands of Catalyst attributes per
  * plan break naive per-column processing (analyzer/codegen blowup), so the
  * wide shape is read ONCE, collapsed into a single array column, and
  * re-written as canonical parquet — mirroring the reference's own one-time
  * prep step (`brca_data_prep.ipynb` cell-17/20). Column NAMES are data
  * (gene IDs, selected by regex masks — P4), so they are preserved
  * positionally in the sidecar rather than discarded.
  *
  * The single `array(...)` projection keeps exactly one wide plan in the
  * whole system; everything downstream (normalization, masks, stats, ML)
  * operates on the array column at any width.
  */
object WideIngest {

  /** Collapse `widePath` (one double column per feature + `keyCol`) into
    * array-layout parquet at `outPath`, writing the positional gene-name
    * sidecar to `namesPath`. Column order of the parquet schema defines
    * array position.
    *
    * Runs with codegen disabled: Janino compilation of a 60k-child
    * `array(...)` projection takes minutes and can starve the driver
    * (heartbeat timeouts); the interpreted projection evaluates the same
    * plan immediately. This is the ONE deliberately wide plan in the
    * engine — everything downstream is array-layout. */
  def canonicalize(spark: SparkSession, widePath: String, keyCol: String,
                   outPath: String, namesPath: String): Unit = {
    val wide = spark.read.parquet(widePath)
    val genes = wide.schema.fieldNames.filterNot(_ == keyCol).toSeq
    withInterpretedPlans(spark) {
      // the vectorized reader sizes batches in ROWS: at 60k columns the
      // default 4096-row batch is ~2 GB of decoded doubles per scan task —
      // scale rows so width × batch × 8 B stays ~64 MiB decoded
      // (138 rows at 60,483 columns; the measured-good configuration)
      val batch = math.max(16, 8 * 1024 * 1024 / math.max(1, genes.size))
      withConf(spark, "spark.sql.parquet.columnarReaderBatchSize", batch.toString) {
        // per-task decode cost at extreme width is dominated by per-row-group
        // column-chunk setup (width × groups), so parallelism must be
        // row-group-granular: the default 128 MB split packs several staged
        // 32 MB row groups (or whole small files) into one task and idles
        // the rest of the cluster. Splitting at the row-group size took the
        // 1205 × 60,483 canonicalization from 926 s to 156 s on identical
        // input (local[32] split-size sweep, BASELINE.md §Full reference
        // width).
        withConf(spark, "spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString) {
          wide.select(col(keyCol),
              array(genes.map(g => col(g).cast("double")): _*).as("features"))
            .write.mode("overwrite").parquet(outPath)
        }
      }
    }
    spark.createDataFrame(genes.zipWithIndex.map { case (g, i) => (i, g) })
      .toDF("pos", "gene")
      .coalesce(1).write.mode("overwrite").parquet(namesPath)
  }

  private def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  /** Evaluate `body` with whole-stage codegen and expression codegen off —
    * for the handful of one-time ultra-wide plans where Janino compile time
    * dominates wall time. */
  def withInterpretedPlans[T](spark: SparkSession)(body: => T): T = {
    val prevWs = spark.conf.getOption("spark.sql.codegen.wholeStage")
    val prevFm = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      prevWs.fold(spark.conf.unset("spark.sql.codegen.wholeStage"))(v =>
        spark.conf.set("spark.sql.codegen.wholeStage", v))
      prevFm.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(v =>
        spark.conf.set("spark.sql.codegen.factoryMode", v))
    }
  }

  /** Read back a canonicalized matrix: `(keyCol, features)`. */
  def readCanonical(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)

  /** Gene-name positions for a canonicalized matrix — e.g. to build a
    * regex-selected position mask (P4) at full width. */
  def readNames(spark: SparkSession, namesPath: String): DataFrame =
    spark.read.parquet(namesPath)

  /** Positions whose gene name matches `regex` — drives
    * [[graft.ml.Normalization.maskPositions]] without ever re-widening. */
  def positionsMatching(spark: SparkSession, namesPath: String, regex: String): Seq[Int] =
    readNames(spark, namesPath).filter(col("gene").rlike(regex))
      .orderBy("pos").select("pos").collect().map(_.getInt(0)).toSeq

  /** Deterministic LCG synthetic in the WIDE layout (the BRCA file shape):
    * `sample_id` + `f` double columns named like Ensembl ids, every 97th
    * gene all-zero. Generated from an array projection so only the final
    * select is wide. */
  /** `slices` stays LOW on purpose: at 60k columns each concurrent write
    * task buffers ~1 GiB of column pages and each concurrent read task
    * ~2 GiB of reader state, so wide-stage throughput is memory-bandwidth
    * and GC bound, not task-count bound — measured (local[32], 1205×60483):
    * 8-slice stage 213 s / 18.5 GiB peak vs 32-slice 241 s / 52 GiB, and
    * downstream canonicalize 156 s over the 8-slice layout (16 row groups,
    * 16 in-flight tasks) vs 361 s over the 32-slice one (32 tasks, 70 GiB
    * peak, GC thrash). On a real cluster the same bound applies per
    * executor: cap concurrent wide tasks so width × task state fits. */
  def writeWideSynthetic(spark: SparkSession, path: String, n: Int, f: Int,
                         slices: Int = 8): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // build rows in a plain loop on the executors — a 60k-expression
    // Catalyst projection would spend minutes in the analyzer/interpreter
    // just to synthesize test data (measured 376 s for 64 rows)
    val schema = StructType(StructField("sample_id", LongType, nullable = false) +:
      (0 until f).map(i => StructField(f"ENSG${i}%011d", DoubleType, nullable = false)))
    val rdd = spark.sparkContext.range(0L, n.toLong, numSlices = slices).map { id =>
      val vals = new Array[Any](f + 1)
      vals(0) = id
      var c = 0
      while (c < f) {
        val h = java.lang.Math.floorMod((id * f + c) * 1103515245L + 12345L, 2147483647L)
        vals(c + 1) = if (c % 97 == 0) 0.0 else h.toDouble / 2147483647.0 * 100.0
        c += 1
      }
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
    }
    // interpreted plans: the write path's UnsafeProjection over 60k fields
    // otherwise goes through Janino (minutes of compile for a one-shot
    // staging write). Parquet writer memory is columns × page buffer, so at
    // 60k columns the default 1 MiB page size is ~60 GiB PER TASK — shrink
    // pages and drop dictionary encoding (values are unique doubles).
    withInterpretedPlans(spark) {
      spark.createDataFrame(rdd, schema).write
        .option("parquet.page.size", 16 * 1024)
        .option("parquet.block.size", 32 * 1024 * 1024)
        .option("parquet.enable.dictionary", "false")
        .mode("overwrite").parquet(path)
    }
  }
}
