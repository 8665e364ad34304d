package graft

import org.apache.spark.sql.functions._

/** Round-15 optimization evidence: FileOutputCommitter v2 (the
  * GraftSession default since round 15) halves the per-file rename bill
  * of every data write vs v1 — on an object store a rename is COPY +
  * DELETE, so the committer's rename count IS the commit protocol's
  * data-movement RPC bill at 100 TB. Local wall is within noise (the
  * renames are cheap syscalls here); the structural count is what this
  * spec pins, via CountFs.
  *
  * Safety of v2 for THIS engine (why the weaker task-commit atomicity is
  * acceptable): table visibility never comes from output-dir atomicity —
  * transactional writes land in fresh txn-/staging dirs gated by the
  * version log's `_SUCCESS` or a feed-slot marker, and non-transactional
  * sinks are overwrite-whole-dir. A half-committed dir is invisible by
  * construction.
  */
class CommitterSpec extends SparkSpec {

  test("FileOutputCommitter v2 (session default) performs ~half the renames of v1 per write") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[graft.util.CountFs].getName)
    hc.setBoolean("fs.countfs.impl.disable.cache", true)
    val parts = 16
    val df = spark.range(0, 16000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartition(parts)
    val base = scratch("committer_spec")
    graft.util.Staging.deleteRecursive(base)
    def renamesWith(algo: String, sub: String): Long = {
      try {
        graft.util.CountFs.renameNeedle = Some("committer_spec")
        graft.util.CountFs.renameHits.set(0)
        df.write.mode("overwrite")
          .option("mapreduce.fileoutputcommitter.algorithm.version", algo)
          .parquet(s"countfs:$base/$sub")
        graft.util.CountFs.renameHits.get()
      } finally graft.util.CountFs.renameNeedle = None
    }
    val v1 = renamesWith("1", "v1")
    val v2 = renamesWith("2", "v2")
    info(s"renames for a $parts-file write: v1=$v1, v2=$v2")
    // v1: one rename per task-attempt dir at task commit + one per file
    // at job commit; v2: one per file at task commit, job commit moves
    // nothing. Identical output either way.
    assert(spark.read.parquet(s"$base/v1").count() ==
      spark.read.parquet(s"$base/v2").count(), "both committers must land the same rows")
    assert(v1 >= 2L * parts,
      s"v1 should pay >= 2 renames per output file, got $v1 for $parts files")
    assert(v2 <= parts + 2L,
      s"v2 should pay ~1 rename per output file, got $v2 for $parts files")
  }
}
