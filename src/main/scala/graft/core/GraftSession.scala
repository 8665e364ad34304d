package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory.
  *
  * The reference switches between threaded, local-process and SLURM-cluster
  * execution by changing only client construction
  * (`/root/reference/singlemachine_dataset_samplewise_benchmark.py:41,71`,
  * `/root/reference/cluster_default_benchmark.py:273-286`). We preserve that
  * property: everything except `master` comes from one shared config block,
  * so the same program runs `local[N]` or a 1000-executor cluster.
  *
  * Scale defaults:
  *  - AQE on (runtime coalescing, skew-join splitting) — replaces the
  *    reference's hand-tuned 64 MB partitioning
  *    (`functions/dask_pipeline.py:41`).
  *  - 64 MB scan partitions (`data/brca_undersample.py:20-21` rationale).
  *  - shuffle.partitions matched to local cores; on a real cluster this is
  *    overridden by AQE's coalescing from an initially large number.
  */
object GraftSession {

  /** Apply engine-wide settings to any builder (local or cluster). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    withExtraConf(configure0(b, shufflePartitions))

  private def configure0(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // Let the planner pick shuffled-hash join when its size conditions
      // hold instead of always sorting both sides (guide §3.1/§9 baseline;
      // round-15 A/B on the join-heavy subset: 27.1 → 25.3 s avg of two
      // runs, consistent wins on q51/q55/q56/q85, no reproducing loss).
      // Scale-safe: the planner only builds a hash map when the build side
      // estimates under autoBroadcastJoinThreshold × shuffle partitions,
      // and AQE skew handling still applies. Not a local-only knob — SHJ
      // skips the sort on BOTH sides wherever the build side fits.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's parquet reader
      // rejects (PARQUET_TYPE_ILLEGAL); read as raw nanos LongType instead
      // and convert in graft.io.Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // Streaming state off-heap: the default HDFS-backed provider keeps
      // every key's state in executor heap maps — the 100×-scale risk for
      // the stateful queries (dedup, sessions, mapGroupsWithState). RocksDB
      // spills state to local disk with incremental checkpointing.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Skip the per-commit full-store row-count scan RocksDB does for the
      // numTotalStateRows metric (round-15, guide §1.2 per-task work): the
      // count is O(state) per partition per micro-batch and feeds only a
      // progress metric nothing here consumes — the documented production
      // setting for write-heavy stateful jobs at scale.
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // Changelog checkpointing: per-commit the store uploads only the
      // delta (changelog) instead of zipping a full RocksDB snapshot;
      // snapshots move to the background maintenance thread. Round 6
      // measured it a slight LOSS (q92 9.72→10.41 s) — but that was
      // with the per-commit row-count scan still on; with that scan off
      // (above) the snapshot zip is the commit's remaining serial cost,
      // and the round-15 re-measure on the 7 heaviest stateful queries
      // shows a reproducible win (subset 31.9 → 30.4 s twice; q92
      // 3.94→3.42/3.48, q159 4.31→3.98/3.86). On a real cluster with
      // remote checkpoint storage the delta-vs-snapshot gap widens —
      // this is the documented production setting for frequent commits.
      // Checkpoint files (offset/commit logs, changelogs, state schemas)
      // through graft.streaming.CheckpointFiles: on `file:` Spark's
      // default FileContext manager forks a `chmod` per file created and
      // ~4 `readlink`s per file renamed when Hadoop has no native library
      // — 2,517 shell launches in one graftbench stream_sessions run
      // (4 cores, Hadoop 3.4.2 without native code), 2,300 of them from
      // checkpoint files, and 0.62 s of state-store commit per traced
      // iteration. With it: 306 launches, none from checkpoint files (the
      // rest are sink writes and RocksDB snapshot uploads), and 0.035 s
      // of state-store commit. Other schemes keep Spark's own manager.
      .config(graft.streaming.CheckpointFiles.ConfKey,
        classOf[graft.streaming.CheckpointFiles].getName)
      // FileOutputCommitter v2: task commits rename directly into the
      // destination instead of the v1 two-phase (task → _temporary/job →
      // final) dance — halves the per-file rename+chmod round-trips of
      // every data write (round-15, guide §6 / §1.2 per-task work; on
      // this no-native-Hadoop sandbox each chmod is a forked shell).
      // Safe HERE by construction: the engine's atomicity/visibility
      // never comes from output-dir atomicity — every transactional
      // write lands in a fresh txn-/staging dir gated by the version
      // log's _SUCCESS or a slot marker, and non-transactional sinks are
      // overwrite-whole-dir. v2 is the documented production setting for
      // exactly this commit model.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")

  /** [[configure]] plus ad-hoc overrides from `SPARK_GRAFT_EXTRA_CONF`
    * (`key=value;key=value`) — the A/B knob for config sweeps (guide §1:
    * measure, don't guess). Unset ⇒ byte-identical to [[configure]], so
    * the driver's bench protocol is untouched. */
  private def withExtraConf(b: SparkSession.Builder): SparkSession.Builder = {
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
    extra.split(';').filter(_.contains('=')).foldLeft(b) { (bb, kv) =>
      val Array(k, v) = kv.split("=", 2)
      bb.config(k.trim, v.trim)
    }
  }

  /** Local session for tests / verify / bench.
    *
    * `local[n, 2]`: two task attempts, so the retry path EXISTS locally —
    * plain `local[n]` pins maxFailures=1 and can never exercise the
    * recompute-on-retry semantics every real cluster has (where lost
    * executors make retries routine). RetrySpec injects a first-attempt
    * failure through this session to prove sampling/split decisions are
    * retry-idempotent (keyHash, not rand()). */
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores,2]").appName(appName),
      shufflePartitions = math.max(cores, 1)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    s
  }
}
