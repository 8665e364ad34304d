package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (SURVEY §2.10): the reference is batch-only,
  * so this coverage is driven by the events table — tumbling/sliding/session
  * windows, streaming dedup, watermarks.
  *
  * Local harness: a file-source stream over the events parquet, drained
  * synchronously into a memory sink (`processAllAvailable`), then returned
  * as a DataFrame. The same transformations run unchanged against a real
  * unbounded source (kafka/files) on a cluster — that is the point of the
  * unified Dataset API.
  */
object Streams {

  /** Shuffle partitions for STATEFUL streaming stages = state-store
    * instances per stateful operator. The round-7 cluster bench
    * (BASELINE.md "Cluster-mode bench") measured the cost model directly:
    * at sf0.1 the per-partition state is tiny, so per-instance commit
    * overhead (RocksDB snapshot/sync per store per micro-batch) dominates
    * and scales with INSTANCE COUNT, not state volume — q92's state-commit
    * totals dropped 934 s → 86 s (10.8×) going from 32 to 8 instances,
    * and the heavy streaming queries ran ~2× faster. Batch stages keep the
    * session's core-matched shuffle.partitions; only the streaming drains
    * narrow to this value, which (unlike batch) is PINNED in the
    * checkpoint from batch 0 — exactly why it must be sized to state
    * volume up front rather than left at the core count.
    *
    * Override per session with `graft.streaming.statePartitions`, or per
    * process with env `SPARK_GRAFT_STATE_PARTITIONS` (bench A/B aid). */
  def statePartitions(spark: SparkSession): Int =
    sys.env.get("SPARK_GRAFT_STATE_PARTITIONS")
      .orElse(spark.conf.getOption("graft.streaming.statePartitions"))
      .map(_.toInt).getOrElse(8)

  /** Run `body` (a streaming start + drain) with shuffle partitions set to
    * [[statePartitions]], restoring the caller's value afterwards. The
    * stateful-operator partition count is resolved when the query plans
    * its first batch and pinned in the checkpoint thereafter, so the
    * narrowed conf only needs to cover the drain.
    *
    * SINGLE-THREADED CALLER ASSUMPTION (round-7 review): the override
    * mutates the session-global `spark.sql.shuffle.partitions` for the
    * drain's duration, so a batch query planned CONCURRENTLY on the same
    * session would silently pick up the narrowed value. Every current
    * runner (tests, Verify, Bench) drives the session from one thread; a
    * multithreaded driver must either serialize drains with its batch
    * planning or hand each drain its own `SparkSession.newSession()`
    * (session-scoped confs, shared context). */
  def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, statePartitions(spark).toString)
    try body finally spark.conf.set(key, prev)
  }

  /** File-source stream over events.parquet with the same ts-schema
    * adaptation as [[graft.io.Tables.events]] (long nanos → TimestampType,
    * TIMESTAMP_NTZ → TimestampType). The file source
    * only accepts directories: if events.parquet is itself a directory of
    * part files (the layout at larger scale factors) it is streamed
    * directly; a single-file layout streams the sf dir filtered down to
    * the events file — either way no rows are silently dropped. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    // reader-enabling conf only (see Tables.events contract note); the
    // former session.timeZone pin is replaced by the column-scoped
    // Tables.utcNtzToInstant conversion
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val src =
      if (new java.io.File(path).isDirectory)
        spark.readStream.schema(schema).parquet(path)
      else
        spark.readStream.schema(schema).option("pathGlobFilter", "events.parquet").parquet(sfDir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        src.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        src.withColumn("ts", graft.io.Tables.utcNtzToInstant(col("ts")))
      case _ =>
        src.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** File-source stream over the documents table (no ts adaptation —
    * documents carry no event time; same single-file/directory handling
    * as [[eventsStream]]). */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    if (new java.io.File(path).isDirectory)
      spark.readStream.schema(schema).parquet(path)
    else
      spark.readStream.schema(schema).option("pathGlobFilter", "documents.parquet").parquet(sfDir)
  }

  /** Drain a (bounded) stream into a memory sink and return the result.
    * `outputMode` complete for aggregations, append for row streams.
    *
    * Scratch discipline: the checkpoint path AND the memory-sink view are
    * keyed by `name` (not a nanoTime suffix) and wiped/dropped at the start
    * of every invocation — a fresh query MUST NOT resume a stale
    * checkpoint's offsets (it would skip the replay), and invocation-unique
    * names accumulate without bound across a long session: nanoTime-suffixed
    * checkpoint dirs were the round-3 disk leak, and nanoTime-suffixed
    * memory-sink VIEWS pinned one full result set to the driver PER REPEAT
    * (the suspected q43 monotonic repeat slowdown, BASELINE.md round-5
    * anomaly). Same sequential-consumer contract as [[drainToParquet]]: the
    * previous invocation's result is dropped at the NEXT invocation, by
    * which time the caller has consumed it. */
  def drainToTable(df: DataFrame, name: String, outputMode: String): DataFrame = {
    val spark = df.sparkSession
    val qname = s"${name}_sink"
    spark.catalog.dropTempView(qname)
    val ckpt = checkpointFor(name)
    graft.util.Staging.deleteRecursive(ckpt)
    withStatePartitions(spark) {
      val q = df.writeStream
        .format("memory").queryName(qname).outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .start()
      try { q.processAllAvailable(); org.apache.spark.sql.graft.StreamPlanCapture.capture(q) } finally { q.stop() }
    }
    // Return an EAGER driver-local snapshot, not the name-keyed view: a
    // handle consumed after the next invocation would otherwise silently
    // resolve to that invocation's contents (round-6 review finding).
    // The memory sink already holds the full result on the driver, so
    // the copy adds one transient duplicate of a bounded aggregate (row
    // streams use drainToParquet), and the LocalRelation stays valid for
    // the handle's lifetime with no view to leak.
    val view = spark.table(qname)
    val snapshot = spark.createDataFrame(
      java.util.Arrays.asList(view.collect(): _*), view.schema)
    spark.catalog.dropTempView(qname)
    snapshot
  }

  /** Drain a (bounded) stream through `foreachBatch` into a parquet sink
    * and read the result back — the scale-path sink: results land on
    * distributed storage instead of accumulating on the driver like the
    * memory sink. complete mode overwrites with each batch's full state;
    * append mode accumulates finalized rows. */
  def drainToParquet(df: DataFrame, name: String, outputMode: String): DataFrame = {
    val spark = df.sparkSession
    // sink + checkpoint paths keyed by `name` and wiped up front: repeats
    // overwrite one slot instead of accumulating nanoTime-unique copies of
    // full row streams (the round-3 scratch leak), and append mode never
    // re-reads a previous run's rows. The returned frame reads the sink
    // lazily, so deletion happens at the NEXT invocation — by which time
    // the (sequential) caller has consumed the result.
    val path = graft.util.Staging.scratch(s"sink_$name")
    val ckpt = checkpointFor(name)
    graft.util.Staging.deleteRecursive(path)
    graft.util.Staging.deleteRecursive(ckpt)
    // Seed the sink with a zero-row file carrying the result schema: a
    // bounded stream that yields no batches otherwise leaves no directory
    // and the read-back below would fail — an empty RESULT is a valid
    // outcome and must read back as an empty frame. Batch writes land
    // beside it (append) or replace it (complete/overwrite).
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
      .write.mode("overwrite").parquet(path)
    val fileMode = if (outputMode == "complete") "overwrite" else "append"
    withStatePartitions(spark) {
      val q = df.writeStream.outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode(fileMode).parquet(path); ()
        }
        .start()
      try { q.processAllAvailable(); org.apache.spark.sql.graft.StreamPlanCapture.capture(q) } finally { q.stop() }
    }
    spark.read.parquet(path)
  }

  /** Stage the events table as three time-ordered files so the file source
    * (with `maxFilesPerTrigger=1`) replays them as three micro-batches —
    * the late-data harness for watermark queries:
    *
    *   1.parquet — on-time bulk: ts < t1, event_id % 10 ≠ 0
    *   2.parquet — on-time tail: t1 ≤ ts < t2 (advances the watermark far
    *               past every batch-1 window)
    *   3.parquet — LATE arrivals: ts < t1, event_id % 10 = 0 — all behind
    *               the watermark by ≫ the delay when they arrive
    *
    * with t1 = day(min ts)+7d, t2 = +14d (both replayable in oracle SQL).
    * File order is pinned by both name and strictly increasing mtimes.
    * Idempotent per sfDir (marker-guarded, see [[graft.util.Staging]]) —
    * Bench/Verify pre-stage so the benched queries measure the streaming
    * path, not this write. Returns the staging directory. */
  def prepareLateArrivalFiles(spark: SparkSession, sfDir: String): String =
    graft.util.Staging.ensure(graft.util.Staging.dirFor("late", sfDir), s"$sfDir/events.parquet") { dir =>
      import java.nio.file._
      import java.nio.file.attribute.FileTime
      val ev = graft.io.Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      val t0 = ev.agg(date_trunc("DAY", min(col("ts"))).as("t0")).head().getTimestamp(0)
      val t1 = new java.sql.Timestamp(t0.getTime + 7L * 86400 * 1000)
      val t2 = new java.sql.Timestamp(t0.getTime + 14L * 86400 * 1000)
      val base = Files.createDirectories(Paths.get(dir))
      val chunks = Seq(
        ev.filter(col("ts") < lit(t1) && pmod(col("event_id"), lit(10)) =!= 0),
        ev.filter(col("ts") >= lit(t1) && col("ts") < lit(t2)),
        ev.filter(col("ts") < lit(t1) && pmod(col("event_id"), lit(10)) === 0))
      val mtime0 = System.currentTimeMillis()
      chunks.zipWithIndex.foreach { case (df, i) =>
        stageSingleFile(df, base.resolve(s"${i + 1}.parquet"), mtime0 + i * 2000L)
      }
    }

  /** The late-arrival staging plus a 4th SEAL file — for queries whose
    * final output depends on end-of-stream state eviction (the outer
    * join): `processAllAvailable` only guarantees DATA batches, so whether
    * a trailing no-data batch runs the last eviction is a race (observed:
    * sealed at sf0.01, unsealed at sf0.001). The seal file's single row is
    * a `purchase` event copied from inside the batch-2 time range: it is
    * filtered out of both join inputs (so results are untouched) and
    * advances NO watermark (its ts ≤ max batch-2 ts) — but it forces a
    * 4th data batch whose state cleanup runs at the final watermark, and
    * because the watermark can never move past it, any further no-data
    * batches evict nothing new. Final state is deterministic either way. */
  def prepareSealedReplayFiles(spark: SparkSession, sfDir: String): String =
    graft.util.Staging.ensure(graft.util.Staging.dirFor("late4", sfDir), s"$sfDir/events.parquet") { dir =>
      import java.nio.file._
      import java.nio.file.attribute.FileTime
      val src = prepareLateArrivalFiles(spark, sfDir)
      val base = Files.createDirectories(Paths.get(dir))
      val mtime0 = System.currentTimeMillis()
      (1 to 3).foreach { i =>
        val dst = base.resolve(s"$i.parquet")
        Files.copy(Paths.get(src, s"$i.parquet"), dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime0 + i * 2000L))
      }
      val ev = graft.io.Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      val t0 = ev.agg(date_trunc("DAY", min(col("ts"))).as("t0")).head().getTimestamp(0)
      val t1 = new java.sql.Timestamp(t0.getTime + 7L * 86400 * 1000)
      val t2 = new java.sql.Timestamp(t0.getTime + 14L * 86400 * 1000)
      val seal = ev.filter(col("ts") >= lit(t1) && col("ts") < lit(t2) &&
          !col("event_type").isin("view", "click"))
        .orderBy(col("ts").desc, col("event_id").desc).limit(1)
      stageSingleFile(seal, base.resolve("4.parquet"), mtime0 + 8000L)
    }

  /** Checkpoint path for a drain `name` — one place owns the scratch
    * layout so offline state tooling ([[StateReshard]]) can find the
    * checkpoint a [[drainToTable]]/[[drainToParquet]] run left behind. */
  def checkpointFor(name: String): String = graft.util.Staging.scratch(s"ckpt_$name")

  /** Split the staged late-arrival replay for the re-shard harness
    * (q171): `history` = files 1–2 (what the original-store-count job
    * already processed), `tail` = file 3 (what the re-sharded
    * continuation processes). Idempotent, mtime-ordered like the source
    * staging. Returns (historyDir, tailDir). */
  def prepareReshardSplit(spark: SparkSession, sfDir: String): (String, String) = {
    val src = prepareLateArrivalFiles(spark, sfDir)
    import java.nio.file._
    import java.nio.file.attribute.FileTime
    def copyTo(tag: String, files: Seq[Int]): String =
      graft.util.Staging.ensure(graft.util.Staging.dirFor(tag, sfDir), s"$sfDir/events.parquet") { dir =>
        val base = Files.createDirectories(Paths.get(dir))
        val mtime0 = System.currentTimeMillis()
        files.zipWithIndex.foreach { case (i, pos) =>
          val dst = base.resolve(s"$i.parquet")
          Files.copy(Paths.get(src, s"$i.parquet"), dst, StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime0 + pos * 2000L))
        }
      }
    (copyTo("late_hist", Seq(1, 2)), copyTo("late_tail", Seq(3)))
  }

  /** Write `df` as exactly ONE parquet file at `dst` with a pinned
    * mtime — the staged-replay building block. Every multi-micro-batch
    * harness depends on the name+mtime ordering contract, so the rule
    * lives in one place (round-9 review: this dance was copy-pasted
    * across the staging helpers). */
  private def stageSingleFile(df: DataFrame, dst: java.nio.file.Path,
                              mtimeMillis: Long): Unit = {
    import java.nio.file._
    import java.nio.file.attribute.FileTime
    val tmp = s"${dst.toString}__tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMillis))
    Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  /** Stream the staged late-arrival files one per micro-batch. */
  def lateArrivalStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
  }

  /** Epsilon-smoothed full-grid PSI — the deployable drift score (q170):
    * every window is scored against EVERY category in (reference ∪
    * windows), with Laplace smoothing `(n + 0.5) / (tot + 0.5·k)` so a
    * category absent from one side (a NOVEL event type in the feed, or
    * one that vanished) contributes a real positive term instead of being
    * silently dropped by an inner join (q167's documented blind spot).
    * Probabilities are mirrored IEEE ops, ln is rounded at source, and
    * the total is an exact-decimal sum — the whole score replays in SQL
    * with no tolerance gate. Both grid sides are tiny (|windows| ×
    * |types|); the heavy work stays in the windowed count upstream.
    *
    * `winCounts`: (win_start, event_type, n2) per sealed window;
    * `ref`: (event_type, n1) reference distribution; `refTot`: Σ n1. */
  def smoothedPsi(winCounts: DataFrame, ref: DataFrame, refTot: Long): DataFrame = {
    import graft.util.Parity
    val types = ref.select("event_type")
      .unionByName(winCounts.select("event_type")).distinct()
    val grid = winCounts.select("win_start").distinct().crossJoin(broadcast(types))
    val cells = grid
      .join(winCounts, Seq("win_start", "event_type"), "left")
      .join(broadcast(ref), Seq("event_type"), "left")
      .na.fill(0L, Seq("n1", "n2"))
    val winTot = cells.groupBy("win_start")
      .agg(sum("n2").as("t2"), count(lit(1)).as("k"))
    cells.join(winTot, "win_start")
      .withColumn("p1", (col("n1").cast("double") + lit(0.5))
        / (lit(refTot).cast("double") + lit(0.5) * col("k").cast("double")))
      .withColumn("p2", (col("n2").cast("double") + lit(0.5))
        / (col("t2").cast("double") + lit(0.5) * col("k").cast("double")))
      .withColumn("term", round((col("p2") - col("p1")) * log(col("p2") / col("p1")), 6))
      .groupBy("win_start")
      .agg(Parity.dsum6(col("term")).as("psi"), count(lit(1)).as("n_bins"))
  }

  /** Tumbling-window aggregation (`window(ts, size)`). */
  def tumblingCounts(events: DataFrame, size: String): DataFrame =
    events.groupBy(window(col("ts"), size), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window aggregation. */
  def slidingCounts(events: DataFrame, size: String, slide: String): DataFrame =
    events.groupBy(window(col("ts"), size, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Session windows per user (gap-based sessionization). */
  def userSessions(events: DataFrame, gap: String): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("session_start_us"), col("n"))

  /** Streaming dedup on a key subset (state-backed `dropDuplicates`). */
  def dedupStream(events: DataFrame, keys: Seq[String]): DataFrame =
    events.select(keys.map(col): _*).dropDuplicates(keys)

  /** Custom keyed state via `flatMapGroupsWithState` — the 0..N-outputs
    * sibling of [[statefulUserActivity]]: per user, emit one row per event
    * type never seen before (the state is the seen-set). Append mode. */
  def userNewTypes(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.select(col("user_id").cast("long"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[Set[String]]) =>
          val seen = state.getOption.getOrElse(Set.empty[String])
          val fresh = it.map(_._2).toSeq.distinct.filterNot(seen)
          state.update(seen ++ fresh)
          fresh.iterator.map(t => (uid, t))
      }
      .toDF("user_id", "event_type")
  }

  /** Stream-stream inner join with a time-range condition and watermarks
    * on BOTH sides — the shape that lets the engine prune join state as
    * event time advances (without them, both sides' state grows without
    * bound): each click is matched to the views by the same user that it
    * follows within `horizon`. Inner-join matches emit eagerly; the
    * watermarks only bound state retention, so on a bounded replay the
    * result equals the batch join. */
  /** `joinType` "inner" (eager match emission) or "left_outer": a view
    * with no click inside the horizon emits with null click columns once
    * the watermark passes `v_ts + horizon` — i.e. when a match has become
    * impossible. Outer emission is therefore watermark-DRIVEN: on a
    * bounded replay the tail of unmatched rows needs a later event to
    * push the watermark past their horizon (see the spec). */
  def viewClickJoin(views: DataFrame, clicks: DataFrame, horizon: String,
                    joinType: String = "inner"): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
      col("event_id").as("view_id")).withWatermark("v_ts", "1 hour")
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
      col("event_id").as("click_id")).withWatermark("c_ts", "1 hour")
    v.join(c, col("v_user") === col("c_user") &&
      col("c_ts") >= col("v_ts") &&
      col("c_ts") <= col("v_ts") + expr(s"INTERVAL $horizon"), joinType)
  }

  /** Per-user event-type counter on the Spark 4 arbitrary-state API
    * ([[org.apache.spark.sql.streaming.StatefulProcessor]]): a typed
    * `MapState[event_type → count]` on the RocksDB store — unlike the
    * `GroupState` blob of map/flatMapGroupsWithState, each map ENTRY is
    * an individual store key, so per-batch writes touch only the types
    * seen in that batch instead of rewriting one serialized state value
    * per user (the property that matters when keys hold large state at
    * cluster scale). Emits the running (n_events, n_types, top_type)
    * per user per batch; top_type ties break lexicographically so the
    * output is engine-portable. */
  class UserTypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, Long, Long, String)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "typeCounts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
                                 tv: TimerValues): Iterator[(Long, Long, Long, String)] = {
      rows.foreach { case (_, t) =>
        counts.updateValue(t, (if (counts.containsKey(t)) counts.getValue(t) else 0L) + 1L)
      }
      val entries = counts.iterator().toSeq
      val n = entries.map(_._2).sum
      val top = entries.minBy { case (t, c) => (-c, t) }._1
      Iterator.single((user, n, entries.size.toLong, top))
    }
  }

  /** Streaming per-key quota admission (rate limiting): each user may
    * admit at most `quota` events; a `ValueState[Long]` tracks events
    * seen so far, and each update emits (seen, admitted = min(quota,
    * seen)). The admitted COUNT is order-independent even though the
    * admitted SET depends on arrival order — which is what makes the op
    * oracle-exact from the batch table. The production shape for
    * per-key quota / budget / ingestion-cap enforcement. */
  class QuotaProcessor(quota: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
                                 tv: TimerValues): Iterator[(Long, Long, Long)] = {
      val n = (if (seen.exists()) seen.get() else 0L) + rows.size
      seen.update(n)
      Iterator.single((user, n, math.min(quota, n)))
    }
  }

  /** [[QuotaProcessor]] wired through `transformWithState`. */
  def quotaAdmission(events: DataFrame, quota: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("user_id").cast("long"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new QuotaProcessor(quota), TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_seen", "n_admitted")
  }

  /** [[UserTypeCountsProcessor]] wired through `transformWithState` —
    * the q57/q74 semantics on the modern state API. Update mode, no
    * event-time dependence (`TimeMode.None`). */
  def userActivityTws(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("user_id").cast("long"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new UserTypeCountsProcessor(), TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events", "n_types", "top_type")
  }

  /** Per-user running count SEEDED from batch state — the
    * `StatefulProcessorWithInitialState` facet of the Spark 4 API: the
    * warm-start shape for migrating a batch-maintained table into a
    * streaming job without reprocessing history. `handleInitialState`
    * runs once per key from the initial-state relation before any input
    * row. */
  class SeededUserCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, String), (Long, Long), Long] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var n: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInitialState(key: Long, initial: Long,
                                    tv: TimerValues): Unit = n.update(initial)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                                 tv: TimerValues): Iterator[(Long, Long)] = {
      val cur = (if (n.exists()) n.get() else 0L) + rows.size
      n.update(cur)
      Iterator.single((key, cur))
    }
  }

  /** [[SeededUserCountProcessor]] wired up: historical events
    * (`event_id % 3 == 0`) are aggregated in BATCH and handed to
    * `transformWithState` as the initial state; the stream replays only
    * the rest. Emitted totals therefore equal the batch aggregate over
    * ALL events for every user that appears in the stream. */
  def seededUserCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val init = graft.io.Tables.events(spark, sfDir)
      .filter(pmod(col("event_id"), lit(3)) === 0)
      .groupBy(col("user_id").cast("long").as("u")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].groupByKey(_._1).mapValues(_._2)
    eventsStream(spark, sfDir)
      .filter(pmod(col("event_id"), lit(3)) =!= 0)
      .select(col("user_id").cast("long"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new SeededUserCountProcessor(),
        TimeMode.None(), OutputMode.Update(), init)
      .toDF("user_id", "n_total")
  }

  /** [[QuotaProcessor]]'s seeded twin — the state-RESHARD vehicle: same
    * ValueState semantics, but the count is seeded per key from an
    * initial-state relation before any input row. Used by
    * [[quotaAdmissionSeeded]] to continue a quota job on a DIFFERENT
    * state-partition count than the checkpoint it migrates from (see
    * [[StateReshard]]). */
  class SeededQuotaProcessor(quota: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, String), (Long, Long, Long), Long] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInitialState(key: Long, initial: Long,
                                    tv: TimerValues): Unit = seen.update(initial)

    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
                                 tv: TimerValues): Iterator[(Long, Long, Long)] = {
      val n = (if (seen.exists()) seen.get() else 0L) + rows.size
      seen.update(n)
      Iterator.single((user, n, math.min(quota, n)))
    }
  }

  /** [[SeededQuotaProcessor]] wired up: `initial` is (user_id, n_seen) —
    * e.g. the offline read of a previous checkpoint's ValueState
    * ([[StateReshard.readValueState]]). */
  def quotaAdmissionSeeded(events: DataFrame, quota: Long,
                           initial: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val init = initial.select(col("user_id").cast("long"), col("n_seen").cast("long"))
      .as[(Long, Long)].groupByKey(_._1).mapValues(_._2)
    events.select(col("user_id").cast("long"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new SeededQuotaProcessor(quota),
        TimeMode.None(), OutputMode.Update(), init)
      .toDF("user_id", "n_seen", "n_admitted")
  }

  case class AdmittedEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)

  /** Append-mode quota admission for the COMPOSED pipeline: admit the
    * first `quota` events per user, where "first" is deterministic —
    * arrival batch, then (event time, type) WITHIN the batch (the rows
    * handed to one `handleInputRows` call are sorted locally before the
    * remaining quota is granted). Unlike [[QuotaProcessor]] (which emits
    * order-independent counts), this emits the admitted ROWS, which is
    * only oracle-exact because the upstream dedup makes (user, type, ts)
    * unique and the replay harness pins batch boundaries. Memory is
    * O(quota) per key per batch — a bounded max-heap keeps the
    * `remaining`-smallest rows, never the batch's full row list.
    *
    * ONE body, two entry points (round-9 review: the seeded twin used to
    * duplicate this class verbatim): the unseeded processor IS
    * [[SeededQuotaAdmitProcessor]] minus an initial state — the plain
    * `transformWithState` overload never calls `handleInitialState`, so
    * a future change to the admission rule cannot desynchronize q155
    * from q176's migration. */
  class QuotaAdmitProcessor(quota: Long) extends SeededQuotaAdmitProcessor(quota)

  /** [[QuotaAdmitProcessor]]'s seeded form — the composed-pipeline
    * MIGRATION vehicle (q176): identical admission semantics (the
    * unseeded class extends this one), plus the per-user admitted count
    * seeded from an initial-state relation (the offline read of the
    * pre-migration checkpoint's "admitted" ValueState) before any input
    * row, so a re-sharded continuation never re-admits what the
    * original job already granted. */
  class SeededQuotaAdmitProcessor(quota: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, String, java.sql.Timestamp), AdmittedEvent, Long] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var admitted: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      admitted = getHandle.getValueState[Long]("admitted", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInitialState(key: Long, initial: Long,
                                    tv: TimerValues): Unit = admitted.update(initial)

    override def handleInputRows(user: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
                                 tv: TimerValues): Iterator[AdmittedEvent] = {
      val have = if (admitted.exists()) admitted.get() else 0L
      // clamp BEFORE narrowing: a quota above Int.MaxValue would wrap the
      // .toInt negative and silently admit zero rows instead of all
      val remaining = math.min(math.max(0L, quota - have), Int.MaxValue.toLong).toInt
      if (remaining == 0) { rows.foreach(_ => ()); Iterator.empty }
      else {
        // max-heap capped at `remaining`: push each row, evict the largest
        // — survivors are the remaining-smallest by (event time, type)
        val ord = Ordering.by[(Long, String, java.sql.Timestamp), (Long, String)](
          r => (r._3.getTime, r._2))
        val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, java.sql.Timestamp)](ord)
        rows.foreach { r =>
          heap.enqueue(r)
          if (heap.size > remaining) heap.dequeue()
        }
        admitted.update(have + heap.size)
        heap.toIndexedSeq.iterator.map(r => AdmittedEvent(r._1, r._2, r._3))
      }
    }
  }

  /** The composed streaming capstone (q147's streaming cousin): ONE query
    * chaining three stateful operators plus a stateless enrich —
    *
    *   watermark dedup (`dropDuplicates` on the full key, late batch-3
    *   rows dropped by the lagged watermark)
    *   → per-user quota admission ([[QuotaAdmitProcessor]] via
    *     `transformWithState` with a DECLARED event-time output column —
    *     the Spark 4 surface that lets stateful operators chain)
    *   → broadcast stream-static category enrich
    *   → tumbling 1h aggregate, append mode: only windows sealed by the
    *     final watermark emit.
    *
    * Runs over the staged 3-micro-batch late-arrival replay so every
    * watermark interaction is deterministic and the batch oracle can
    * replay the entire composition arithmetically (q61/q66's lagged-
    * watermark model: batch-3 rows survive iff ts > max(batch-1 ts) − 1h;
    * the seal is max(batch-2 ts) − 1h). */
  def composedAdmissionPipeline(spark: SparkSession, dir: String, quota: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val dim = spark.createDataFrame(Seq(
      ("click", "interaction"), ("view", "interaction"),
      ("purchase", "conversion"), ("signup", "conversion"),
      ("error", "fault"))).toDF("event_type", "category")
    val dd = lateArrivalStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicates(Seq("user_id", "event_type", "ts"))
    val admittedRows = dd.as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new QuotaAdmitProcessor(quota), "ts", OutputMode.Append())
    admittedRows.toDF()
      .join(broadcast(dim), "event_type")
      .groupBy(window(col("ts"), "1 hour"), col("category"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("category"), col("n"))
  }

  /** [[composedAdmissionPipeline]]'s MIGRATED CONTINUATION (q176): the
    * same four-operator composition, with the quota stage seeded from a
    * previous checkpoint's offline-read state
    * ([[SeededQuotaAdmitProcessor]]) so it can restart on a different
    * state-store count. The built-in stages (dedup, windowed agg) start
    * EMPTY — legitimate only because the migration protocol drains the
    * original job first and re-establishes the watermark with primer
    * batches ([[prepareMigrationTail]]); see q176's scaladoc for why
    * each built-in stage's state is either drained or reconstructed. */
  def composedAdmissionPipelineSeeded(spark: SparkSession, dir: String, quota: Long,
                                      initial: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val dim = spark.createDataFrame(Seq(
      ("click", "interaction"), ("view", "interaction"),
      ("purchase", "conversion"), ("signup", "conversion"),
      ("error", "fault"))).toDF("event_type", "category")
    val init = initial.select(col("user_id").cast("long"), col("admitted").cast("long"))
      .as[(Long, Long)].groupByKey(_._1).mapValues(_._2)
    val dd = lateArrivalStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicates(Seq("user_id", "event_type", "ts"))
    val admittedRows = dd.as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SeededQuotaAdmitProcessor(quota), "ts",
        OutputMode.Append(), init)
    admittedRows.toDF()
      .join(broadcast(dim), "event_type")
      .groupBy(window(col("ts"), "1 hour"), col("category"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("category"), col("n"))
  }

  /** Phase-2 input staging for the composed-pipeline migration (q176):
    * two PRIMER files followed by the late tail file, mtime-ordered so
    * `maxFilesPerTrigger=1` replays them as three micro-batches.
    *
    * The primers re-establish the WATERMARK the fresh checkpoint lost —
    * the one piece of built-in-operator state a drained pipeline still
    * carries. Each is a single sentinel row (`user_id = -1`, event type
    * `__primer`) that is inert through every stage: it passes dedup
    * (unique key), consumes quota only for the sentinel user, and is
    * DROPPED by the category enrich (inner join on the 5-type dim), so
    * no aggregate window ever sees it. Their timestamps are chosen so
    * the engine's lagged watermark model (q61: batch N's late filter
    * uses the watermark derived from batches ≤ N−2) gives the tail
    * batch EXACTLY the watermark it had in the uninterrupted run:
    *
    *   primer 1: ts = max on-time batch-1 ts  → the tail's late filter
    *             runs at wml = that − 1h, the uninterrupted value;
    *   primer 2: ts = max batch-2 ts          → the final seal watermark
    *             is wm = that − 1h, the uninterrupted value.
    */
  def prepareMigrationTail(spark: SparkSession, sfDir: String): String = {
    val src = prepareLateArrivalFiles(spark, sfDir)
    graft.util.Staging.ensure(graft.util.Staging.dirFor("mig_tail", sfDir), s"$sfDir/events.parquet") { dir =>
      import java.nio.file._
      import java.nio.file.attribute.FileTime
      val ev = graft.io.Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      val t0 = ev.agg(date_trunc("DAY", min(col("ts"))).as("t0")).head().getTimestamp(0)
      val t1 = new java.sql.Timestamp(t0.getTime + 7L * 86400 * 1000)
      val t2 = new java.sql.Timestamp(t0.getTime + 14L * 86400 * 1000)
      val wmT1 = ev.filter(col("ts") < lit(t1) && pmod(col("event_id"), lit(10)) =!= 0)
        .agg(max(col("ts"))).head().getTimestamp(0)
      val wmT2 = ev.filter(col("ts") >= lit(t1) && col("ts") < lit(t2))
        .agg(max(col("ts"))).head().getTimestamp(0)
      // SOUNDNESS GUARD (round-9 review): the migrated continuation
      // starts its dedup state EMPTY, which equals the uninterrupted run
      // ONLY while no tail late row shares the full dedup key
      // (user_id, event_type, ts) with any phase-1 row — a colliding key
      // still live in the uninterrupted run's dedup state would drop the
      // late row there but be admitted here. The staged corpus satisfies
      // this; a regenerated corpus that doesn't must fail HERE, loudly,
      // instead of as an unexplained q176 hash mismatch.
      val phase1Keys = ev.filter(
          (col("ts") < lit(t1) && pmod(col("event_id"), lit(10)) =!= 0) ||
          (col("ts") >= lit(t1) && col("ts") < lit(t2)))
        .select("user_id", "event_type", "ts")
      val collisions = ev
        .filter(col("ts") < lit(t1) && pmod(col("event_id"), lit(10)) === 0)
        .select("user_id", "event_type", "ts")
        .intersect(phase1Keys).count()
      require(collisions == 0,
        s"$collisions tail late row(s) collide with phase-1 dedup keys — " +
          "the empty-dedup migration boundary is unsound for this corpus")
      // sentinel rows carry the REAL schema (types cloned per field) so the
      // mixed-file stream reads them with the staged files' footer schema
      def primer(id: Long, ts: java.sql.Timestamp) =
        ev.limit(1).select(
          lit(id).cast(ev.schema("event_id").dataType).as("event_id"),
          lit(-1L).cast(ev.schema("user_id").dataType).as("user_id"),
          lit("__primer").as("event_type"),
          lit(0.0).cast(ev.schema("value").dataType).as("value"),
          lit(ts).as("ts"))
      val base = Files.createDirectories(Paths.get(dir))
      val mtime0 = System.currentTimeMillis()
      Seq(primer(-1L, wmT1), primer(-2L, wmT2)).zipWithIndex.foreach { case (df, i) =>
        stageSingleFile(df, base.resolve(s"${i + 1}.parquet"), mtime0 + i * 2000L)
      }
      val dst = base.resolve("3.parquet")
      Files.copy(Paths.get(src, "3.parquet"), dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime0 + 4000L))
    }
  }

  /** Deterministic failure injected by [[drainWithCrashRecovery]]. */
  final class SimulatedCrash(batchId: Long)
      extends RuntimeException(s"simulated crash at batch $batchId")

  /** Crash-recovery harness — the round-7 evidence gap: every streaming
    * query writes a checkpoint, but nothing exercised restarting from
    * one. Runs `mkQuery` twice against ONE checkpoint:
    *
    *   attempt 1 — the `foreachBatch` sink crashes at `crashAtBatch`
    *   AFTER that batch's rows are visible in the sink but BEFORE the
    *   batch commits: offsets are already in the WAL, the commit log
    *   stops at `crashAtBatch − 1`, and the state store's last
    *   checkpointed version is the previous batch — the worst-case
    *   failure point (output partially published, state not yet
    *   advanced).
    *
    *   attempt 2 — the SAME query is rebuilt from scratch (fresh
    *   StatefulProcessor instances: recovered state can only come from
    *   the checkpoint), started on the same checkpoint dir. The engine
    *   reconstructs the crashed batch from the offset WAL (same files,
    *   same watermark), reloads state at the last committed version,
    *   replays it, and continues.
    *
    * The sink is idempotent-by-batch-id — each batch (over)writes its
    * own `b<id>` subdirectory — so the replayed batch REPLACES its
    * pre-crash partial output instead of appending a duplicate: the
    * exactly-once parquet-sink pattern a production job needs at
    * 100 TB, where mid-batch executor/driver loss is routine.
    *
    * Self-checking (fails loudly rather than silently passing on a
    * non-exercised path): requires that attempt 1 really crashed, that
    * the commit log at that point did NOT contain `crashAtBatch`, and
    * that after recovery it does. */
  def drainWithCrashRecovery(mkQuery: () => DataFrame, name: String,
                             outputMode: String, crashAtBatch: Long): DataFrame = {
    val path = graft.util.Staging.scratch(s"sink_$name")
    graft.util.Staging.deleteRecursive(path)
    @volatile var outSchema: org.apache.spark.sql.types.StructType = null
    val spark = drainWithCrashRecoveryInto(mkQuery, name, outputMode, crashAtBatch) {
      (batch, batchId) =>
        outSchema = batch.schema
        batch.write.mode("overwrite").parquet(s"$path/b$batchId")
    }
    // union of the per-batch sink dirs; recursive lookup so `b0/`, `b1/`
    // read as plain nested dirs, not inferred partition columns; pinned
    // schema so an all-empty sink still reads back typed
    spark.read.schema(outSchema)
      .option("recursiveFileLookup", "true").parquet(path)
  }

  /** The crash/replay harness of [[drainWithCrashRecovery]] with a
    * CALLER-SUPPLIED sink body — for sinks that are more than a parquet
    * slot write, e.g. the table ingest of
    * [[graft.io.FileSkipping.ingestBatchOcc]] (q184, q207), where each
    * batch must land data AND commit its stats. The contract transfers unchanged: the
    * body MUST be idempotent by batch id, because attempt 1 crashes
    * AFTER the body ran for `crashAtBatch` but BEFORE that batch
    * commits, so the restarted query feeds the same batch through the
    * body a second time. All of [[drainWithCrashRecovery]]'s
    * self-checks (crash really fired, commit log gained the crashed
    * batch only after recovery) apply. Returns the session, for
    * callers to read their sink back. */
  def drainWithCrashRecoveryInto(mkQuery: () => DataFrame, name: String,
      outputMode: String, crashAtBatch: Long)(
      body: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit): SparkSession = {
    val ckpt = checkpointFor(name)
    graft.util.Staging.deleteRecursive(ckpt)
    @volatile var crashed = false // foreachBatch body runs on the driver
    def start(df: DataFrame) = df.writeStream.outputMode(outputMode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        body(batch, batchId)
        if (batchId == crashAtBatch && !crashed) {
          crashed = true
          throw new SimulatedCrash(batchId)
        }
      }
      .start()
    def committedBatches(): Set[Long] = {
      val d = new java.io.File(s"$ckpt/commits")
      if (!d.isDirectory) Set.empty
      else d.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).toSet
    }
    val first = mkQuery()
    withStatePartitions(first.sparkSession) {
      val q1 = start(first)
      try {
        q1.processAllAvailable()
        throw new IllegalStateException(
          s"crash at batch $crashAtBatch never fired — stream had fewer batches; recovery NOT exercised")
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          var c: Throwable = e
          while (c != null && !c.isInstanceOf[SimulatedCrash]) c = c.getCause
          if (c == null) throw e // a real failure, not our injected one
      } finally q1.stop()
      require(crashed, "sink never reached the crash batch")
      val afterCrash = committedBatches()
      require(!afterCrash.contains(crashAtBatch),
        s"batch $crashAtBatch already committed before the crash — nothing to recover")
      val q2 = start(mkQuery())
      try q2.processAllAvailable() finally q2.stop()
      require(committedBatches().contains(crashAtBatch),
        s"recovered run never replayed batch $crashAtBatch")
    }
    first.sparkSession
  }

  /** A pending (not yet watermark-closed) gap-island of one user's
    * events; timestamps in epoch micros. */
  case class PendingSession(start_us: Long, last_us: Long, n: Long)

  /** Hand-rolled session windows on the remaining arbitrary-state
    * surfaces — `ListState` + EVENT-TIME TIMERS (q101 exercises MapState,
    * q150 ValueState, q108 initial state; this is the timer/TTL facet,
    * the state-EVICTION machinery a 100 TB stateful job needs so per-key
    * state cannot grow forever):
    *
    *  - every user's open gap-islands live in a `ListState[PendingSession]`;
    *    arriving rows merge into islands (interval coalescing) and NOTHING
    *    emits eagerly — an allowed-late event in a later batch may still
    *    bridge two islands, so emission must wait for the watermark;
    *  - one event-time timer per key tracks the EARLIEST island expiry
    *    (`last + gap`); when the watermark passes it, the expired islands
    *    emit as closed sessions, state shrinks to the survivors, and the
    *    timer re-arms at the next expiry — i.e. timers implement exactly
    *    the session_window eviction rule, by hand;
    *  - rows behind the CURRENT watermark are dropped in the processor
    *    (`ts < wm`, same strict rule as the engine's late-row filter, and
    *    deterministic on the staged replay either way);
    *  - timer-firing boundary pinned by SessionTimerSpec: a timer whose
    *    expiry EQUALS the final watermark fires, and the oracle's closing
    *    condition (`last + gap <= wm`) matches it.
    *
    * Input (user, ts truncated to whole SECONDS as epoch micros) — the
    * truncation keeps every boundary on an exact millisecond so the
    * ms-granular timer/watermark arithmetic replays exactly in the
    * µs-granular oracle. */
  /** ONE body, two entry points (round-9 review: the seeded twin used
    * to duplicate this class verbatim): the unseeded processor IS
    * [[SeededTimerSessionProcessor]] minus an initial state — the plain
    * `transformWithState` overload never calls `handleInitialState`, so
    * a change to the island-merge or timer rule cannot desynchronize
    * q162/q172 from q180's re-shard. */
  class TimerSessionProcessor(gapSec: Long) extends SeededTimerSessionProcessor(gapSec)

  /** [[TimerSessionProcessor]] wired up over a watermarked event stream:
    * second-truncated event times, 1-hour watermark delay (≥ gap, so an
    * allowed-late arrival can never bridge islands the oracle's global
    * replay would keep apart), append output — only watermark-closed
    * sessions ever emit. */
  def timerSessions(events: DataFrame, gapSec: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.withColumn("ts", date_trunc("second", col("ts")))
      .withWatermark("ts", "1 hour")
      .select(col("user_id").cast("long"), unix_micros(col("ts"))).as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TimerSessionProcessor(gapSec),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "session_start_us", "session_end_us", "n")
  }

  /** One user's full pending-island set — the initial-state value type
    * for the timer re-shard ([[SeededTimerSessionProcessor]]): the
    * initial-state relation carries ONE row per key, so the islands read
    * offline from the old checkpoint are grouped into this wrapper. */
  case class PendingSet(islands: Seq[PendingSession])

  /** [[TimerSessionProcessor]]'s seeded twin — the LISTSTATE + TIMER
    * re-shard vehicle (q180): q171/q176 migrated ValueState counters;
    * this migrates the session processor's pending gap-islands AND
    * re-arms the event-time timers from the seeded state, so a
    * continuation on a different store count closes exactly the sessions
    * the uninterrupted run would. `handleInitialState` restores the
    * islands and registers the earliest-expiry timer per key — timers
    * are NOT exported by the offline read (they are derivable state:
    * expiry = min(last + gap)), which is why the processor re-derives
    * them, the same way it does after every batch. */
  class SeededTimerSessionProcessor(gapSec: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long), (Long, Long, Long, Long), PendingSet] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ExpiredTimerInfo}
    import org.apache.spark.sql.Encoders
    private val gapUs = gapSec * 1000000L
    @transient private var pending: org.apache.spark.sql.streaming.ListState[PendingSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getListState[PendingSession]("pending",
        Encoders.product[PendingSession], TTLConfig.NONE)

    /** Coalesce islands: neighbours merge when STRICTLY within gap —
      * `session_window` semantics (sessions are [start, last+gap) half
      * open; an event at exactly last+gap starts a new session), matching
      * q42/q117. */
    private def merged(islands: Seq[PendingSession]): Seq[PendingSession] =
      islands.sortBy(s => (s.start_us, s.last_us))
        .foldLeft(Vector.empty[PendingSession]) { (acc, s) =>
          acc.lastOption match {
            case Some(p) if s.start_us < p.last_us + gapUs =>
              acc.init :+ PendingSession(p.start_us, math.max(p.last_us, s.last_us), p.n + s.n)
            case _ => acc :+ s
          }
        }

    private def rearm(live: Seq[PendingSession]): Unit = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      if (live.nonEmpty)
        getHandle.registerTimer(live.map(s => s.last_us + gapUs).min / 1000L)
    }

    override def handleInitialState(user: Long, initial: PendingSet,
                                    tv: TimerValues): Unit = {
      val all = merged(initial.islands)
      if (all.nonEmpty) { pending.put(all.toArray); rearm(all) }
    }

    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
                                 tv: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val wmUs = tv.getCurrentWatermarkInMs * 1000L
      val fresh = rows.map(_._2).filter(_ >= wmUs).map(e => PendingSession(e, e, 1L)).toSeq
      if (fresh.nonEmpty) {
        val all = merged((if (pending.exists()) pending.get().toSeq else Nil) ++ fresh)
        pending.put(all.toArray)
        rearm(all)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      val wmUs = tv.getCurrentWatermarkInMs * 1000L
      val all = if (pending.exists()) pending.get().toSeq else Nil
      val (closed, live) = all.partition(s => s.last_us + gapUs <= wmUs)
      if (live.isEmpty) pending.clear() else pending.put(live.toArray)
      rearm(live)
      closed.iterator.map(s => (user, s.start_us, s.last_us, s.n))
    }
  }

  /** [[SeededTimerSessionProcessor]] wired up: `initial` is
    * (user_id, start_us, last_us, n) — the offline read of a previous
    * checkpoint's "pending" ListState, one row per island. */
  def timerSessionsSeeded(events: DataFrame, gapSec: Long,
                          initial: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val init = initial.select(col("user_id").cast("long"),
        col("start_us").cast("long"), col("last_us").cast("long"), col("n").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups((u, it) => (u, PendingSet(
        it.map(r => PendingSession(r._2, r._3, r._4)).toSeq.sortBy(s => (s.start_us, s.last_us)))))
      .groupByKey(_._1).mapValues(_._2)
    events.withColumn("ts", date_trunc("second", col("ts")))
      .withWatermark("ts", "1 hour")
      .select(col("user_id").cast("long"), unix_micros(col("ts"))).as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SeededTimerSessionProcessor(gapSec),
        TimeMode.EventTime(), OutputMode.Append(), init)
      .toDF("user_id", "session_start_us", "session_end_us", "n")
  }

  /** Input staging for the timer re-shard (q180): history = file 1 only
    * (so live gap-islands REMAIN in state at the boundary — a split
    * after file 2 would leave only never-closing tail islands and prove
    * nothing); tail = one inert watermark primer (user −1, ts = max
    * on-time batch-1 ts, re-establishing wml for the fresh checkpoint —
    * see [[prepareMigrationTail]]) followed by files 2 and 3. The primer
    * user's own 1-row session is filtered by the caller. */
  def prepareTimerReshardSplit(spark: SparkSession, sfDir: String): (String, String) = {
    val src = prepareLateArrivalFiles(spark, sfDir)
    import java.nio.file._
    import java.nio.file.attribute.FileTime
    val hist = graft.util.Staging.ensure(
      graft.util.Staging.dirFor("timer_hist", sfDir), s"$sfDir/events.parquet") { dir =>
      val base = Files.createDirectories(Paths.get(dir))
      Files.copy(Paths.get(src, "1.parquet"), base.resolve("1.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val tail = graft.util.Staging.ensure(
      graft.util.Staging.dirFor("timer_tail", sfDir), s"$sfDir/events.parquet") { dir =>
      val ev = graft.io.Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      val t0 = ev.agg(date_trunc("DAY", min(col("ts"))).as("t0")).head().getTimestamp(0)
      val t1 = new java.sql.Timestamp(t0.getTime + 7L * 86400 * 1000)
      val wmT1 = ev.filter(col("ts") < lit(t1) && pmod(col("event_id"), lit(10)) =!= 0)
        .agg(max(col("ts"))).head().getTimestamp(0)
      val primer = ev.limit(1).select(
        lit(-1L).cast(ev.schema("event_id").dataType).as("event_id"),
        lit(-1L).cast(ev.schema("user_id").dataType).as("user_id"),
        lit("__primer").as("event_type"),
        lit(0.0).cast(ev.schema("value").dataType).as("value"),
        lit(wmT1).as("ts"))
      val base = Files.createDirectories(Paths.get(dir))
      val mtime0 = System.currentTimeMillis()
      stageSingleFile(primer, base.resolve("1.parquet"), mtime0)
      Seq(2, 3).zipWithIndex.foreach { case (i, pos) =>
        val dst = base.resolve(s"$i.parquet")
        Files.copy(Paths.get(src, s"$i.parquet"), dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime0 + (pos + 1) * 2000L))
      }
    }
    (hist, tail)
  }

  case class UserState(n: Long, types: Seq[String])

  /** Custom keyed state via `mapGroupsWithState` (the brief's
    * `KeyValueGroupedDataset` surface): per-user running event count and
    * distinct-type count, maintained in a `GroupState` the engine
    * checkpoints and recovers. Output mode: update. */
  def statefulUserActivity(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id").cast("long"), col("event_type")).as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, Seq.empty))
          val evs = it.toSeq
          val next = UserState(prev.n + evs.size, (prev.types ++ evs.map(_._2)).distinct)
          state.update(next)
          (uid, next.n, next.types.size.toLong)
      }
      .toDF("user_id", "n_events", "n_types")
  }
}
