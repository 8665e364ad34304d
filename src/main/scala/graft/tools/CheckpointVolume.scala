package graft.tools

import org.apache.spark.sql.SparkSession

/** RocksDB changelog-checkpointing A/B on the REMOTE-TRANSFER axis.
  *
  * Round 6 measured changelog checkpointing on WALL TIME with local
  * checkpoint dirs and correctly rejected it (pure overhead when the
  * snapshot "upload" is a local rename). But at 100 TB checkpoints live
  * on object storage, where the metric that matters is BYTES SHIPPED PER
  * COMMIT — and everything written under the checkpoint LOCATION is
  * exactly what would cross the network (RocksDB's local working files
  * live under spark.local.dir, not here). This probe runs the q155
  * composed pipeline (four stateful operators) with changelog OFF and ON
  * against fresh checkpoint dirs and reports, per configuration, the
  * checkpoint-dir payload decomposed by kind:
  *
  *   - `.zip`       — full RocksDB snapshot uploads
  *   - `.changelog` — per-commit delta uploads (ON only)
  *   - other        — offsets/commits/WAL metadata (same both ways)
  *
  * Changelog ON should shift volume from per-commit snapshots to small
  * deltas + occasional maintenance snapshots; the ratio of the two
  * totals is the object-store egress saving the GraftSession comment
  * claims. One JSON line per configuration → BASELINE.md.
  */
object CheckpointVolume {

  private def dirStats(root: java.io.File): (Long, Long, Long, Long, Long) = {
    var zipB = 0L; var clB = 0L; var otherB = 0L; var zipN = 0L; var clN = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else f.getName match {
        // .crc checksum sidecars are a ChecksumFileSystem (file://)
        // artifact that scenarios A/B write but SlowFs (RawLocal, no
        // checksums) does not — they'd never ship to an object store, and
        // counting them made the byte columns non-comparable across
        // scenarios (round-8 review). Excluded everywhere.
        case n if n.endsWith(".crc") => ()
        case n if n.endsWith(".zip") => zipB += f.length(); zipN += 1
        case n if n.endsWith(".changelog") => clB += f.length(); clN += 1
        case _ => otherB += f.length()
      }
    walk(root)
    (zipB, clB, otherB, zipN, clN)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val dir = graft.streaming.Streams.prepareLateArrivalFiles(spark, sfDir)

    // Scenario B staging: events split into 16 time-ordered files so the
    // dedup query replays as 16 micro-batches whose state GROWS
    // monotonically (every event_id is new) while each commit touches
    // only 1/16th of it — the state ≫ delta regime where snapshot
    // uploads are O(state) per commit but changelogs are O(delta).
    val growDir = graft.util.Staging.ensure(
      graft.util.Staging.dirFor("ckptvol_grow", sfDir), s"$sfDir/events.parquet") { d =>
      import java.nio.file._
      import java.nio.file.attribute.FileTime
      val ev = graft.io.Tables.events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "ts")
      val base = Files.createDirectories(Paths.get(d))
      val mtime0 = System.currentTimeMillis()
      (0 until 16).foreach { i =>
        val tmp = s"$d/_tmp$i"
        ev.filter(pmod(col("event_id"), lit(16)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        val dst = base.resolve(f"${i + 1}%02d.parquet")
        Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime0 + i * 2000L))
        Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.delete(p))
      }
    }

    for (changelog <- Seq(false, true)) {
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        changelog.toString)

      // A: the composed pipeline (small state, 3 batches) — the regime
      // round 6 measured; expect no byte win.
      locally {
        val name = s"ckptvol_$changelog"
        val t0 = System.nanoTime()
        val out = graft.streaming.Streams.drainToParquet(
          graft.streaming.Streams.composedAdmissionPipeline(spark, dir, 20L), name, "append")
        val rows = out.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val (zipB, clB, otherB, zipN, clN) =
          dirStats(new java.io.File(graft.streaming.Streams.checkpointFor(name)))
        println(f"""CKPTVOL: {"scenario":"composed_small_state","changelog":$changelog,"rows":$rows,"wall_sec":$wall%.2f,"snapshot_zip_bytes":$zipB,"snapshot_zips":$zipN,"changelog_bytes":$clB,"changelogs":$clN,"meta_bytes":$otherB,"total_state_upload_bytes":${zipB + clB}}""")
      }

      // B: growing-state dedup over 16 micro-batches (state ≫ delta).
      locally {
        val name = s"ckptvolg_$changelog"
        val schema = spark.read.parquet(growDir).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(growDir)
          .dropDuplicates(Seq("event_id"))
          .groupBy("event_type").agg(count(lit(1)).as("n"))
        val t0 = System.nanoTime()
        val out = graft.streaming.Streams.drainToParquet(stream, name, "complete")
        val rows = out.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val (zipB, clB, otherB, zipN, clN) =
          dirStats(new java.io.File(graft.streaming.Streams.checkpointFor(name)))
        println(f"""CKPTVOL: {"scenario":"growing_state_dedup","changelog":$changelog,"rows":$rows,"wall_sec":$wall%.2f,"snapshot_zip_bytes":$zipB,"snapshot_zips":$zipN,"changelog_bytes":$clB,"changelogs":$clN,"meta_bytes":$otherB,"total_state_upload_bytes":${zipB + clB}}""")
      }

      // C (round-8 stretch): scenario B with the CHECKPOINT on a
      // latency-shimmed FileSystem (graft.util.SlowFs: local FS + N ms
      // per create/open/rename/list/status — the object-store
      // round-trips a REMOTE checkpoint pays). This converts the byte
      // crossover above into seconds: with per-op latency, the
      // configuration that ships fewer/smaller objects per commit must
      // win wall-clock, which local dirs could never show (round 6
      // measured changelog as pure overhead there). `slowfs:` has no
      // AbstractFileSystem binding, so graft.streaming.CheckpointFiles
      // passes it to Spark's FileSystem-based manager over SlowFs.
      locally {
        val hc = spark.sparkContext.hadoopConfiguration
        hc.set("fs.slowfs.impl", "graft.util.SlowFs")
        hc.setBoolean("fs.slowfs.impl.disable.cache", true)
        hc.setLong("graft.slowfs.latency.ms",
          sys.env.getOrElse("SPARK_GRAFT_SLOWFS_MS", "5").toLong)
        val name = s"ckptvols_$changelog"
        val localPath = graft.streaming.Streams.checkpointFor(name)
        graft.util.Staging.deleteRecursive(localPath)
        val schema = spark.read.parquet(growDir).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(growDir)
          .dropDuplicates(Seq("event_id"))
          .groupBy("event_type").agg(count(lit(1)).as("n"))
        val t0 = System.nanoTime()
        var commitMs = 0L
        graft.streaming.Streams.withStatePartitions(spark) {
          val q = stream.writeStream.outputMode("complete")
            .option("checkpointLocation", s"slowfs:$localPath")
            .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              b.count(); ()
            }
            .start()
          try {
            q.processAllAvailable()
            commitMs = q.recentProgress
              .flatMap(_.stateOperators.map(_.commitTimeMs)).sum
          } finally q.stop()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val (zipB, clB, otherB, zipN, clN) = dirStats(new java.io.File(localPath))
        println(f"""CKPTVOL: {"scenario":"growing_state_dedup_slowfs","changelog":$changelog,"wall_sec":$wall%.2f,"state_commit_ms":$commitMs,"snapshot_zip_bytes":$zipB,"snapshot_zips":$zipN,"changelog_bytes":$clB,"changelogs":$clN,"meta_bytes":$otherB,"total_state_upload_bytes":${zipB + clB}}""")
      }
    }
    spark.stop()
  }
}
