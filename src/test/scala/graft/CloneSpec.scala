package graft

import org.apache.spark.sql.functions._

/** Shallow-clone contracts (round 15) — Delta's zero-copy clone:
  *
  *   - the clone's v0 references the SOURCE's files verbatim (file-set
  *     identity — zero data IO), deletion vectors and constraint records
  *     included;
  *   - divergence is copy-on-write both ways: clone mutations never
  *     touch the source, source mutations never touch the clone;
  *   - the clone's vacuum skips source-owned files (never deletes, never
  *     trips the mispairing guard) while still reclaiming the clone's
  *     OWN dead rewrites; a non-clone log keeps the loud guard;
  *   - refusals: existing target, vacuumed source version.
  */
class CloneSpec extends SparkSpec {
  import graft.io.{FileSkipping, TableSql, VersionLog}

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("v"))

  private def freshOcc(name: String): String = {
    val base = scratch(s"clone_$name")
    graft.util.Staging.deleteRecursive(base)
    rows(0, 4000).repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(s"$base/data")
    VersionLog.commitSnapshot(spark, s"$base/versions",
      FileSkipping.buildManifest(spark, s"$base/data", "k"))
    base
  }

  private def files(vdir: String, v: Int): Set[String] =
    VersionLog.manifestAt(spark, vdir, v).select("file")
      .collect().map(_.getString(0)).toSet

  test("zero-copy v0, two-way divergence, DV and constraint carry, refusals") {
    val base = freshOcc("main")
    val src = s"$base/versions"
    // source gets a DV delete and a constraint before cloning — both
    // must ride the clone
    FileSkipping.deleteRangeDvOcc(spark, s"$base/data", src, "k",
      lit(100), lit(199), "d1") // v1
    FileSkipping.alterAddConstraint(spark, src, "v_nonneg", "v >= 0") // v2
    val cl = s"$base/clone"
    val v = FileSkipping.cloneShallow(spark, src, s"$cl/versions")
    assert(v == 2)
    assert(files(s"$cl/versions", 0) == files(src, 2), "clone v0 must be zero-copy")
    // DV applied through the clone's read path
    assert(VersionLog.readVersion(spark, s"$cl/versions", 0).count() == 3900)
    // constraints carried: violating append on the CLONE refuses
    intercept[IllegalArgumentException] {
      FileSkipping.appendOcc(
        spark.range(9000, 9001).select(col("id").as("k"), lit(-1.0).as("v")),
        s"$cl/data", s"$cl/versions", "k", "a1")
    }
    // clone mutates; source untouched (and vice versa)
    FileSkipping.deleteRangeOcc(spark, s"$cl/data", s"$cl/versions", "k",
      lit(1000), lit(1999), "cd1")
    FileSkipping.mergeKeyedOcc(spark, s"$base/data", src, "k",
      spark.range(3000, 3001).select(col("id").as("k"), lit(777.0).as("v")), "sm1")
    val srcHead = VersionLog.readVersion(spark, src, VersionLog.head(spark, src))
    val clHead = VersionLog.readVersion(spark, s"$cl/versions",
      VersionLog.head(spark, s"$cl/versions"))
    assert(srcHead.count() == 3900 && srcHead.filter(col("v") === 777.0).count() == 1)
    assert(clHead.count() == 2900 && clHead.filter(col("v") === 777.0).count() == 0)
    // refusals
    intercept[IllegalArgumentException] {
      FileSkipping.cloneShallow(spark, src, s"$cl/versions")
    }
    VersionLog.vacuum(spark, s"$base/data", src, retainLast = 1)
    intercept[IllegalArgumentException] {
      FileSkipping.cloneShallow(spark, src, s"$cl/versions2", version = 0)
    }
  }

  test("clone vacuum skips source files, reclaims its own; SQL verb") {
    val base = freshOcc("vac")
    val src = s"$base/versions"
    val reg = Map("st" -> TableSql.TableRef(s"$base/data", src, "k"))
    val cl = s"$base/clsql"
    val m = TableSql(spark, reg, s"CLONE st TO '$cl/versions'").head()
    assert(m.getLong(0) == 0L)
    // mutate the clone twice so an intermediate CLONE-owned rewrite dies
    FileSkipping.deleteRangeOcc(spark, s"$cl/data", s"$cl/versions", "k",
      lit(500), lit(540), "c1") // v1: boundary rewrites into clone dataDir
    FileSkipping.deleteRangeOcc(spark, s"$cl/data", s"$cl/versions", "k",
      lit(541), lit(599), "c2") // v2: rewrites v1's boundary files again
    val cloneOwned = files(s"$cl/versions", 1).filter(_.contains("/clsql/"))
    assert(cloneOwned.nonEmpty, "boundary rewrites must land in the clone's dataDir")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (deleted, dropped) = VersionLog.vacuum(spark, s"$cl/data", s"$cl/versions",
      retainLast = 1)
    assert(dropped == 2)
    // source files all survive the clone's vacuum
    assert(files(src, 0).forall(f =>
      fs.exists(new org.apache.hadoop.fs.Path(f))), "clone vacuum touched source files")
    // the clone's own dead rewrite was reclaimed
    val v1Dead = cloneOwned -- files(s"$cl/versions", 2)
    assert(v1Dead.forall(f => !fs.exists(new org.apache.hadoop.fs.Path(f))),
      "clone vacuum must reclaim the clone's own dead files")
    assert(deleted == v1Dead.size)
    // head still reads exactly
    assert(VersionLog.readVersion(spark, s"$cl/versions", 2).count() == 3900)
  }

  test("DESCRIBE DETAIL flags clones and DVs; dry run counts dead sidecars truthfully") {
    val base = freshOcc("detail")
    val src = s"$base/versions"
    FileSkipping.deleteRangeDvOcc(spark, s"$base/data", src, "k",
      lit(10), lit(20), "d1") // v1: one live sidecar
    val det = VersionLog.describeDetail(spark, s"$base/data", src).head()
    assert(det.getAs[Long]("n_dv_files") >= 1L && !det.getAs[Boolean]("is_clone"))
    val cl = s"$base/cl"
    FileSkipping.cloneShallow(spark, src, s"$cl/versions")
    val cdet = VersionLog.describeDetail(spark, s"$cl/data", s"$cl/versions").head()
    assert(cdet.getAs[Boolean]("is_clone") &&
      cdet.getAs[Long]("n_dv_files") == det.getAs[Long]("n_dv_files"))
    // materialize on the SOURCE: v1's sidecar becomes dead at retain 1 —
    // the dry run must name it, and the real vacuum must match
    FileSkipping.compactSmallOcc(spark, s"$base/data", src, "k", 1L,
      512L * 1024, "opt") // v2: DVs materialized
    val (files, dvs, versions) = VersionLog.vacuumDryRun(spark, s"$base/data", src, 1)
    assert(dvs.exists(_.endsWith("dv-d1")) && versions == Seq(0, 1))
    val (deleted, dropped) = VersionLog.vacuum(spark, s"$base/data", src, 1)
    assert(deleted == files.length && dropped == versions.length)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/data/dv-d1")))
  }
}
