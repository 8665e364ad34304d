package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The version log's metadata reads start no Spark job: snapshots and
  * checkpoint summaries are read on the driver
  * ([[graft.io.DriverParquet.readSmall]]), and data reads are typed from
  * the log's schema record or one footer read on the driver, so no
  * schema-inference job (`parquet at …`) runs anywhere. Jobs are counted
  * from this thread's job group only, with the listener bus drained
  * before each count. */
class JobCountSpec extends SparkSpec {
  import graft.io.{FileSkipping, VersionLog}

  /** Call sites (the result stage's name, e.g. `collect at X.scala:12`)
    * of the jobs started by this suite's thread. */
  private final class JobLog(group: String) extends SparkListener {
    private val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        sites.add(e.stageInfos.maxBy(_.stageId).name)
    def take(): Seq[String] = {
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      val out = sites.toArray(Array.empty[String]).toSeq
      sites.clear()
      out
    }
  }

  test("begin, manifestAt, describeDetail and describeHistory start no job; readVersion only its scan") {
    val base = scratch("jobcount")
    graft.util.Staging.deleteRecursive(base)
    val data = s"$base/data"
    val vdir = s"$base/versions"
    spark.range(0, 4000).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k").write.parquet(data)
    VersionLog.commitSnapshot(spark, vdir, FileSkipping.buildManifest(spark, data, "k")) // v0
    FileSkipping.mergeKeyedOcc(spark, data, vdir, "k",
      spark.range(3990, 4010).select(col("id").as("k"), lit(-1L).as("v")), "JC1") // v1
    FileSkipping.deleteRangeOcc(spark, data, vdir, "k", lit(100L), lit(199L), "JC2") // v2
    assert(VersionLog.checkpoint(spark, vdir) == 2)

    val group = "jobcount-spec"
    val log = new JobLog(group)
    spark.sparkContext.setJobGroup(group, "job-count guard")
    spark.sparkContext.addSparkListener(log)
    try {
      log.take()
      def jobsOf[T](body: => T): (T, Seq[String]) = {
        val out = body
        (out, log.take())
      }
      val (pin, beginJobs) = jobsOf(VersionLog.begin(spark, vdir))
      assert(pin._1 == 2 && beginJobs.isEmpty, s"begin started jobs: $beginJobs")
      val (files, manJobs) = jobsOf(
        VersionLog.manifestAt(spark, vdir, 2).select("file").collect().length)
      assert(files > 0 && manJobs.isEmpty, s"manifestAt + collect started jobs: $manJobs")
      val (detail, detailJobs) = jobsOf(
        VersionLog.describeDetail(spark, data, vdir).head().getAs[Long]("n_files"))
      assert(detail == files && detailJobs.isEmpty, s"describeDetail started jobs: $detailJobs")
      val (_, historyJobs) = jobsOf(VersionLog.describeHistory(spark, vdir))
      assert(historyJobs.isEmpty, s"describeHistory on a checkpointed log started jobs: $historyJobs")
      val (head, readJobs) = jobsOf(VersionLog.readVersion(spark, vdir, 2))
      assert(readJobs.isEmpty, s"readVersion started jobs before any action: $readJobs")
      val (rows, scanJobs) = jobsOf(head.collect())
      assert(rows.length == 4000 - 100 + 10)
      assert(scanJobs.nonEmpty && scanJobs.forall(_.startsWith("collect at JobCountSpec")),
        s"readVersion's first action must start only its scan job(s): $scanJobs")
    } finally {
      spark.sparkContext.removeSparkListener(log)
      spark.sparkContext.clearJobGroup()
    }
  }
}
