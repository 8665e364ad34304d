package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Dev tool (round 15): dump `.explain("formatted")` evidence files for
  * `plans/r15/<query>_{before,after}.txt`.
  *
  * Unlike [[Explain]] (declared-result plan only), this captures EVERY
  * SQL action the query executes via a QueryExecutionListener — for the
  * table-lifecycle queries the optimization story is the NUMBER and cost
  * of actions (snapshot commits, staging writes, precondition scans), and
  * for streaming queries the micro-batch plans are where the execution
  * shape (e.g. the q177/q160 arrival repartition) lives; neither is
  * visible in the declared DataFrame's plan. Each action's plan is
  * truncated to its operator tree + the first detail paragraphs so the
  * files stay reviewable.
  *
  * Usage: sbt "runMain graft.tools.PlanDump q177_x,q216_y <sfDir> <outDir> <suffix>"
  * (`outDir` defaults to `plans/r15` under the working directory).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val d = if (args.length > 1) args(1) else graft.util.Staging.corpus("sf0.01")
    val outDir = if (args.length > 2) args(2) else "plans/r15"
    val suffix = if (args.length > 3) args(3) else "after"
    val spark = graft.core.GraftSession.local(32, "plandump")
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.stage(spark, d)

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val txt = try qe.explainString(org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"<explain failed: ${e.getMessage}>" }
        plans.add((funcName, durationNs / 1000000, txt))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

    Files.createDirectories(Paths.get(outDir))
    import scala.jdk.CollectionConverters._
    org.apache.spark.sql.graft.StreamPlanCapture.enabled = true
    for (q <- names) {
      plans.clear()
      org.apache.spark.sql.graft.StreamPlanCapture.plans.clear()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(q)(spark, d)
      val declared = df.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let listener callbacks drain
      val acts = plans.asScala.toVector
      val sb = new StringBuilder
      sb ++= s"== $q ($suffix) ==\n"
      sb ++= f"sfDir: $d, wall (incl. plan capture): $wall%.2f s\n"
      sb ++= s"SQL actions executed: ${acts.size} " +
        s"(action-ms sum ${acts.map(_._2).sum})\n\n"
      sb ++= "==== DECLARED QUERY PLAN (df.explain(\"formatted\")) ====\n"
      sb ++= declared
      sb ++= "\n\n==== PER-ACTION PLANS (QueryExecutionListener, execution order) ====\n"
      acts.zipWithIndex.foreach { case ((fn, ms, txt), i) =>
        sb ++= s"\n---- action ${i + 1}/${acts.size}: $fn (${ms} ms) ----\n"
        // operator tree + first detail blocks; long detail tails truncated
        val lines = txt.linesIterator.toVector
        val keep = if (lines.length <= 120) lines
          else lines.take(120) :+ s"... (${lines.length - 120} more lines truncated)"
        sb ++= keep.mkString("\n")
        sb ++= "\n"
      }
      val streamPlans = org.apache.spark.sql.graft.StreamPlanCapture.plans.asScala.toVector
      if (streamPlans.nonEmpty) {
        sb ++= "\n==== STREAMING MICRO-BATCH PLANS (StreamExecution.lastExecution) ====\n"
        streamPlans.foreach { case (name, txt) =>
          sb ++= s"\n---- stream: $name ----\n"
          val lines = txt.linesIterator.toVector
          val keep = if (lines.length <= 160) lines
            else lines.take(160) :+ s"... (${lines.length - 160} more lines truncated)"
          sb ++= keep.mkString("\n")
          sb ++= "\n"
        }
      }
      Files.write(Paths.get(outDir, s"${q}_$suffix.txt"),
        sb.toString.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      println(s"[plandump] wrote $outDir/${q}_$suffix.txt (${acts.size} actions)")
    }
    spark.stop()
  }
}
