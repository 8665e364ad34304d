package graft.tools

import graft.SparkEntry
import graft.core.GraftSession

/** Dev tool: dump formatted physical plans for selected queries so the
  * scan/pushdown/join strategy can be audited (run ad hoc, not by driver).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8, "explain")
    val d = if (args.length > 1) args(1) else graft.util.Staging.corpus("sf0.001")
    val names = if (args.nonEmpty && args(0) != "all") args(0).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n==================== $n ====================")
      try SparkEntry.queries(n)(spark, d).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
