package graft

/** Cache hygiene: a full pass over every registered query must leave ZERO
  * persisted RDDs in the context. This is the session-scale invariant the
  * oracle gate cannot see — on a long-lived cluster session, any query
  * that persists an intermediate (or returns a persisted frame, like
  * q111's PageRank / q85's connected components) and escapes the release
  * discipline accumulates executor storage until eviction thrash. The
  * pass mirrors Verify's per-query `clearCache()` exactly, so what this
  * spec proves is: that discipline plus the operators' own try/finally
  * releases (incl. localCheckpoint RDDs, which `clearCache` does NOT
  * drop) is sufficient for the WHOLE surface.
  */
class CacheSpec extends SparkSpec {

  test("a full query pass leaves zero persisted RDDs (Verify's discipline)") {
    val d = sf("sf0.001")
    // other suites share this session: start from a clean slate so the
    // final assertion attributes leaks to THIS pass only
    spark.catalog.clearCache()
    System.setProperty("graft.oracle.dir", scratch("cache_spec_dumps"))
    SparkEntry.stage(spark, d)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, d).count()
      catch { case e: Throwable => failed += s"$name: ${e.getMessage}" }
      finally spark.catalog.clearCache()
    }
    assert(failed.isEmpty, s"queries threw at sf0.001:\n${failed.mkString("\n")}")
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"persisted RDDs survived the pass: ${leaked.values.map(_.toString).mkString("; ")}")
  }
}
