package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** The streaming state-partition knob (BASELINE.md round-7 cluster bench:
  * state-commit overhead scales with store-instance count, not state
  * volume — so stateful streaming stages must be sized to state volume,
  * not core count). Asserts the knob actually reaches the state store,
  * that narrowing never changes results, and that the caller's batch
  * shuffle conf is restored even on failure.
  */
class StatePartitionsSpec extends SparkSpec {

  test("stateful drain runs with statePartitions store instances and restores the conf") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("graft.streaming.statePartitions", "3")
    try {
      val ev = Streams.eventsStream(spark, sf("sf0.001"))
      val res = Streams.drainToTable(
        Streams.tumblingCounts(ev, "1 day"), "state_parts_probe", "complete")
      assert(res.count() > 0)
      // conf restored for subsequent batch queries
      assert(spark.conf.get("spark.sql.shuffle.partitions") == prev)
      // the checkpoint's state dir has exactly one subdir per store instance
      val stateDir = new java.io.File(
        Streams.checkpointFor("state_parts_probe"), "state/0")
      assert(stateDir.isDirectory, s"no state dir at $stateDir")
      val instances = stateDir.listFiles()
        .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      assert(instances.length == 3,
        s"expected 3 state-store instances, found ${instances.length}")
    } finally spark.conf.unset("graft.streaming.statePartitions")
  }

  test("narrowing state partitions does not change results (parity vs batch)") {
    spark.conf.set("graft.streaming.statePartitions", "2")
    try {
      val streamed = Streams.drainToTable(
        Streams.tumblingCounts(Streams.eventsStream(spark, sf("sf0.001")), "1 day"),
        "state_parts_parity", "complete")
      val batch = Streams.tumblingCounts(
        graft.io.Tables.events(spark, sf("sf0.001"))
          .select("event_id", "user_id", "event_type", "value", "ts"), "1 day")
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally spark.conf.unset("graft.streaming.statePartitions")
  }

  test("conf is restored even when the drained query fails") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // a stream whose sink write explodes at runtime (divide cast error via
    // a failing expression evaluated only during the drain)
    val ev = Streams.eventsStream(spark, sf("sf0.001"))
      .withColumn("boom", raise_error(lit("injected")))
    intercept[Throwable] {
      Streams.drainToTable(ev.groupBy("event_type").agg(max("boom").as("m")),
        "state_parts_fail", "complete")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prev)
  }
}
