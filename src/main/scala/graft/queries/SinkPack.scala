package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.io.Tables
import graft.util.Staging.scratch

/** Sink surface (SURVEY §2.1 S6/S7 + S2 re-read): write → re-read
  * roundtrips must be lossless, proven by oracle-matching the original
  * table. Scratch lives under target/ (not a tracked path).
  */
object SinkPack extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S7+S2 — CSV write (header) → schema'd CSV read; int/string fidelity.
    "q45_csv_roundtrip" -> { (s, d) =>
      val p = scratch("nation_csv")
      Tables.writeCsv(Tables.nation(s, d), p)
      Tables.csv(s, p, Some("n_nationkey INT, n_name STRING, n_regionkey INT"))
    },

    // S6 — partitioned snappy-parquet write → re-read → aggregate.
    // (Hive-style partition dirs: o_orderstatus becomes a partition column.)
    "q46_parquet_roundtrip" -> { (s, d) =>
      val p = scratch("orders_parquet")
      Tables.orders(s, d).write.mode("overwrite")
        .option("compression", "snappy")
        .partitionBy("o_orderstatus").parquet(p)
      s.read.parquet(p)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.util.Parity.dsum(col("o_totalprice")).as("sum_price"))
    },

    // partition pruning: a filter on the Hive partition column must reach
    // the scan as a PartitionFilter (directory-level skip — at 100 TB the
    // other partitions' files are never even listed for IO). The pruning
    // itself is asserted on the physical plan in SinkSpec.
    "q73_partition_pruning" -> { (s, d) =>
      val p = scratch("orders_parquet_pruned")
      Tables.orders(s, d).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(p)
      s.read.parquet(p).filter(col("o_orderstatus") === "F")
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(count(lit(1)).as("n"),
          graft.util.Parity.dsum(col("o_totalprice")).as("sum_price"))
    }
  )

  override def oracles: Map[String, String] = Map(
    "q45_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q46_parquet_roundtrip" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY o_orderstatus""",

    "q73_partition_pruning" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
            COUNT(*) AS n, ${Sql.dsum("o_totalprice")} AS sum_price
          FROM orders WHERE o_orderstatus = 'F' GROUP BY 1"""
  )
}
