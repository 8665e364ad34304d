package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType

/** Driver-resident frames for [[graft.io.DriverParquet.readSmall]]: rows
  * already on the driver become a `LocalRelation`, so projections and
  * filters over them fold into the relation (`ConvertToLocalRelation`)
  * and a `collect` starts no Spark job.
  *
  * Lives under org.apache.spark.sql because `Dataset.ofRows` and
  * `StructType.asNullable` are `private[sql]` / `private[spark]` — the
  * established idiom of this package (see [[PlanRebuild]]). */
object LocalFrames {

  /** A frame over `rows`, typed by `schema`. */
  def of(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `schema` with every field, element and value nullable — what
    * `spark.read.parquet` makes of a file's schema. */
  def nullable(schema: StructType): StructType = schema.asNullable
}
