package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Internal-row collect + LocalRelation construction, without the
  * external-Row conversion round-trip `Dataset.collect` /
  * `createDataFrame` would pay (per-field boxing and UTF8String ->
  * String -> UTF8String copies — measurable at 10^5-row vocab tables
  * collected once per query run). Same `private[sql]` access pattern
  * as [[ColumnBridge]].
  */
object RelationBridge {

  /** Collect as InternalRows (copied, safe to retain). */
  def collectInternal(df: DataFrame): Array[InternalRow] =
    df.queryExecution.executedPlan.executeCollect()

  /** A DataFrame over a driver-held LocalRelation with the given
    * schema. Planning over it runs no job, and narrow Project/Filter
    * stages on top fold into it (`ConvertToLocalRelation`), so
    * collecting them runs none either; a broadcast exchange built over
    * it still runs one (the build collects through an RDD).
    */
  def localDf(spark: SparkSession, schema: StructType,
              rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
