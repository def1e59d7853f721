package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.quantize
import graft.plans.LongArrayDot

/** The window formulation of the IVF search, kept as the reference the
  * driver-probe kernel ([[Similarity.ivfTopK]], [[Similarity.ivfTopKIndexed]])
  * must match row for row: a broadcast cross-join and window pick each
  * query's `nprobe` cells, then the probed-cell join and a second
  * window rank the candidates.
  */
object IvfReference {

  /** (qid, qv, cent_id): each query's `nprobe` nearest cells by
    * quantized dot, ties to the lower cent_id.
    */
  def probes(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("pscore").desc, col("cent_id"))
    queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("pscore", LongArrayDot(col("qv"), col("cent_v")))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select(col("qid"), col("qv"), col("cent_id"))
  }

  /** (qid, rnk, cid, score) over `cents` (cent_id, cent_v) and the
    * cell map `assigned` (cid, cv, cent_id).
    */
  def topK(queries: DataFrame, cents: DataFrame, assigned: DataFrame,
           k: Int, nprobe: Int): DataFrame = {
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid"))
    broadcast(probes(queries, cents, nprobe)).join(assigned, Seq("cent_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("score", LongArrayDot(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("score"))
  }

  /** The reference over a persisted index's artifacts. */
  def overIndex(queries: DataFrame, indexPath: String, k: Int,
                nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    topK(queries, spark.read.parquet(s"$indexPath/centroids"),
      spark.read.parquet(s"$indexPath/assigned")
        .select(col("cid"), col("cv"), col("cent_id").cast("long").as("cent_id")),
      k, nprobe)
  }
}
