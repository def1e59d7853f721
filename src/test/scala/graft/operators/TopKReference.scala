package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{lshBandKeys, quantize}
import graft.plans.LongArrayDot

/** The window formulations of the similarity top-k sites, kept as the
  * reference the shared heap kernel must match row for row (the
  * [[IvfReference]] of the other ranked paths): each ranks its
  * candidates with `row_number() over (partition by qid order by
  * score desc, cid)` and keeps rnk <= k.
  */
object TopKReference {

  private def prepQ(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("qid"), quantize(col("embedding")).as("qv"))

  private def prepC(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("cid"), quantize(col("embedding")).as("cv"))

  /** (qid, rnk, cid, score) of scored (qid, cid, score) candidates. */
  private def ranked(scored: DataFrame, k: Int, score: String = "score",
                     payload: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col(score).desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(Seq(col("qid"), col("rnk"), col("cid"), col(score).as("score")) ++
        payload: _*)
  }

  /** The broadcast cross join scored by LongArrayDot(qv, cv). */
  private def dotRanked(q: DataFrame, c: DataFrame, k: Int): DataFrame =
    ranked(c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("score", LongArrayDot(col("qv"), col("cv"))), k)

  def bruteForce(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    dotRanked(prepQ(queries), prepC(corpus), k)

  /** ADC over a persisted PQ index's `codebook/` and `codes/`. */
  def pqOverIndex(queries: DataFrame, indexPath: String, k: Int,
                  subspaces: Int, dim: Int): DataFrame = {
    val spark = queries.sparkSession
    val subDim = dim / subspaces
    val lut = prepQ(queries).select(col("qid"),
        posexplode(array((0 until subspaces).map(s =>
          slice(col("qv"), s * subDim + 1, subDim)): _*)).as(Seq("s", "qsub")))
      .join(broadcast(spark.read.parquet(s"$indexPath/codebook")), Seq("s"))
      .select(col("qid"), col("s"), col("code_id"),
        LongArrayDot(col("qsub"), col("cent")).as("p"))
    ranked(spark.read.parquet(s"$indexPath/codes")
      .join(broadcast(lut), Seq("s", "code_id"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("p")).as("score")), k)
  }

  /** SQ8 ADC over a persisted index's `stats/` and `codes/`. */
  def sqOverIndex(queries: DataFrame, indexPath: String, k: Int,
                  dim: Int): DataFrame = {
    val spark = queries.sparkSession
    val st = spark.read.parquet(s"$indexPath/stats").orderBy(col("d")).collect()
    require(st.length == dim)
    val loLit = typedlit(st.map(_.getLong(1)).toSeq)
    val ranLit = typedlit(st.map(r => r.getLong(2) - r.getLong(1)).toSeq)
    val dq = transform(col("codes"), (code, i) =>
      lit(255L) * element_at(loLit, i + 1) + code * element_at(ranLit, i + 1))
    dotRanked(prepQ(queries),
      spark.read.parquet(s"$indexPath/codes").select(col("cid"), dq.as("cv")), k)
  }

  /** LSH candidates, one per (qid, cid). `dropDuplicates("qid", "cid")`
    * kept an arbitrary copy; copies differ only where a repeated qid
    * carries different vectors, and the max is the copy a heap with
    * distinct ids keeps.
    */
  def lsh(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int,
          bands: Int, dim: Int): DataFrame = {
    def banded(prepped: DataFrame, id: String, v: String): DataFrame =
      prepped.withColumn("bks", array(lshBandKeys(col(v), bits, bands, dim): _*))
        .select(col(id), col(v), posexplode(col("bks")).as(Seq("band", "bk")))
    ranked(banded(prepC(corpus), "cid", "cv")
      .join(broadcast(banded(prepQ(queries), "qid", "qv")), Seq("band", "bk"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"))
      .agg(max(LongArrayDot(col("qv"), col("cv"))).as("score")), k)
  }

  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"),
      quantize(col("embedding")).as("qv"), col("label").as("qlab"))
    val c = corpus.select(col("vec_id").as("cid"),
      quantize(col("embedding")).as("cv"), col("label").as("clab"))
    ranked(c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid") && col("clab") =!= col("qlab"))
      .withColumn("score", LongArrayDot(col("qv"), col("cv"))), k,
      payload = Seq(col("clab").as("neg_label")))
  }

  private def projected(df: DataFrame, id: String, v: String, outDim: Int,
                        inDim: Int): DataFrame =
    Similarity.randomProject(df, outDim, inDim)
      .select(col("vec_id").as(id), col("pv").as(v))

  def rp(queries: DataFrame, corpus: DataFrame, k: Int, outDim: Int,
         inDim: Int): DataFrame =
    dotRanked(projected(queries, "qid", "qv", outDim, inDim),
      projected(corpus, "cid", "cv", outDim, inDim), k)

  def rpRerank(queries: DataFrame, corpus: DataFrame, k: Int, pool: Int,
               outDim: Int, inDim: Int): DataFrame = {
    val shortlist = rp(queries, corpus, pool, outDim, inDim)
      .select(col("qid"), col("cid"))
    ranked(prepC(corpus).join(broadcast(shortlist), Seq("cid"))
      .join(broadcast(prepQ(queries)), Seq("qid"))
      .withColumn("score", LongArrayDot(col("qv"), col("cv"))), k)
  }

  /** The window pool, NULL-scored candidates dropped, then the greedy
    * MMR walk: (qid, rnk, cid, rel, mmr).
    */
  def mmr(queries: DataFrame, corpus: DataFrame, k: Int, pool: Int,
          lamNum: Long, lamDen: Long): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = prepC(corpus)
    val pooled = ranked(c.crossJoin(broadcast(prepQ(queries)))
        .filter(col("qid") =!= col("cid"))
        .withColumn("score", LongArrayDot(col("qv"), col("cv"))), pool,
        payload = Seq(col("cv")))
      .filter(col("score").isNotNull)
      .select(col("qid"), col("cid"), col("score"), col("cv"))
      .as[(Long, Long, Long, Array[Long])]
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    pooled.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cands = it.toArray
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      (1 to math.min(k, cands.length)).map { rnk =>
        val (mmr, i) = cands.indices.filterNot(selected.contains).map { i =>
          val maxSim =
            if (selected.isEmpty) 0L
            else selected.map(j => dot(cands(i)._4, cands(j)._4)).max
          (lamNum * cands(i)._3 - (lamDen - lamNum) * maxSim, i)
        }.minBy { case (m, i) => (-BigInt(m), cands(i)._2) }
        selected += i
        (qid, rnk, cands(i)._2, cands(i)._3, mmr)
      }
    }.toDF("qid", "rnk", "cid", "rel", "mmr")
  }
}
