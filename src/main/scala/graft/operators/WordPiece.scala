package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WordPiece tokenizer training + encoding — the THIRD tokenizer family
  * production LLMs use (Schuster & Nakajima 2012; Wu et al. 2016, GNMT;
  * the BERT tokenizer), completing the trio beside [[Bpe]] (frequency
  * merges) and [[Unigram]] (EM-pruned LM). WordPiece is BPE's merge
  * loop with a LIKELIHOOD objective: the winning pair maximizes
  * count(ab) / (count(a) * count(b)) — the corpus log-likelihood gain
  * of the merge under a unigram LM — instead of raw pair frequency.
  *
  * Scale shape is exactly [[Bpe.trainMerges]]'s: ONE corpus-scale
  * word-frequency aggregation (vocabulary-bounded output), then k
  * iterations over that small table — per iteration one adjacent-pair
  * aggregation, one symbol-usage aggregation (both vocab-bounded), two
  * broadcast-sized joins, a 1-row collect of the winner, and the shared
  * greedy left-to-right rewrite fold. Nothing corpus-scale enters the
  * loop.
  *
  * Determinism contract (oracle-replicated): pair and unit counts are
  * overlap-inclusive and frequency-weighted (the Sennrich convention
  * [[Bpe]] documents); the score is quantized to integer micro-nats in
  * a fixed evaluation order — floor(1e6 * (ln cnt_ab - ln cnt_a -
  * ln cnt_b) + 0.5), the q_lm_ppl / unigram-cost precedent — and ties
  * break lexicographically (left asc, right asc). Encoding uses the
  * REAL WordPiece inference rule, greedy longest-match-first with
  * `##` continuation pieces and whole-word `[UNK]` fallback
  * ([[graft.plans.WordPieceSegment]]) — not a replay of the merges —
  * over a piece vocabulary derived from the final segmentation plus
  * full single-character coverage in both positional forms (so `[UNK]`
  * marks out-of-alphabet words only, the BERT-vocab convention).
  *
  * Reference scope: TFMV/GCS2Postgres has no tokenizer (no operators at
  * all — `/root/reference/src/db/db.go`); part of the LLM-training-data
  * operator family the engine adds beyond it.
  */
object WordPiece {

  /** One learned merge: iteration (1-based), the pair, the result, the
    * weighted pair count, both unit counts, and the micro-nat
    * likelihood score that won the iteration.
    */
  case class Merge(iter: Int, left: String, right: String, merged: String,
                   cnt: Long, cnt_l: Long, cnt_r: Long, score: Long)

  private val mergeSchema = StructType(Seq(
    StructField("iter", IntegerType, nullable = false),
    StructField("left", StringType, nullable = false),
    StructField("right", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("cnt_l", LongType, nullable = false),
    StructField("cnt_r", LongType, nullable = false),
    StructField("score", LongType, nullable = false)))

  /** Train `iters` likelihood merges; returns (mergeTable,
    * segmentation) with segmentation = (word, freq, syms) like
    * [[Bpe.trainMerges]]. Stops early when no pair remains.
    */
  def trainMerges(docs: DataFrame, iters: Int,
                  scriptAware: Boolean = false): (DataFrame, DataFrame) = {
    val base = Bpe.wordFreq(docs, scriptAware)
      .select(col("word"), col("freq"), split(col("word"), "").as("syms"))
      .localCheckpoint(true)
    // Driver tier (MergeLoop), as Bpe.trainMerges: each distributed
    // iteration pays 2 jobs over a multi-join plan (q_wordpiece_encode
    // spent 2.5 s wall on < 0.3 executor-CPU-s); bit-identical by the
    // WordPieceSpec law. Past the caps the distributed loop is unchanged.
    MergeLoop.collect(base, "graft.wordpiece: driver tier collect") match {
      case Some(words) =>
        trainMergesLocal(docs.sparkSession, words, base.schema, iters)
      case None => trainMergesDistributed(docs.sparkSession, base, iters)
    }
  }

  /** Driver mirror of [[trainMergesDistributed]] — bit-identical by
    * construction, pinned by the WordPieceSpec law: exact integer
    * pair/unit counts, the micro-nat score through the CATALYST Log
    * expression's own eval (memoized per distinct count) in the same
    * IEEE association order as the distributed column, the winner
    * ordered by (score DESC, a ASC, b ASC) in UTF-8 BINARY order, and
    * the rewrite through the SAME [[graft.plans.MergeListFold]] kernel.
    */
  private[operators] def trainMergesLocal(
      spark: org.apache.spark.sql.SparkSession,
      words: Array[(String, MergeLoop.WordSyms)],
      baseSchema: StructType, iters: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.unsafe.types.UTF8String
    val lnMemo = new java.util.HashMap[Long, java.lang.Double]()
    def ln(c: Long): Double = {
      var v = lnMemo.get(c)
      if (v == null) {
        v = org.apache.spark.sql.catalyst.expressions.Log(
          org.apache.spark.sql.catalyst.expressions.Literal(c.toDouble))
          .eval(null).asInstanceOf[Double]
        lnMemo.put(c, v)
      }
      v
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    for (i <- 1 to iters if !exhausted) {
      val pairs = MergeLoop.pairCounts(words)
      if (pairs.isEmpty) exhausted = true
      else {
        val units = MergeLoop.unitCounts(words)
        var bestA: UTF8String = null; var bestB: UTF8String = null
        var bestCnt = 0L; var bestL = 0L; var bestR = 0L
        var bestScore = Long.MinValue; var any = false
        pairs.forEach { (k, cnt) =>
          val cl = units.get(k._1); val cr = units.get(k._2)
          // floor(1e6 * (ln cnt - ln cnt_l - ln cnt_r) + 0.5) as long —
          // the exact Catalyst chain (left-associated subtraction,
          // Floor on double yields BIGINT)
          val score =
            math.floor(1e6 * (ln(cnt) - ln(cl) - ln(cr)) + 0.5).toLong
          val better = !any || score > bestScore ||
            (score == bestScore && {
              val ca = k._1.compareTo(bestA)
              ca < 0 || (ca == 0 && k._2.compareTo(bestB) < 0)
            })
          if (better) {
            bestA = k._1; bestB = k._2; bestCnt = cnt
            bestL = cl; bestR = cr; bestScore = score; any = true
          }
        }
        merges += Merge(i, bestA.toString, bestB.toString,
          bestA.toString + bestB.toString, bestCnt, bestL, bestR,
          bestScore)
        MergeLoop.applyMerge(words, bestA, bestB)
      }
    }
    val mergeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.toSeq.map(m => Row(m.iter, m.left, m.right, m.merged,
          m.cnt, m.cnt_l, m.cnt_r, m.score)),
        numSlices = 1),
      mergeSchema)
    import scala.jdk.CollectionConverters._
    (mergeDf,
      spark.createDataFrame(MergeLoop.segRows(words).asJava, baseSchema))
  }

  /** The distributed merge loop over the checkpointed base — the
    * over-cap regime, and the reference implementation the
    * WordPieceSpec law checks [[trainMergesLocal]] against.
    *
    * NOTE: unlike Bpe's accumulated refold, each iteration here reads
    * the vocab THREE ways (pair counts + both unit-count join sides),
    * so the accumulated-refold device was measured SLOWER (the three
    * branches each recompute the fold chain); the eager per-iteration
    * checkpoint stays, with the refold only replacing the interpreted
    * HOF rewrite.
    */
  private[operators] def trainMergesDistributed(
      spark: org.apache.spark.sql.SparkSession, base: DataFrame,
      iters: Int): (DataFrame, DataFrame) = {
    var vocab = base
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    for (i <- 1 to iters if !exhausted) {
      val pairs = vocab
        .select(col("freq"),
          explode(graft.plans.AdjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
      // unit counts over ALL symbol occurrences (1-symbol words too:
      // they are merge OUTPUTS whose mass must stay in the denominator)
      val units = vocab
        .select(col("freq"), explode(col("syms")).as("u"))
        .groupBy(col("u")).agg(sum(col("freq")).as("ucnt"))
      val top = pairs
        .join(units.select(col("u").as("a"), col("ucnt").as("cnt_l")),
          Seq("a"))
        .join(units.select(col("u").as("b"), col("ucnt").as("cnt_r")),
          Seq("b"))
        .select(col("a"), col("b"), col("cnt"), col("cnt_l"), col("cnt_r"),
          floor(lit(1e6) * (log(col("cnt").cast("double"))
            - log(col("cnt_l").cast("double"))
            - log(col("cnt_r").cast("double"))) + lit(0.5))
            .cast("long").as("score"))
        .orderBy(col("score").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top(0)
        val (a, b) = (r.getString(0), r.getString(1))
        merges += Merge(i, a, b, a + b, r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
        vocab = vocab.select(col("word"), col("freq"),
            graft.plans.MergeListFold(col("syms"), Seq((a, b))).as("syms"))
          .localCheckpoint(true)
      }
    }
    val mergeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.toSeq.map(m => Row(m.iter, m.left, m.right, m.merged,
          m.cnt, m.cnt_l, m.cnt_r, m.score)),
        numSlices = 1),
      mergeSchema)
    (mergeDf, vocab)
  }

  /** The encode vocabulary from a trained segmentation: each word's
    * first symbol bare, later symbols as `##`-continuations, plus every
    * single character of the training alphabet in BOTH forms (the
    * BERT-vocab coverage convention — greedy never dead-ends inside the
    * training alphabet, so `[UNK]` marks out-of-alphabet words only).
    */
  def pieceVocab(segmentation: DataFrame): DataFrame = {
    val pieces = segmentation
      .select(posexplode(col("syms")).as(Seq("pos", "sym")))
      .select(when(col("pos") === 0, col("sym"))
        .otherwise(concat(lit("##"), col("sym"))).as("piece"))
    val chars = segmentation
      .select(explode(split(col("word"), "")).as("ch"))
      .distinct()
    pieces
      .unionByName(chars.select(col("ch").as("piece")))
      .unionByName(chars.select(concat(lit("##"), col("ch")).as("piece")))
      .distinct()
  }

  /** Tokenizer fertility per group — the third row of the
    * BPE/unigram/WordPiece comparison ([[Bpe.fertility]] /
    * [[Unigram.fertility]], same output shape and denominators): total
    * words, characters, and greedy WordPiece tokens (`[UNK]` = 1).
    * Same scale shape as [[encode]] keyed on the group.
    */
  def fertility(docs: DataFrame, segmentation: DataFrame,
                groupCol: org.apache.spark.sql.Column,
                keyName: String = "lang",
                scriptAware: Boolean = false): DataFrame = {
    val pieces = pieceVocab(segmentation)
      .orderBy(col("piece")).collect().map(_.getString(0)).toSeq
    val words = docs
      .select(explode(
        TextAnalysis.tokens(col("text"), scriptAware)).as("word"))
      .filter(length(col("word")) > 0).distinct()
    val segArr = graft.plans.WordPieceSegment(col("word"), pieces)
    val seg = words.select(col("word"),
        when(segArr.isNotNull, size(segArr)).as("n_sub"))
    docs.select(groupCol.as(keyName),
        explode(TextAnalysis.tokens(col("text"), scriptAware)).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(seg), Seq("word"), "left")
      .groupBy(col(keyName))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(coalesce(col("n_sub").cast("long"), lit(1L)))
          .as("n_wp_tokens"))
  }

  /** Encode: per-document word, piece, and `[UNK]` counts under greedy
    * longest-match-first inference. The piece vocabulary collects once
    * (vocab-bounded, shipped inside the [[graft.plans.WordPieceSegment]]
    * expression); the segmentation maps the DISTINCT words, broadcasts,
    * and the corpus streams through one explode + one aggregation —
    * the standard two-exchange word-count shape.
    */
  def encode(docs: DataFrame, segmentation: DataFrame,
             scriptAware: Boolean = false): DataFrame = {
    val pieces = pieceVocab(segmentation)
      .orderBy(col("piece")).collect().map(_.getString(0)).toSeq
    val words = docs
      .select(explode(
        TextAnalysis.tokens(col("text"), scriptAware)).as("word"))
      .filter(length(col("word")) > 0).distinct()
    val segArr = graft.plans.WordPieceSegment(col("word"), pieces)
    val seg = words.select(col("word"),
        when(segArr.isNotNull, size(segArr)).as("n_sub"))
    docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"), scriptAware)).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(seg), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        // an [UNK] word is one token (the BERT convention)
        sum(coalesce(col("n_sub").cast("long"), lit(1L)))
          .as("n_wp_tokens"),
        sum(when(col("n_sub").isNull, 1L).otherwise(0L)).as("n_unk"))
  }
}
