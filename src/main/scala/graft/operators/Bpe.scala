package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer training + encoding, Spark-first.
  *
  * The classic BPE loop (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") is inherently
  * sequential — merge k is chosen from counts that depend on merges
  * 1..k-1 — so the scale question is WHAT the loop iterates over. The
  * answer here: never the corpus. Training is two regimes glued by one
  * aggregation:
  *
  *   1. ONE corpus-scale shuffle builds the distinct-word frequency
  *      table (`groupBy(word).count`). At 100 TB this is a map-side-
  *      combined word count whose output is bounded by the VOCABULARY
  *      (~10^6-10^7 rows for natural text), not the corpus.
  *   2. The k merge iterations then run entirely over that small vocab
  *      table: per iteration, one adjacent-pair aggregation (weighted by
  *      word frequency), a single-row `collect()` of the winning pair
  *      (bounded — 1 row, like the nlist-row centroid pull in
  *      `Similarity.trainCentroids`), and a codegen'd higher-order
  *      rewrite of each word's symbol array. `localCheckpoint` per
  *      iteration keeps the plan from nesting k aggregates deep.
  *
  * Encoding never re-runs the loop: the training by-product IS each
  * word's final segmentation, so encoding = explode words + broadcast
  * join of the segmentation table (`encode`). Out-of-vocabulary words
  * (absent at training time) fall back to character count — the honest
  * cold-start behavior; production would apply the merge list.
  *
  * Determinism contract (oracle-replicated): pair counting includes
  * overlapping occurrences (the Sennrich convention: "aaa" counts
  * (a,a) twice); the winning pair maximizes summed word frequency with
  * ties broken lexicographically (left asc, right asc); the rewrite is
  * greedy left-to-right non-overlapping, which is exactly the semantics
  * of `replace()` over a separator-delimited string — the DuckDB twin
  * uses that identity. No end-of-word marker: words are independent
  * symbol streams (documented simplification; merges never cross a
  * whitespace boundary either way).
  *
  * Reference scope: TFMV/GCS2Postgres has no tokenizer (no operators at
  * all — see `/root/reference/src/db/db.go`); this is part of the
  * LLM-training-data operator family the engine adds beyond it.
  */
object Bpe {

  /** One learned merge: iteration number (1-based, = priority), the
    * merged pair, the resulting symbol, and the weighted pair count
    * that won the iteration.
    */
  case class Merge(iter: Int, left: String, right: String,
                   merged: String, cnt: Long)

  private val mergeSchema = StructType(Seq(
    StructField("iter", IntegerType, nullable = false),
    StructField("left", StringType, nullable = false),
    StructField("right", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  /** The distinct-word frequency table — the ONLY corpus-scale pass.
    * `split(text, " ")` mirrors the corpus' single-space convention
    * (TextAnalysis.tokens); empty tokens dropped.
    */
  def wordFreq(docs: DataFrame, scriptAware: Boolean = false): DataFrame =
    docs.select(explode(
        TextAnalysis.tokens(col("text"), scriptAware)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** The greedy left-to-right non-overlapping rewrite of one merge
    * (a, b) over a symbol-array column — the fold shared by training
    * and [[applyMerges]]. Correct under overlap because the merged text
    * a+b can never equal `a` (b is non-empty), so a freshly-merged
    * symbol cannot be consumed as the left half of the same pair.
    */
  private[operators] def mergeFold(syms: org.apache.spark.sql.Column,
                                   a: String,
                                   b: String): org.apache.spark.sql.Column = {
    val aL = lit(a); val bL = lit(b); val mL = lit(a + b)
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      slice(syms, lit(1), lit(1)),
      (acc, x) => when(
        element_at(acc, -1) === aL && x === bL,
        concat(slice(acc, lit(1), size(acc) - 1), array(mL)))
        .otherwise(concat(acc, array(x))))
  }

  /** Apply an already-learned merge list, in priority order, to the
    * distinct words of `docs` — the production encode path for corpora
    * the tokenizer was NOT trained on (every word is segmented, known
    * or OOV, by replaying the merges; contrast [[encode]]'s trained-
    * vocabulary join with its char-count fallback). Same scale shape as
    * training minus the counting: one distinct-words pass, then k
    * narrow rewrites of the vocab-bounded table.
    */
  def applyMerges(docs: DataFrame, merges: Seq[(String, String)],
                  scriptAware: Boolean = false): DataFrame =
    // the whole replay is ONE projection (plans.MergeListFold: k tight
    // in-JVM walks per word) instead of k checkpointed HOF-fold
    // projections — k eager jobs and k interpreted O(m²) folds gone;
    // BpeSpec pins the fold law (MergeListFold == the HOF mergeFold)
    docs
      .select(explode(
        TextAnalysis.tokens(col("text"), scriptAware)).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .select(col("word"),
        graft.plans.MergeListFold(split(col("word"), ""), merges)
          .as("syms"))

  /** Train `iters` merges over the corpus; returns
    * (mergeTable, segmentation) where mergeTable has one row per
    * learned merge (iter, left, right, merged, cnt) and segmentation is
    * (word, freq, syms: array&lt;string&gt;) — each distinct word's final
    * symbol sequence, the broadcastable encode dictionary.
    *
    * Stops early if no adjacent pair remains (every word collapsed to
    * one symbol); the merge table then has fewer than `iters` rows.
    */
  def trainMerges(docs: DataFrame, iters: Int,
                  scriptAware: Boolean = false): (DataFrame, DataFrame) = {
    // initial symbols: one per character. Spark's split(s, "") yields
    // the character array with no trailing empty element.
    val base = wordFreq(docs, scriptAware)
      .select(col("word"), col("freq"), split(col("word"), "").as("syms"))
      .localCheckpoint(true)
    // Driver tier (MergeLoop): the merge loop is vocabulary-bounded and
    // each distributed iteration is ~100 ms of scheduling constants over
    // microseconds of compute; bit-identical by the BpeSpec law. Past
    // the caps the distributed loop is unchanged (the 100 TB regime).
    MergeLoop.collect(base, "graft.bpe: driver tier collect") match {
      case Some(words) =>
        trainMergesLocal(docs.sparkSession, words, base.schema, iters)
      case None => trainMergesDistributed(docs.sparkSession, base, iters)
    }
  }

  /** Driver mirror of [[trainMergesDistributed]] over the collected
    * base — bit-identical by construction, pinned by the BpeSpec law:
    * exact integer pair counts (accumulation order immaterial), the
    * winner ordered by (cnt DESC, a ASC, b ASC) in UTF-8 BINARY order
    * (Spark's string ordering), and the rewrite through the SAME
    * [[graft.plans.MergeListFold]] kernel the distributed projection
    * evaluates.
    */
  private[operators] def trainMergesLocal(
      spark: org.apache.spark.sql.SparkSession,
      words: Array[(String, MergeLoop.WordSyms)],
      baseSchema: StructType, iters: Int): (DataFrame, DataFrame) = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    for (i <- 1 to iters if !exhausted) {
      val pairs = MergeLoop.pairCounts(words)
      if (pairs.isEmpty) exhausted = true
      else {
        var bestA: UTF8String = null; var bestB: UTF8String = null
        var bestCnt = Long.MinValue
        pairs.forEach { (k, cnt) =>
          val better = cnt > bestCnt || (cnt == bestCnt && {
            val ca = k._1.compareTo(bestA)
            ca < 0 || (ca == 0 && k._2.compareTo(bestB) < 0)
          })
          if (better) { bestA = k._1; bestB = k._2; bestCnt = cnt }
        }
        merges += Merge(i, bestA.toString, bestB.toString,
          bestA.toString + bestB.toString, bestCnt)
        MergeLoop.applyMerge(words, bestA, bestB)
      }
    }
    val mergeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.toSeq.map(m => Row(m.iter, m.left, m.right, m.merged, m.cnt)),
        numSlices = 1),
      mergeSchema)
    import scala.jdk.CollectionConverters._
    (mergeDf,
      spark.createDataFrame(MergeLoop.segRows(words).asJava, baseSchema))
  }

  /** The distributed merge loop over the checkpointed base — the
    * over-cap regime, and the reference implementation the BpeSpec law
    * checks [[trainMergesLocal]] against.
    *
    * ONE checkpointed base; each iteration re-derives the current
    * symbols from it with a single MergeListFold over the merges
    * learned SO FAR (k tight O(m) walks per word) instead of
    * checkpointing a new vocab per merge. The loop's distributed work
    * is 1 job per iteration — at vocab scale the re-folded walks are
    * microseconds per word while each saved job was ~100 ms of
    * scheduling constants; at 100 TB the base is vocabulary-sized
    * either way (the one corpus-scale pass is wordFreq, unchanged).
    */
  private[operators] def trainMergesDistributed(
      spark: org.apache.spark.sql.SparkSession, base: DataFrame,
      iters: Int): (DataFrame, DataFrame) = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    def vocabNow: DataFrame =
      if (merges.isEmpty) base
      else base.select(col("word"), col("freq"),
        graft.plans.MergeListFold(col("syms"),
          merges.toSeq.map(m => (m.left, m.right))).as("syms"))
    var exhausted = false
    for (i <- 1 to iters if !exhausted) {
      // adjacent pairs, overlap-inclusive, weighted by word frequency;
      // words with a single symbol contribute no pairs (slice yields
      // empty).
      val top = vocabNow
        .select(col("freq"),
          explode(graft.plans.AdjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(i, a, b, a + b, cnt)
      }
    }
    val vocab = vocabNow
    val mergeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.toSeq.map(m => Row(m.iter, m.left, m.right, m.merged, m.cnt)),
        numSlices = 1),
      mergeSchema)
    (mergeDf, vocab)
  }

  /** Encode: per-document token counts under the learned segmentation.
    * The vocab broadcasts (it is vocabulary-sized, not corpus-sized);
    * the corpus streams through one explode + one aggregation — the
    * same two-exchange shape as any word-count. OOV words (never seen
    * in training) count their characters.
    */
  def encode(docs: DataFrame, segmentation: DataFrame,
             scriptAware: Boolean = false): DataFrame =
    encodedWords(docs, segmentation, col("doc_id"), "doc_id", scriptAware)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sub"), length(col("word"))))
          .as("n_bpe_tokens"))

  /** Shared encode prep: corpus words exploded and left-joined against
    * the broadcast (word → subword count) dictionary, keyed by the
    * caller's aggregation key (doc for [[encode]], language for
    * [[fertility]]). OOV words carry a NULL n_sub; the aggregations
    * fall back to character counts via coalesce.
    */
  private def encodedWords(docs: DataFrame, segmentation: DataFrame,
                           keyCol: Column, keyName: String,
                           scriptAware: Boolean = false): DataFrame = {
    val seg = segmentation
      .select(col("word"), size(col("syms")).as("n_sub"))
    docs.select(keyCol.as(keyName),
        explode(TextAnalysis.tokens(col("text"), scriptAware)).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(seg), Seq("word"), "left")
  }

  /** Tokenizer fertility per group (usually language): total words,
    * characters, and BPE tokens under the learned segmentation — the
    * standard tokenizer-quality evaluation (fertility = tokens/word,
    * compression = chars/token) a pipeline runs per language before
    * committing to a vocabulary. Same shape as [[encode]] with the
    * aggregation keyed on the group instead of the document: the vocab
    * broadcasts, the corpus streams through one explode + one
    * aggregation whose output is |groups| rows.
    */
  def fertility(docs: DataFrame, segmentation: DataFrame,
                groupCol: Column, keyName: String = "lang",
                scriptAware: Boolean = false): DataFrame =
    encodedWords(docs, segmentation, groupCol, keyName, scriptAware)
      .groupBy(col(keyName))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(coalesce(col("n_sub"), length(col("word"))))
          .as("n_bpe_tokens"))
}
