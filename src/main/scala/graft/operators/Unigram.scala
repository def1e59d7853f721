package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.DriverTier

/** Unigram-LM (SentencePiece-style) tokenizer training — the OTHER
  * tokenizer family production LLMs use beside BPE (Kudo 2018,
  * "Subword Regularization"; Kudo & Richardson 2018, SentencePiece).
  * Where BPE grows a vocabulary bottom-up by merging, unigram-LM
  * starts from an over-complete substring seed vocabulary and shrinks
  * it: EM re-estimates token probabilities from the corpus'
  * segmentations, then pruning keeps the highest-mass tokens.
  *
  * Spark-first scale shape, exactly [[Bpe]]'s: the corpus is touched
  * ONCE (the distinct-word frequency aggregation — vocabulary-bounded
  * output); everything after iterates over that small table. Each EM
  * iteration is one vocab-bounded driver collect (the token/cost
  * arrays, like BPE's 1-row winning-pair collect) plus one narrow
  * codegen'd map over the distinct words (the
  * [[graft.plans.UnigramSegment]] Viterbi kernel) and one hash
  * aggregation of token usages. Nothing corpus-scale ever enters the
  * loop.
  *
  * Determinism contract (oracle-replicated in full):
  *   - hard-EM (Viterbi) expectations: each word contributes its BEST
  *     segmentation, weighted by word frequency — the
  *     `UnigramSegment` tie-break law (min cost, then fewest tokens,
  *     then longest-token-first);
  *   - token costs are integer micro-nats:
  *     `floor(-1e6 * ln(cnt/total) + 0.5)` — one fixed-order double
  *     expression, same bits in Spark and DuckDB (the q_lm_ppl ln
  *     precedent);
  *   - seed/prune selection orders by (cnt DESC, token ASC) — total
  *     order, no RNG anywhere;
  *   - every single character stays in the vocabulary (coverage:
  *     unsegmentable words cannot arise on the training corpus);
  *     characters whose usage drops to zero re-enter with count 1.
  *
  * Reference scope: TFMV/GCS2Postgres has no tokenizer (no operators
  * at all — `/root/reference/src/db/db.go`); this is part of the
  * LLM-training-data family the engine adds beyond it.
  */
object Unigram {

  /** Occurrence-weighted counts of every substring of length
    * 1..`maxLen` of every distinct word (overlap-inclusive, weighted by
    * word frequency) — the over-complete seed the EM loop prunes. Pure
    * codegen (nested sequence/transform) over the vocab-bounded word
    * table.
    */
  def seedCounts(wf: DataFrame, maxLen: Int): DataFrame =
    wf.select(col("freq"), explode(flatten(transform(
        sequence(lit(1), least(lit(maxLen), length(col("word")))),
        l => transform(
          sequence(lit(1), length(col("word")) - l + 1),
          s => col("word").substr(s, l))))).as("token"))
      .groupBy(col("token")).agg(sum(col("freq")).as("cnt"))

  /** Integer micro-nat costs from counts: ONE broadcast of the 1-row
    * total, then a narrow map — `cost = floor(-1e6*ln(cnt/total)+0.5)`.
    */
  def withCosts(counts: DataFrame): DataFrame =
    counts.crossJoin(broadcast(counts.agg(sum(col("cnt")).as("tot"))))
      .withColumn("cost",
        floor(lit(-1e6) * log(col("cnt").cast("double") /
          col("tot").cast("double")) + lit(0.5)).cast("long"))
      .drop("tot")

  /** The distinct single characters of the word table (the coverage
    * alphabet every vocabulary must retain).
    */
  private def alphabet(wf: DataFrame): DataFrame =
    wf.select(explode(split(col("word"), "")).as("token")).distinct()

  /** Viterbi-segment the distinct words under a (token, cost) vocab
    * collected to arrays — (word, freq, segs). */
  private def segmented(wf: DataFrame, vocab: DataFrame): DataFrame = {
    val v = vocab.select("token", "cost").orderBy("token").collect()
    val toks = v.map(_.getString(0)).toSeq
    val costs = v.map(_.getLong(1)).toSeq
    wf.select(col("word"), col("freq"),
      graft.plans.UnigramSegment(col("word"), toks, costs).as("segs"))
  }

  /** Train: seed -> `emIters` hard-EM iterations -> prune to
    * `vocabSize` (plus the alphabet) -> final costs. Returns
    * (token, cnt, cost) — cnt is the token's Viterbi usage mass from
    * the last estimation.
    */
  def train(docs: DataFrame, vocabSize: Int, seedMaxLen: Int = 4,
            seedSize: Int = 150, emIters: Int = 2,
            scriptAware: Boolean = false): DataFrame = {
    require(vocabSize > 0 && seedSize >= vocabSize && emIters >= 0,
      s"need 0 < vocabSize <= seedSize, got $vocabSize/$seedSize")
    val wf = Bpe.wordFreq(docs, scriptAware).localCheckpoint(true)
    // Driver tier (engine.DriverTier): the seed -> EM -> prune loop is
    // vocabulary-bounded, and at sf0.1 the distributed form is ~95%
    // job-scheduling constants (~14 jobs, 0.5 executor-CPU-s of a 2.1 s
    // q_unigram_fertility run). Under the caps (characters in code
    // points, as `length` counts them) the loop runs on the driver,
    // bit-identical by the UnigramSpec law; past them it is unchanged.
    DriverTier.collect(wf, LocalTrainMaxWords,
        "graft.unigram: driver tier collect")
      .filter(_.iterator.map(_.getUTF8String(0).numChars().toLong).sum <=
        LocalTrainMaxChars) match {
      case Some(rows) =>
        trainLocal(docs.sparkSession,
          rows.map(r => (r.getUTF8String(0).toString, r.getLong(1))),
          vocabSize, seedMaxLen, seedSize, emIters)
      case None =>
        trainDistributed(wf, vocabSize, seedMaxLen, seedSize, emIters)
    }
  }

  /** Distinct-word count / total code-point caps under which [[train]]
    * runs its loop on the driver. Sized so the transient seed substring
    * map (≤ 4 entries per word code point before sharing) stays a few
    * hundred MB worst case.
    */
  private[operators] val LocalTrainMaxWords = 250000L
  private[operators] val LocalTrainMaxChars = 1000000L

  /** The distributed seed -> EM -> prune loop over the checkpointed
    * word-frequency table — the over-cap regime, and the reference
    * implementation the UnigramSpec law checks [[trainLocal]] against.
    */
  private[operators] def trainDistributed(wf: DataFrame, vocabSize: Int,
      seedMaxLen: Int, seedSize: Int, emIters: Int): DataFrame = {
    val chars = alphabet(wf)
    val seed0 = seedCounts(wf, seedMaxLen).localCheckpoint(true)
    // seed selection: top-seedSize substrings by mass, plus the
    // alphabet (carrying their true seed counts)
    val top = seed0.orderBy(col("cnt").desc, col("token").asc)
      .limit(seedSize)
    var vocab = withCosts(
        top.unionByName(seed0.join(chars, Seq("token"), "left_semi"))
          .distinct())
      .localCheckpoint(true)
    for (_ <- 1 to emIters) {
      val usage = segmented(wf, vocab)
        .select(col("freq"), explode(col("segs")).as("token"))
        .groupBy(col("token")).agg(sum(col("freq")).as("cnt"))
        .localCheckpoint(true)
      // coverage floor: alphabet chars with zero Viterbi usage re-enter
      // at count 1 (they must stay segmentable-to)
      val floorChars = chars.join(usage, Seq("token"), "left_anti")
        .withColumn("cnt", lit(1L))
      vocab = withCosts(usage.unionByName(floorChars))
        .localCheckpoint(true)
    }
    // prune: keep the vocabSize highest-mass tokens plus the alphabet,
    // then recompute costs over the kept mass
    val kept = vocab.orderBy(col("cnt").desc, col("token").asc)
      .limit(vocabSize).select("token", "cnt")
      .unionByName(vocab.join(chars, Seq("token"), "left_semi")
        .select("token", "cnt"))
      .distinct()
    withCosts(kept)
  }

  /** Driver mirror of [[trainDistributed]] over the collected
    * (word, freq) table — bit-identical by construction, pinned by the
    * UnigramSpec law:
    *   - substrings/lengths count CODE POINTS (Spark's substr/length
    *     semantics on UTF8String);
    *   - (cnt DESC, token ASC) orders tokens by UTF8 binary comparison
    *     (Spark's string ordering = UTF-8 byte order — String.compareTo
    *     would diverge on supplementary-plane characters);
    *   - ln goes through the CATALYST Log expression's own eval (the
    *     engine's exact libm entry point), the surrounding
    *     -1e6·ln(x)+0.5 floor chain is plain IEEE double arithmetic in
    *     the same association order as [[withCosts]];
    *   - Viterbi segmentation calls the SAME [[graft.plans.UnigramSegment]]
    *     kernel instance the distributed plan embeds;
    *   - exact-integer counts everywhere, so accumulation order is
    *     immaterial.
    */
  private[operators] def trainLocal(spark: org.apache.spark.sql.SparkSession,
      words: Array[(String, Long)], vocabSize: Int, seedMaxLen: Int,
      seedSize: Int, emIters: Int): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    import scala.jdk.CollectionConverters._
    val tokOrd = new Ordering[String] {
      def compare(a: String, b: String): Int =
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    }
    // (cnt DESC, token ASC-in-UTF8) — the seed/prune selection order
    val selOrd = Ordering.by[(String, Long), Long](_._2).reverse
      .orElseBy(_._1)(tokOrd)
    val lnExpr: Double => Double = x =>
      org.apache.spark.sql.catalyst.expressions.Log(
        org.apache.spark.sql.catalyst.expressions.Literal(x))
        .eval(null).asInstanceOf[Double]
    def withCostsLocal(m: java.util.HashMap[String, java.lang.Long])
        : Array[(String, Long, Long)] = {
      var tot = 0L
      m.values.asScala.foreach(v => tot += v.longValue)
      m.entrySet.asScala.map { e =>
        val c = e.getValue.longValue
        val cost = math.floor(
          -1e6 * lnExpr(c.toDouble / tot.toDouble) + 0.5).toLong
        (e.getKey, c, cost)
      }.toArray
    }
    def cps(w: String): Array[String] = {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    val alpha = new java.util.HashSet[String]()
    val seed = new java.util.HashMap[String, java.lang.Long]()
    for ((w, f) <- words) {
      val c = cps(w)
      var i = 0
      while (i < c.length) { alpha.add(c(i)); i += 1 }
      var l = 1
      while (l <= math.min(seedMaxLen, c.length)) {
        var s0 = 0
        while (s0 + l <= c.length) {
          seed.merge(c.slice(s0, s0 + l).mkString,
            java.lang.Long.valueOf(f), (a, b) => a + b)
          s0 += 1
        }
        l += 1
      }
    }
    // seed selection: top-seedSize by (cnt DESC, token ASC) plus the
    // alphabet at its true seed counts
    val bySel = seed.entrySet.asScala
      .map(e => (e.getKey, e.getValue.longValue)).toArray.sorted(selOrd)
    val vocab0 = new java.util.HashMap[String, java.lang.Long]()
    bySel.take(seedSize).foreach { case (t, c) => vocab0.put(t, c) }
    alpha.asScala.foreach(ch => vocab0.put(ch, seed.get(ch)))
    var vocab = withCostsLocal(vocab0)
    for (_ <- 1 to emIters) {
      val kern = graft.plans.UnigramSegment(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create("", org.apache.spark.sql.types.StringType),
        vocab.map(_._1).toSeq, vocab.map(_._3).toSeq)
      val usage = new java.util.HashMap[String, java.lang.Long]()
      for ((w, f) <- words) {
        val segs = kern.segment(UTF8String.fromString(w))
        if (segs != null) {
          var i = 0
          while (i < segs.numElements) {
            usage.merge(segs.getUTF8String(i).toString,
              java.lang.Long.valueOf(f), (a, b) => a + b)
            i += 1
          }
        }
      }
      // coverage floor: unused alphabet chars re-enter at count 1
      alpha.asScala.foreach(ch => usage.putIfAbsent(ch, 1L))
      vocab = withCostsLocal(usage)
    }
    // prune: top-vocabSize by mass plus the alphabet, costs over the
    // kept mass
    val keptSel = vocab.map(t => (t._1, t._2)).sorted(selOrd)
    val kept = new java.util.HashMap[String, java.lang.Long]()
    keptSel.take(vocabSize).foreach { case (t, c) => kept.put(t, c) }
    vocab.foreach { case (t, c, _) =>
      if (alpha.contains(t)) kept.put(t, c)
    }
    val rows = withCostsLocal(kept).map { case (t, c, k) =>
      org.apache.spark.sql.Row(t, c, k): org.apache.spark.sql.Row
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("cost",
          org.apache.spark.sql.types.LongType, nullable = true))))
  }

  /** Tokenizer fertility per group under a trained vocab — the
    * side-by-side row for [[Bpe.fertility]] (same output shape:
    * n_words, n_chars, token total), the comparison a pipeline runs
    * before choosing the tokenizer family. Vocab collects once
    * (vocab-bounded); the corpus streams through one explode + one
    * broadcast word-join + one aggregation.
    */
  def fertility(docs: DataFrame, vocab: DataFrame, groupCol: Column,
                keyName: String = "lang",
                scriptAware: Boolean = false): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"), scriptAware)
    // ONE tokenize pass (guide §2.3/§2.4): the corpus folds to
    // (group, word, n_occ) — |groups × distinct words| bounded — and
    // that checkpointed table feeds BOTH the distinct-word Viterbi side
    // and the final n_occ-weighted fold. The previous shape tokenized
    // the corpus twice (once for the distinct-word set, once for the
    // per-occurrence join) and ran a distinct over the raw occurrence
    // stream; the sums are the same exact integers, weighted by n_occ
    // instead of counted once per occurrence (coalesce keeps n_words'
    // non-null type identical to the count(*) it replaces).
    val wcl = docs.select(groupCol.as(keyName), explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(keyName), col("word"))
      .agg(count(lit(1)).as("n_occ"))
      .localCheckpoint(true)
    val nsub = segmented(
        wcl.select(col("word")).distinct().withColumn("freq", lit(1L)),
        vocab)
      .select(col("word"), size(col("segs")).as("n_sub"))
    wcl.join(broadcast(nsub), Seq("word"), "left")
      .groupBy(col(keyName))
      .agg(coalesce(sum(col("n_occ")), lit(0L)).as("n_words"),
        sum(col("n_occ") * length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_occ") *
          coalesce(col("n_sub").cast("long"), length(col("word"))))
          .as("n_unigram_tokens"))
  }
}
