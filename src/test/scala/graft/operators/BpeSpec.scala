package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("trainMerges: textbook corpus learns the expected first merges") {
    // "low" x3, "lower" x2: pairs (l,o)=5, (o,w)=5, (w,e)=2, (e,r)=2.
    // iter1 tie (l,o) vs (o,w) -> lexicographic: (l,o). iter2: (lo,w)=5.
    val d = docs("low low low lower lower")
    val (merges, seg) = Bpe.trainMerges(d, iters = 3)
    val m = merges.orderBy("iter")
      .as[(Int, String, String, String, Long)].collect()
    assert(m(0) == ((1, "l", "o", "lo", 5L)))
    assert(m(1) == ((2, "lo", "w", "low", 5L)))
    // iter3: remaining pairs in "lower" only: (low,e)=2, (e,r)=2 ->
    // lexicographic picks (e,r)
    assert(m(2) == ((3, "e", "r", "er", 2L)))
    val s = seg.orderBy("word")
      .select(col("word"), col("syms")).as[(String, Seq[String])].collect()
    assert(s.toSeq == Seq(
      ("low", Seq("low")), ("lower", Seq("low", "er"))))
  }

  test("greedy left-to-right rewrite is non-overlapping: aaa -> (aa)(a)") {
    val d = docs("aaa aaa")
    val (merges, seg) = Bpe.trainMerges(d, iters = 1)
    // overlap-inclusive counting: "aaa" has TWO (a,a) positions, x2 docs
    val m = merges.as[(Int, String, String, String, Long)].head()
    assert(m == ((1, "a", "a", "aa", 4L)))
    val s = seg.select(col("syms")).as[Seq[String]].head()
    assert(s == Seq("aa", "a"))
  }

  test("back-to-back pair occurrences all merge in one pass: abab -> " +
    "(ab)(ab) — the case a delimited-string replace() would miss") {
    val d = docs("abab abab")
    val (merges, seg) = Bpe.trainMerges(d, iters = 1)
    val m = merges.as[(Int, String, String, String, Long)].head()
    assert(m == ((1, "a", "b", "ab", 4L)))
    val s = seg.select(col("syms")).as[Seq[String]].head()
    assert(s == Seq("ab", "ab"))
  }

  test("early exhaustion: single-char vocab stops with fewer merges") {
    val d = docs("a b a b")
    val (merges, seg) = Bpe.trainMerges(d, iters = 5)
    assert(merges.count() == 0)
    assert(seg.select(size(col("syms"))).as[Int].collect().forall(_ == 1))
  }

  test("encode: in-vocab words count learned symbols, OOV counts chars") {
    val train = docs("low low low lower lower")
    val (_, seg) = Bpe.trainMerges(train, iters = 3)
    // doc 0: low (1 sym) + lower (2 syms: low|er); doc 1 has OOV
    // "west" -> 4 chars
    val enc = Bpe.encode(docs("low lower", "low west"), seg)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect()
    assert(enc(0) == ((0L, 2L, 3L)))
    assert(enc(1) == ((1L, 2L, 5L)))
  }

  test("applyMerges replays training: on the training corpus it equals " +
    "the learned segmentation; OOV words segment by the same merges") {
    val train = docs("low low low lower lower")
    val (mergeDf, seg) = Bpe.trainMerges(train, iters = 3)
    val merges = mergeDf.orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val replayed = Bpe.applyMerges(train, merges)
      .orderBy("word").as[(String, Seq[String])].collect().toSeq
    val trained = seg.orderBy("word")
      .select(col("word"), col("syms"))
      .as[(String, Seq[String])].collect().toSeq
    assert(replayed == trained)
    // OOV "lowest": merges (l,o), (lo,w), (e,r) apply in order
    val oov = Bpe.applyMerges(docs("lowest"), merges)
      .select(col("syms")).as[Seq[String]].head()
    assert(oov == Seq("low", "e", "s", "t"))
  }

  test("merge loop never touches the corpus: wordFreq is the only " +
    "corpus-scale aggregation (vocab bounded by distinct words)") {
    val d = docs("x y x y z zz")
    val vocab = Bpe.wordFreq(d)
    assert(vocab.count() == 4)
    assert(vocab.filter(col("word") === "x")
      .select(col("freq")).as[Long].head() == 2L)
  }

  test("fertility: per-group sums equal the per-doc encode sums, and " +
    "OOV groups fall back to character counts") {
    val d = Seq((0L, "low low lower", "en"), (1L, "lower low", "en"),
        (2L, "zz q", "zh"))
      .toDF("doc_id", "text", "lang")
    val (_, seg) = Bpe.trainMerges(d.filter(col("lang") === "en"),
      iters = 2)
    val f = Bpe.fertility(d, seg, col("lang")).orderBy("lang")
      .as[(String, Long, Long, Long)].collect().toSeq
    // en: merges (l,o)+(lo,w) -> low=1 sym, lower=3 syms
    //     5 words, 11+8=19 chars, 1+1+3 + 3+1 = 9 tokens
    // zh: both words OOV -> char fallback, 2 words, 3 chars, 3 tokens
    assert(f == Seq(("en", 5L, 19L, 9L), ("zh", 2L, 3L, 3L)))
    val enc = Bpe.encode(d, seg)
      .agg(sum(col("n_words")), sum(col("n_bpe_tokens")))
      .as[(Long, Long)].head()
    assert(enc == ((7L, 12L)))
  }

  test("fold law: MergeListFold == the HOF mergeFold, merge by merge " +
      "and as one replay — incl. overlap runs, a==b, and 0/1-symbol " +
      "words") {
    // words chosen to exercise: overlapping candidate runs (aaa, aaaa:
    // greedy left-to-right, non-overlapping), the merged symbol NOT
    // re-consumed as a left half, multi-merge interaction (ab then
    // ab+c), empty and single-char words, and symbols absent entirely
    val words = Seq("", "a", "aa", "aaa", "aaaa", "abab", "abc", "abcabc",
      "cabcab", "bca", "xyz", "banana")
    val merges = Seq(("a", "a"), ("a", "b"), ("ab", "c"), ("b", "a"))
    val base = words.toDF("word")
      .select(col("word"), split(col("word"), "").as("syms"))

    // merge-by-merge: each single-merge MergeListFold equals the HOF fold
    var hof = base
    var fast = base
    for ((a, b) <- merges) {
      hof = hof.select(col("word"),
        Bpe.mergeFold(col("syms"), a, b).as("syms"))
      fast = fast.select(col("word"),
        graft.plans.MergeListFold(col("syms"), Seq((a, b))).as("syms"))
      val l = hof.orderBy("word").as[(String, Seq[String])].collect()
      val r = fast.orderBy("word").as[(String, Seq[String])].collect()
      assert(l.toSeq == r.toSeq, s"divergence after merge ($a,$b)")
    }
    // one-shot replay of the whole list equals the iterated fold
    val oneShot = base.select(col("word"),
        graft.plans.MergeListFold(col("syms"), merges).as("syms"))
      .orderBy("word").as[(String, Seq[String])].collect()
    assert(oneShot.toSeq ==
      hof.orderBy("word").as[(String, Seq[String])].collect().toSeq)
  }

  test("trainMergesLocal == trainMergesDistributed bit-for-bit (the " +
       "r15 regime-switch law): merge table AND segmentation across " +
       "ascii, tie-heavy, supplementary-plane and exhausting corpora") {
    val corpora = Seq(
      Seq("low low low low low", "lower lower newest newest",
        "newest newest newest newest widest widest widest"),
      // tie-heavy: every pair count collides, the (cnt DESC, a ASC,
      // b ASC) UTF-8 order does all the work
      Seq("aa ab ba bb", "ab ba aa bb", "bb aa ab ba"),
      // supplementary-plane emoji (U+1F600, 4-byte UTF-8) next to
      // U+FF71 (3-byte): UTF-16 code-unit order and UTF-8 byte order
      // DISAGREE on this pair, so a String-order tie-break diverges
      Seq("ｱ😀 😀ｱ ｱ😀 😀ｱ", "ｱｱ 😀😀 ｱｱ 😀😀"),
      // exhausts before iters: everything collapses to one symbol
      Seq("ab ab ab"))
    for ((texts, ci) <- corpora.zipWithIndex; iters <- Seq(1, 3, 10)) {
      val d = texts.zipWithIndex
        .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
      val base = Bpe.wordFreq(d)
        .select(col("word"), col("freq"),
          split(col("word"), "").as("syms"))
        .localCheckpoint(true)
      val (mD, sD) = Bpe.trainMergesDistributed(spark, base, iters)
      val (mL, sL) = Bpe.trainMergesLocal(spark, MergeLoop.collect(base, "law").get,
        base.schema, iters)
      assert(mL.schema == mD.schema && sL.schema == sD.schema,
        s"schema drift corpus=$ci")
      assert(mL.orderBy("iter").collect().toSeq ==
        mD.orderBy("iter").collect().toSeq, s"merges corpus=$ci i=$iters")
      assert(sL.orderBy("word").collect().toSeq ==
        sD.orderBy("word").collect().toSeq, s"seg corpus=$ci i=$iters")
    }
  }
}
