package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.StableHash

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: k-grams, short text -> empty (not bogus descending seq)") {
    val df = Seq("a b c d", "a b", "").toDF("text")
      .select(TextAnalysis.shingles(col("text"), 3).as("sh"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq.empty)
  }

  test("luhnValid: the published card test vectors and the length gate") {
    val cases = Seq(
      ("4111111111111111", true),   // the canonical Visa test PAN
      ("4111111111111112", false),  // one digit off
      ("5500005555555559", true),   // Mastercard test PAN
      ("378282246310005", true),    // 15-digit Amex test PAN
      ("79927398713", false),       // Luhn-valid but only 11 digits
      ("00000000000000000000", false), // 20 digits: past the PAN envelope
      ("1234567890123", false),
      ("", false))
    val out = cases.map(_._1).toDF("d")
      .select(col("d"), TextAnalysis.luhnValid(col("d")).as("v"))
      .as[(String, Boolean)].collect().toMap
    cases.foreach { case (d, want) =>
      assert(out(d) === want, s"luhnValid('$d')")
    }
  }

  test("luhnRedact masks only VALID card-shaped runs; invalid runs, " +
       "short digit runs, and surrounding text survive") {
    val text = "pay 4111111111111111 not 4111111111111112 ref 1234 " +
      "amex 378282246310005 end"
    val out = Seq(text).toDF("text")
      .select(TextAnalysis.luhnRedact(col("text")).as("r"))
      .as[String].head()
    assert(out === "pay <CARD> not 4111111111111112 ref 1234 " +
      "amex <CARD> end")
  }

  test("luhnRedact digit-boundary: a 20+-digit run with a Luhn-valid " +
       "19-digit PREFIX is never partially masked (maximal-run " +
       "extraction, the false-positive class the validator exists for)") {
    // "4111111111111111110" is Luhn-valid (19 digits); the 20-digit
    // run embedding it must survive untouched
    val text = "order 41111111111111111105 ok 4111111111111111110 end"
    val out = Seq(text).toDF("text")
      .select(TextAnalysis.luhnRedact(col("text")).as("r"))
      .as[String].head()
    assert(out === "order 41111111111111111105 ok <CARD> end")
  }

  test("stableHash60 matches the cross-engine definition") {
    // md5('hello') = 5d41402abc4b2a76... -> 0x5d41402abc4b2a7 = 419982666956583591
    val h = Seq("hello").toDF("s")
      .select(StableHash.stableHash60(col("s"))).as[Long].head()
    assert(h == 419982666956583591L)
  }

  test("bpe-ish token count: letters, digits, symbols") {
    val n = Seq("ab 12 c!").toDF("text")
      .select(TextAnalysis.bpeishTokenCount(col("text"))).as[Int].head()
    assert(n == 4) // "ab", "12", "c", "!"
  }

  test("langid scores: english stopwords win on english-ish text") {
    val scores = TextAnalysis.langScores(col("text"))
    val row = Seq("the cat of the house and a dog").toDF("text")
      .select(scores.map { case (l, c) => c.as(l) }: _*).head()
    val en = row.getDouble(0)
    assert(en > row.getDouble(1) && en > row.getDouble(2) && en > row.getDouble(3))
  }

  test("quality features: ratios bounded, counts exact") {
    val feats = TextAnalysis.qualityFeatures(col("text"))
    val row = Seq("a a b c").toDF("text")
      .select(feats.map { case (n, c) => c.as(n) }: _*).head()
    assert(row.getAs[Long]("n_tokens") == 4)
    assert(row.getAs[Long]("n_distinct") == 3)
    assert(row.getAs[Double]("type_token_ratio") == 0.75)
    assert(row.getAs[Double]("avg_token_len") == 1.0)
  }

  test("fingerprint: equal shingle sets -> equal fingerprints") {
    val fps = TextAnalysis.fingerprintColumns(col("text"))
    val out = Seq("x y z x y z", "x y z x y z", "q r s t u v")
      .toDF("text").select(fps.map { case (n, c) => c.as(n) }: _*).collect()
    assert(out(0) == out(1))
    assert(out(0) != out(2))
  }

  test("repetition features: duplicate n-gram fractions, short-doc guard") {
    val docs = Seq(
      (1L, "a b a b a b"),   // bigrams: 5 total, 2 distinct
      (2L, "x y z"),         // no repetition
      (3L, "w")              // shorter than any k -> all zeros
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFeatures(docs)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n2") == 5 && out(0).getAs[Long]("d2") == 2)
    assert(out(0).getAs[Double]("dup2") == 0.6)
    assert(out(1).getAs[Double]("dup2") == 0.0 &&
           out(1).getAs[Double]("dup3") == 0.0)
    assert(out(2).getAs[Long]("n2") == 0 &&
           out(2).getAs[Double]("dup2") == 0.0)
  }

  test("contamination: finds the planted overlap, ignores disjoint docs") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "completely unrelated text with different words entirely")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "quick brown fox jumps over the lazy")).toDF("doc_id", "text")
    val out = Dedup.contamination(corpus, eval, minShared = 2)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("doc_id") == 100L &&
           r.getAs[Long]("eval_id") == 1L)
    // eval doc has 5 3-gram shingles, all contained in corpus doc 100
    assert(r.getAs[Long]("n_shared") == 5)
    assert(r.getAs[Double]("frac_eval") == 1.0)
  }

  test("bigram coverage: common bigrams counted per occurrence") {
    // "a b" occurs in all 3 docs (corpus count 3 >= minCount 3);
    // every other bigram is unique
    val docs = Seq(
      (1L, "a b c"),      // bigrams: "a b"(common), "b c"
      (2L, "x a b"),      // "x a", "a b"(common)
      (3L, "a b")         // "a b"(common)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramCoverage(docs, minCount = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out(0) == ((1L, 2L, 1L, 0.5)))
    assert(out(1) == ((2L, 2L, 1L, 0.5)))
    assert(out(2) == ((3L, 1L, 1L, 1.0)))
  }

  test("winnow: fingerprints are window minima, deduped, and the " +
       "shared-substring guarantee holds") {
    import graft.plans.RollingShingleHashes
    val k = 16; val w = 8
    val shared = "the quick brown fox jumps over the lazy dog"  // 43 chars
    val docs = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"completely different start $shared other ending"),
      (3L, "no overlap with anything else at all here truly")
    ).toDF("doc_id", "text")
    val out = docs
      .select(col("doc_id"), RollingShingleHashes(col("text"), k).as("sh"))
      .localCheckpoint(true)
      .select(col("doc_id"), col("sh"),
        TextAnalysis.winnow(col("sh"), w).as("fps"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Long](1).toSet, r.getSeq[Long](2).toList))
      .toMap
    out.foreach { case (_, (hashes, fps)) =>
      assert(fps.distinct == fps, "fingerprints must be deduplicated")
      assert(fps.toSet.subsetOf(hashes), "every fp is some window's min")
    }
    // guarantee: a common substring of length >= w + k - 1 (= 23 here;
    // `shared` is 43 chars) forces at least one common fingerprint
    val f1 = out(1L)._2.toSet; val f2 = out(2L)._2.toSet
    assert((f1 & f2).nonEmpty, "shared substring must share a fingerprint")
    assert((f1 & out(3L)._2.toSet).isEmpty,
      "disjoint docs should share nothing")
  }

  test("bm25: matches the formula computed by hand on a tiny corpus") {
    // corpus: 3 docs, terms (a, b); doc 3 matches nothing -> absent
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "d e f"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, Seq("a", "b"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val n = 3.0; val avgdl = 8.0 / 3.0
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def w(tf: Double, dl: Double) =
      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
    val exp1 = idf(1.0) * w(2.0, 3.0) + idf(2.0) * w(1.0, 3.0)
    val exp2 = idf(2.0) * w(1.0, 2.0)
    assert(out.length == 2)
    assert(out(0)._1 == 1L && out(0)._2 == 2)
    assert(out(1)._1 == 2L && out(1)._2 == 1)
    assert(math.abs(out(0)._3 - exp1) < 1e-12, s"${out(0)._3} vs $exp1")
    assert(math.abs(out(1)._3 - exp2) < 1e-12, s"${out(1)._3} vs $exp2")
  }

  test("cdcChunks: chunks reassemble to the original text, in order") {
    val docs = graft.engine.Readers.table(spark, sf(), "documents")
      .limit(20).select(col("doc_id"), col("text"))
    val texts = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = TextAnalysis.cdcChunks(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // chunk order within a doc isn't carried by the exploded rows, but
    // reassembly only needs: concat of chunks (in original substring
    // order) == text. Chunks ARE substrings cut left-to-right, so
    // sorting by position-of-occurrence reconstructs — verify by length
    // conservation plus every chunk being a substring.
    for ((id, t) <- texts) {
      val cs = chunks.filter(_._1 == id).map(_._2)
      assert(cs.map(_.length).sum == t.length, s"doc $id length")
      assert(cs.forall(t.contains), s"doc $id substring")
      assert(cs.nonEmpty, s"doc $id empty")
    }
  }

  test("cdcChunks: a shared block at different offsets yields common " +
       "chunks (offset-invariance, the CDC property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def word() = ("" /: (1 to 4))((a, _) => a + ('a' + rnd.nextInt(26)).toChar)
    val block = Seq.fill(120)(word()).mkString(" ")     // ~600 chars
    val pre1 = Seq.fill(7)(word()).mkString(" ")
    val pre2 = Seq.fill(31)(word()).mkString(" ")       // different offset
    val d = Seq((1L, s"$pre1 $block"), (2L, s"$pre2 $block"))
      .toDF("doc_id", "text")
    val byDoc = TextAnalysis.cdcChunks(d).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    val common = byDoc(1L) intersect byDoc(2L)
    // interior chunks of the shared block re-align after the first
    // content-defined boundary inside it
    assert(common.nonEmpty, s"no common chunks: ${byDoc.mapValues(_.size)}")
  }

  test("stripBoilerplate: an injected shared template is excised from " +
       "every document, unique content survives verbatim") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def words(n: Int) = Seq.fill(n)(
      ("" /: (1 to 4))((a, _) => a + ('a' + rnd.nextInt(26)).toChar))
      .mkString(" ")
    val template = words(150)                      // ~750 chars, shared
    val uniques = (0 until 5).map(_ => words(40))  // per-doc unique tail
    val d = uniques.zipWithIndex.map { case (u, i) =>
      (i.toLong, s"$template $u")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(d, minDocs = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text"))
      .toMap
    for ((u, i) <- uniques.zipWithIndex) {
      val clean = out(i.toLong)
      // the template's interior chunks are gone: the cleaned text is
      // much shorter than the original and keeps the unique tail
      assert(clean.length < template.length / 2, s"doc $i: ${clean.length}")
      assert(clean.contains(u.substring(u.length / 2)), s"doc $i tail")
    }
  }

  test("lmPerplexity: exact micro-nat fold on a tiny corpus; a common " +
    "phrase scores lower cross-entropy than a novel reordering of the " +
    "same tokens") {
    import spark.implicits._
    val docs = (Seq((0L, "a b")) ++
      (1L to 5L).map(i => (i, "the cat sat")) ++
      Seq((6L, "cat the sat"))).toDF("doc_id", "text")
    val out = TextAnalysis.lmPerplexity(docs).orderBy("doc_id")
      .select("doc_id", "n_bigrams", "s_micro", "xent")
      .as[(Long, Long, Long, Double)].collect()
    // doc 0: one bigram (a,b): c_ab=1, c_a=1, c_b=1, T=20
    val p0 = 0.9 * (1.0 / 1.0) + 0.1 * (1.0 / 20.0)
    assert(out(0)._3 == math.floor(1e6 * math.log(p0)).toLong)
    assert(out(0)._2 == 1L)
    // the 5x-seen phrase is far more predictable than its reordering
    // (same unigrams, novel bigrams: c_ab=1 against c_history=6)
    assert(out(1)._4 < out(6)._4)
    // xent is the rounded negative mean of the integer fold
    val x1 = math.floor(
      (-out(1)._3.toDouble / 1e6 / out(1)._2) * 1e6 + 0.5) / 1e6
    assert(out(1)._4 == x1)
  }

  test("knPerplexity: equals an independent hand-count recomputation on " +
       "a planted corpus, and the KN distribution normalizes per history") {
    import spark.implicits._
    val texts = Map(0L -> "a b a c", 1L -> "b a b")
    val docs = texts.toSeq.toDF("doc_id", "text")
    // hand counts: pairs d0 = (a,b)(b,a)(a,c); d1 = (b,a)(a,b)
    val lm = Map(("a", "b") -> 2L, ("b", "a") -> 2L, ("a", "c") -> 1L)
    val caDot = Map("a" -> 3L, "b" -> 2L)   // true history counts
    val n1pA = Map("a" -> 2L, "b" -> 1L)    // distinct right types
    val n1pB = Map("b" -> 1L, "a" -> 1L, "c" -> 1L) // distinct left types
    val nTypes = 3L
    def pKn(a: String, b: String): Double =
      (lm((a, b)) - 0.75) / caDot(a).toDouble +
        0.75 * n1pA(a) / caDot(a).toDouble * (n1pB(b).toDouble / nTypes)
    def sMicro(pairs: Seq[(String, String)]): Long =
      pairs.map { case (a, b) =>
        math.floor(1e6 * math.log(pKn(a, b))).toLong }.sum
    val want = Map(
      0L -> sMicro(Seq(("a", "b"), ("b", "a"), ("a", "c"))),
      1L -> sMicro(Seq(("b", "a"), ("a", "b"))))
    val got = TextAnalysis.knPerplexity(docs)
      .select("doc_id", "s_micro").as[(Long, Long)].collect().toMap
    assert(got === want)
    // the KN property: p(.|a) is a distribution over the OBSERVED vocab
    // (every token appears as a continuation here, so the interpolated
    // mass closes exactly)
    Seq("a", "b").foreach { a =>
      val total = Seq("a", "b", "c")
        .map(b => if (lm.contains((a, b))) pKn(a, b)
                  else 0.75 * n1pA(a) / caDot(a).toDouble *
                    (n1pB(b).toDouble / nTypes))
        .sum
      assert(math.abs(total - 1.0) < 1e-12, s"sum p(.|$a) = $total")
    }
  }

  test("LM sites: the broadcast and the exchange regimes return equal " +
       "rows (gate forced each way)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    val corpora = Seq(
      Seq((1L, "a b c"), (2L, "x a b"), (3L, "a b")).toDF("doc_id", "text"),
      (Seq((0L, "a b")) ++ (1L to 5L).map(i => (i, "the cat sat")) ++
        Seq((6L, "cat the sat"))).toDF("doc_id", "text"),
      Seq((0L, "a b a c"), (1L, "b a b")).toDF("doc_id", "text"),
      spark.read.parquet(sf() + "/documents.parquet"))
    for ((docs, i) <- corpora.zipWithIndex; lm <- Seq(0L, 1L)) {
      assert(rows(TextAnalysis.bigramCoverage(docs, 3L, Long.MaxValue)) ==
        rows(TextAnalysis.bigramCoverage(docs, 3L, lm)), s"coverage $i")
      assert(rows(TextAnalysis.lmPerplexity(docs, false, Long.MaxValue)) ==
        rows(TextAnalysis.lmPerplexity(docs, false, lm)), s"jm $i")
      assert(rows(TextAnalysis.knPerplexity(docs, false, Long.MaxValue)) ==
        rows(TextAnalysis.knPerplexity(docs, false, lm)), s"kn $i")
    }
  }

  test("bm25Diversified: lambda=1 is plain BM25 rank order; the overlap " +
       "penalty breaks a planted near-copy run at rank 2; partition-" +
       "invariant") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val terms = Seq("data", "join", "hash", "scan", "batch")
    val lam1 = TextAnalysis.bm25Diversified(docs, terms, k = 4, pool = 12,
        lamNum = 1, lamDen = 1)
      .orderBy("rnk").select("doc_id").as[Long].collect().toSeq
    val brute = TextAnalysis.bm25(docs, terms)
      .withColumn("rel_micro",
        floor(col("score") * 1e6 + lit(0.5)).cast("long"))
      .orderBy(col("rel_micro").desc, col("doc_id"))
      .limit(4).select("doc_id").as[Long].collect().toSeq
    assert(lam1 === brute, "lambda=1 must be pure relevance order")
    val base = TextAnalysis.bm25Diversified(docs, terms, k = 4, pool = 12)
      .orderBy("rnk").collect().map(_.toSeq).toSeq
    val repart = TextAnalysis.bm25Diversified(docs.repartition(7), terms,
        k = 4, pool = 12)
      .orderBy("rnk").collect().map(_.toSeq).toSeq
    assert(repart === base)
    // planted: three exact copies of a term-stuffed doc + two distinct
    // relevant docs — plain top-3 is the copy run, MMR crosses at rank 2
    val stuffed = "data join hash scan batch data join hash scan batch"
    val planted = Seq(
      (1L, stuffed), (2L, stuffed), (3L, stuffed),
      (4L, "data tables where join keys hash nicely for every scan"),
      (5L, "batch pipelines scan data quickly and join without hash"))
      .toDF("doc_id", "text")
    val plain = TextAnalysis.bm25(planted, terms)
      .withColumn("rel_micro",
        floor(col("score") * 1e6 + lit(0.5)).cast("long"))
      .orderBy(col("rel_micro").desc, col("doc_id"))
      .limit(3).select("doc_id").as[Long].collect().toSeq
    assert(plain === Seq(1L, 2L, 3L), s"planted top-3 should be the run: $plain")
    val mmr = TextAnalysis.bm25Diversified(planted, terms, k = 3, pool = 5)
      .orderBy("rnk").select("doc_id").as[Long].collect().toSeq
    assert(mmr.head === 1L)
    assert(Set(4L, 5L).contains(mmr(1)),
      s"rank 2 should escape the copy run: $mmr")
  }

  test("script-aware tokens == space split on single-spaced ASCII (every " +
       "existing oracle stays byte-identical under the default)") {
    val docs = graft.engine.Readers.table(spark, sf(), "documents")
    val diff = docs.select(
        TextAnalysis.tokens(col("text")).as("a"),
        TextAnalysis.tokens(col("text"), scriptAware = true).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("script-aware tokens: CJK chars are single tokens, latin runs " +
       "stay words, mixed text interleaves correctly") {
    val out = Seq("中文 abc", "中文abc def", "あい", "plain words")
      .toDF("text")
      .select(TextAnalysis.tokens(col("text"), scriptAware = true))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("中", "文", "abc"))
    assert(out(1) == Seq("中", "文", "abc", "def"))
    assert(out(2) == Seq("あ", "い"))
    assert(out(3) == Seq("plain", "words"))
  }

  test("scriptTokenProfile: unsegmented runs are ONE naive token but " +
       "n aware tokens, and the char-signature languages win on them") {
    val docs = Seq(
      (1L, "中文中文中文"),           // 6 han chars, no spaces
      (2L, "あいうえおかきく"),       // 8 kana chars
      (3L, "the cat of the hat"),     // stopword-heavy latin
      (4L, "abc def 中文中文中")      // mixed: 2 words + 5 han
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scriptTokenProfile(docs).orderBy("doc_id")
      .select("n_tokens", "n_space_tokens", "n_han", "n_kana", "lang_pred")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(out(0) == ((6L, 1L, 6L, 0L, "zh")))
    assert(out(1) == ((8L, 1L, 0L, 8L, "ja")))
    assert(out(2) == ((5L, 5L, 0L, 0L, "en")))
    assert(out(3) == ((7L, 3L, 5L, 0L, "zh")))
  }

  test("scriptAware threading is default-off everywhere: BPE / unigram / " +
       "LM-perplexity / quality / entropy give byte-identical results " +
       "with the flag on over the single-spaced ASCII corpus") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    assert(rows(Bpe.wordFreq(docs)) == rows(Bpe.wordFreq(docs,
      scriptAware = true)))
    assert(rows(Unigram.train(docs, vocabSize = 60)) ==
      rows(Unigram.train(docs, vocabSize = 60, scriptAware = true)))
    assert(rows(TextAnalysis.lmPerplexity(docs)) ==
      rows(TextAnalysis.lmPerplexity(docs, scriptAware = true)))
    assert(rows(TextAnalysis.qualityPosting(docs)) ==
      rows(TextAnalysis.qualityPosting(docs, scriptAware = true)))
    assert(rows(TextAnalysis.tokenEntropy(docs)) ==
      rows(TextAnalysis.tokenEntropy(docs, scriptAware = true)))
  }

  test("scriptAware BPE on a mixed-script corpus: an unsegmented CJK run " +
       "contributes per-char words (not one opaque blob-word)") {
    val docs = Seq((1L, "中文中文 data data"), (2L, "中文 data")).toDF("doc_id", "text")
    val naive = Bpe.wordFreq(docs).orderBy("word")
      .as[(String, Long)].collect().toSeq
    val aware = Bpe.wordFreq(docs, scriptAware = true).orderBy("word")
      .as[(String, Long)].collect().toSeq
    // naive: the whole run is one "word"
    assert(naive.contains(("中文中文", 1L)))
    // aware: each char is a word with its true frequency
    assert(aware == Seq(("data", 3L), ("中", 3L), ("文", 3L)))
  }

  test("syntheticMixedDocs is deterministic and class-shaped: cls-1 docs " +
       "have no spaces, cls-2 docs carry both scripts") {
    val d1 = TextAnalysis.syntheticMixedDocs(spark, sf())
    val d2 = TextAnalysis.syntheticMixedDocs(spark, sf())
    assert(d1.orderBy("doc_id").collect().toSeq ==
      d2.orderBy("doc_id").collect().toSeq)
    val prof = TextAnalysis.scriptTokenProfile(d1)
    // unsegmented class: exactly one naive token, nc = 6 + id % 9 aware
    val bad1 = prof.filter(col("doc_id") % 3 === 1 &&
      (col("n_space_tokens") =!= 1 ||
       col("n_tokens") =!= lit(6) + col("doc_id") % 9)).count()
    assert(bad1 == 0L)
    // mixed class: latin words AND cjk chars both present
    val bad2 = prof.filter(col("doc_id") % 3 === 2 &&
      (col("n_han") + col("n_kana") === 0 ||
       col("n_tokens") === col("n_han") + col("n_kana"))).count()
    assert(bad2 == 0L)
  }

  test("cmsWordCounts: one-sided error (est >= freq everywhere), exact " +
       "at width 1 (every word collides into the total), and exact " +
       "estimates for words with a private bucket") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c"), (2L, "a c d"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.cmsWordCounts(docs, depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out.keySet == Set("a", "b", "c", "d"))
    assert(out("a")._1 == 4L && out("b")._1 == 2L &&
      out("c")._1 == 2L && out("d")._1 == 1L)
    // the CM law: never underestimates
    assert(out.values.forall { case (freq, est) => est >= freq })
    // width 1: all words share the single bucket per row -> est = N
    val w1 = TextAnalysis.cmsWordCounts(docs, depth = 2, width = 1)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(w1.values.forall(_ == 9L))
    // with 4 words in 64 buckets x 4 rows, collisions are overwhelmingly
    // unlikely to hit the SAME word in all rows: estimates exact here
    assert(out.values.forall { case (freq, est) => est == freq })
  }

  test("LZ match coverage: hash-chain kernel equals the brute-force " +
       "rule (incl. overlap runs, surrogate pairs, empties)") {
    import org.apache.spark.unsafe.types.UTF8String
    // the exact published rule, quadratic reference implementation:
    // longest L in [minLen, cap] with an equal codepoint window
    // starting at any i < p (overlap allowed)
    def brute(s: String, minLen: Int = 4, maxLen: Int = 32): Long = {
      val cps = s.codePoints().toArray
      val n = cps.length
      var p = 0
      var total = 0L
      while (p < n) {
        var best = 0
        val cap = math.min(maxLen, n - p)
        for (i <- 0 until p) {
          var l = 0
          while (l < cap && cps(i + l) == cps(p + l)) l += 1
          if (l > best) best = l
        }
        if (best >= minLen) { total += best; p += best } else p += 1
      }
      total
    }
    val texts = Seq(
      "", "abc", "abcd", "abcd abcd", "abcd abcd abcd",
      "no repetition in this line at all",
      "aaaaaaaaaaaaaaaa",                        // self-overlap run
      "xyzw" * 20,                               // periodic
      "subscribe now! subscribe now! click here! click here! end",
      "wé世😀" * 6 + "tail",  // non-ASCII + astral
      "ab" * 3,                                  // period-2 run, len 6
      "the cat the dog the cat the dog")
    for (t <- texts) {
      val got = graft.plans.LzMatchedChars.matched(
        UTF8String.fromString(t), 4, 32)
      assert(got == brute(t), s"kernel=$got brute=${brute(t)} on '$t'")
    }
    // and with a different (minLen, maxLen) pair
    for (t <- texts) {
      val got = graft.plans.LzMatchedChars.matched(
        UTF8String.fromString(t), 2, 5)
      assert(got == brute(t, 2, 5), s"(2,5) mismatch on '$t'")
    }
  }

  test("compression ratio: duplicated-paragraph boilerplate scores " +
       "far more compressible than unique prose (the filter law)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique words only never repeating anything else today", "en"),
      (2L, ("copy paste boilerplate block " * 8) + "end", "en"),
      (3L, "short", "en")).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.compressionRatio(docs)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r(2L) > 700000L, s"boilerplate ratio ${r(2L)} not high")
    assert(r(1L) < r(2L) / 2, s"prose ${r(1L)} vs boilerplate ${r(2L)}")
    // ratio in [0, 1e6) always
    assert(r.values.forall(v => v >= 0L && v < 1000000L))
    // the per-language gate keeps the LEAST compressible fraction
    val kept = TextAnalysis.compressionFilter(docs, num = 2, den = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L), kept)
  }
}
