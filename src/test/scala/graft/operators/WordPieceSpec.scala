package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Laws for the WordPiece trainer (likelihood merges) and the greedy
  * longest-match-first encoder.
  */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("trainMerges: the likelihood objective picks a rarer pair of " +
       "rare units over a more frequent pair of common units (where " +
       "BPE picks the frequent pair)") {
    // "xy" x4 amid lots of solo x/y: cnt(x,y)=4, cnt(x)=14, cnt(y)=14
    //   -> score ~ ln(4/196)  = ln 0.0204
    // "qz" x3 and nothing else uses q/z: cnt(q,z)=3, cnt(q)=3, cnt(z)=3
    //   -> score ~ ln(3/9)    = ln 0.3333 (wins)
    val d = docs(
      ("xy " * 4) + ("x " * 10) + ("y " * 10) + ("qz " * 3))
    val (wpMerges, _) = WordPiece.trainMerges(d, iters = 1)
    val wp = wpMerges.select("left", "right", "cnt", "cnt_l", "cnt_r")
      .as[(String, String, Long, Long, Long)].head()
    assert(wp == (("q", "z", 3L, 3L, 3L)))
    val (bpeMerges, _) = Bpe.trainMerges(d, iters = 1)
    val bp = bpeMerges.select("left", "right").as[(String, String)].head()
    assert(bp == (("x", "y")), "fixture must make the objectives disagree")
  }

  test("trainMerges: unit counts include single-symbol words (merge " +
       "outputs keep their denominator mass)") {
    // after iter1 merges (a,b): "ab" words are ONE symbol; iter2's
    // denominator for ab must still count them
    val d = docs("ab ab ab c abc")
    val (merges, _) = WordPiece.trainMerges(d, iters = 2)
    val m = merges.orderBy("iter")
      .select("iter", "left", "right", "cnt", "cnt_l", "cnt_r")
      .as[(Int, String, String, Long, Long, Long)].collect()
    // iter1: pairs (a,b)=4 [3x"ab" + 1 in "abc"], (b,c)=1;
    // units a=4, b=4, c=2; score(a,b)=ln(4/16), score(b,c)=ln(1/8) ->
    // (a,b) wins
    assert(m(0) == ((1, "a", "b", 4L, 4L, 4L)))
    // iter2: only pair left is (ab, c) in "abc"; cnt_l counts ALL ab
    // occurrences incl. the three single-symbol "ab" words = 4
    assert(m(1) == ((2, "ab", "c", 1L, 4L, 2L)))
  }

  test("WordPieceSegment: the BERT textbook case and the " +
       "no-backtracking law") {
    val words = Seq("unaffable", "abc", "", "axc").toDF("word")
    val vocab = Seq("un", "##aff", "##able", "ab", "a", "##bc",
      "b", "##b", "##c")
    val seg = words.select(col("word"),
        graft.plans.WordPieceSegment(col("word"), vocab).as("p"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[String](1)).map(_.toList)).toMap
    assert(seg("unaffable") == Some(List("un", "##aff", "##able")))
    // greedy takes "ab" then dead-ends ("##c" IS present -> "ab","##c");
    // craft the real no-backtrack case with axc: "a" matches, then
    // "##x" absent -> whole-word UNK even though nothing else helps
    assert(seg("abc") == Some(List("ab", "##c")))
    assert(seg("axc") == None)
    assert(seg("") == Some(Nil))
  }

  test("WordPieceSegment: longest-match-first can dead-end where a " +
       "shorter first piece would segment (published rule, pinned)") {
    val words = Seq("abc").toDF("word")
    // greedy: "ab" then needs "##c" (absent) -> UNK; "a" + "##bc"
    // would have worked — WordPiece does NOT backtrack
    val vocab = Seq("ab", "a", "##bc")
    val seg = words.select(
        graft.plans.WordPieceSegment(col("word"), vocab).as("p"))
      .collect().head
    assert(seg.isNullAt(0))
  }

  test("encode: OOV-alphabet words count as one [UNK] token; " +
       "in-alphabet words segment") {
    val train = docs("hello hello world")
    val (_, seg) = WordPiece.trainMerges(train, iters = 4)
    // 'Q' never occurs in training: whole word -> [UNK] (1 token);
    // "low" is in-alphabet (l,o,w all appear) -> char pieces
    val enc = WordPiece.encode(docs("hello Quark low"), seg)
      .select("n_words", "n_wp_tokens", "n_unk")
      .as[(Long, Long, Long)].head()
    assert(enc._1 == 3L)
    assert(enc._3 == 1L, "Quark must be [UNK]")
    // hello fully merged after 4 iters (<=5 pieces), low = l+##o+##w
    assert(enc._2 >= 1L + 1L + 3L && enc._2 <= 5L + 1L + 3L)
  }

  test("pieceVocab: first symbols bare, continuations ##-prefixed, " +
       "alphabet covered in both forms") {
    val d = docs("low low lower")
    val (_, seg) = WordPiece.trainMerges(d, iters = 2)
    val pieces = WordPiece.pieceVocab(seg)
      .as[String].collect().toSet
    // alphabet coverage both ways
    for (c <- "lower".distinct.map(_.toString))
      assert(pieces.contains(c) && pieces.contains("##" + c),
        s"missing alphabet form for $c in $pieces")
    // no bare continuation leak: every piece is either ##x or a
    // word-initial piece
    assert(pieces.forall(p => !p.startsWith("##") || p.length > 2))
  }

  test("the literal piece '##' is a word-initial piece, not a " +
       "continuation marker (markdown-heavy corpora train it)") {
    import org.apache.spark.sql.functions._
    val words = Seq("##", "##x").toDF("word")
    val seg = words.select(col("word"),
        graft.plans.WordPieceSegment(col("word"),
          Seq("##", "##x")).as("p"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[String](1)).map(_.toList)).toMap
    // "##" segments as itself (initial); "##x" greedy-matches the
    // longer initial piece... "##x" raw is the continuation form of
    // "x", so as an INITIAL match only "##" applies, then the walk
    // needs continuation "##x"... which IS in vocab as ##-prefixed raw
    // "x": "##" + ##x -> ["##", "##x"]
    assert(seg("##") == Some(List("##")))
    assert(seg("##x") == Some(List("##", "##x")))
  }

  test("trainMergesLocal == trainMergesDistributed bit-for-bit (the " +
       "r15 regime-switch law): merge table AND segmentation across " +
       "ascii, score-tie, supplementary-plane and exhausting corpora") {
    val corpora = Seq(
      Seq("low low low low low", "lower lower newest newest",
        "newest newest newest newest widest widest widest"),
      // score ties: symmetric pair/unit counts make micro-nat scores
      // collide, the (score DESC, a ASC, b ASC) UTF-8 order decides
      Seq("aa ab ba bb", "ab ba aa bb", "bb aa ab ba"),
      // supplementary-plane emoji (U+1F600, 4-byte UTF-8) next to
      // U+FF71 (3-byte): UTF-16 code-unit order and UTF-8 byte order
      // DISAGREE on this pair, so a String-order tie-break diverges
      Seq("ｱ😀 😀ｱ ｱ😀 😀ｱ", "ｱｱ 😀😀 ｱｱ 😀😀"),
      // exhausts before iters: everything collapses to one symbol
      Seq("ab ab ab"))
    for ((texts, ci) <- corpora.zipWithIndex; iters <- Seq(1, 3, 8)) {
      val d = texts.zipWithIndex
        .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
      val base = Bpe.wordFreq(d)
        .select(col("word"), col("freq"),
          split(col("word"), "").as("syms"))
        .localCheckpoint(true)
      val (mD, sD) = WordPiece.trainMergesDistributed(spark, base, iters)
      val (mL, sL) = WordPiece.trainMergesLocal(spark,
        MergeLoop.collect(base, "law").get, base.schema, iters)
      assert(mL.schema == mD.schema && sL.schema == sD.schema,
        s"schema drift corpus=$ci")
      assert(mL.orderBy("iter").collect().toSeq ==
        mD.orderBy("iter").collect().toSeq, s"merges corpus=$ci i=$iters")
      assert(sL.orderBy("word").collect().toSeq ==
        sD.orderBy("word").collect().toSeq, s"seg corpus=$ci i=$iters")
    }
  }
}
