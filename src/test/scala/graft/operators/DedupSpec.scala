package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),    // near dup of 1
    (4L, "completely different words entirely here now friends"),
    (5L, "tiny")                                              // < k tokens
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id and counts copies") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length == 4)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("exact dedup is idempotent") {
    val once = Dedup.exact(docs, "text", "doc_id")
      .select(col("keep_id").as("doc_id"), col("keep_id").cast("string").as("text"))
    val twice = Dedup.exact(once, "text", "doc_id")
    assert(once.count() == twice.count())
  }

  test("jaccard pairs finds exact and near dup, skips unrelated") {
    val pairs = Dedup.jaccardPairs(docs, tau = 0.3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))   // identical -> jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("prefix-filtered jaccard == naive enumeration on the fixture corpus") {
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    for ((mkSets, tau) <- Seq(
        ((d: org.apache.spark.sql.DataFrame) => d.select(col("doc_id"),
          graft.operators.TextAnalysis.shingleHashes(col("text"), 3)
            .as("sh")), 0.3),
        ((d: org.apache.spark.sql.DataFrame) => d.select(col("doc_id"),
          graft.operators.TextAnalysis.charShingleHashes("text", 16)
            .as("sh")), 0.5))) {
      val sets = mkSets(corpus)
      val naive = Dedup.jaccardPairsFromSetsNaive(sets, tau, 0)
        .orderBy("d1", "d2").collect().map(_.toString)
      val pref = Dedup.jaccardPairsFromSetsPrefix(sets, tau, 0)
        .orderBy("d1", "d2").collect().map(_.toString)
      assert(pref.sameElements(naive))
      assert(naive.nonEmpty || tau > 0.9) // fixture has near-dups
    }
  }

  test("containment prefix path == naive overlap path (asymmetric bound)") {
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val naive = Dedup.containmentPairs(corpus, tau)
        .orderBy("d1", "d2").collect().map(_.toString)
      val sets = corpus.select(col("doc_id"),
        graft.operators.TextAnalysis.shingleHashes(col("text"), 3)
          .as("sh"))
      val pref = Dedup.containmentPairsFromSetsPrefix(sets, tau, 0)
        .orderBy("d1", "d2").collect().map(_.toString)
      assert(pref.sameElements(naive), s"tau=$tau")
      assert(naive.nonEmpty || tau > 0.9)
    }
  }

  test("ensemble prefix path == naive ensemble pair set") {
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    val sets = corpus.select(col("doc_id"),
      graft.operators.TextAnalysis.shingleHashes(col("text"), 3).as("sh"))
    val pref = Dedup.ensemblePairsFromSetsPrefix(sets, 0.3, 0.5, 0)
      .orderBy("d1", "d2").collect().map(_.toString)
    // ensemblePairs = overlap-tier ∪ exact-text tier; at this SF every
    // doc has ≥ 3 words so exact-text pairs have jaccard 1.0 ≥ tauJ and
    // the exact tier is a subset of the overlap tier — the full
    // ensemble output must therefore equal the prefix overlap output
    val naive = Dedup.ensemblePairs(corpus, 0.3, 0.5)
      .orderBy("d1", "d2").collect().map(_.toString)
    assert(pref.sameElements(naive))
    assert(pref.nonEmpty)
  }

  test("ensemble prefix: broadcast (raw-candidate) and shuffle " +
       "(pre-deduped) verification arms agree") {
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    val sets = corpus.select(col("doc_id"),
      graft.operators.TextAnalysis.shingleHashes(col("text"), 3).as("sh"))
    val bc = Dedup.ensemblePairsFromSetsPrefix(sets, 0.3, 0.5, 0,
      verifyBytesHint = Some(1L))
      .orderBy("d1", "d2").collect().map(_.toString)
    val sh = Dedup.ensemblePairsFromSetsPrefix(sets, 0.3, 0.5, 0,
      verifyBytesHint = Some(Long.MaxValue))
      .orderBy("d1", "d2").collect().map(_.toString)
    assert(bc.sameElements(sh))
    assert(bc.nonEmpty)
  }

  test("ensemble prefix plan: ONE fused index (pJ/pC columns), and in " +
       "the broadcast regime candidates stream raw — dedup only above " +
       "the gate") {
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    val sets = corpus.select(col("doc_id"),
      graft.operators.TextAnalysis.shingleHashes(col("text"), 3).as("sh"))
    val p = Dedup.ensemblePairsFromSetsPrefix(sets, 0.3, 0.5, 0,
        verifyBytesHint = Some(1L))
      .queryExecution.executedPlan.toString
    // the fused index carries BOTH prefix lengths in one perDoc pass
    assert(p.contains("pJ") && p.contains("pC"), p)
    // survivor dedup sits ABOVE the broadcast verification probes (tree
    // prints parent-first): no pre-verify exchange of the raw candidate
    // stream
    val dedupAt = p.linesIterator.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("keys=[d1"))
    val firstBhjAt = p.linesIterator.indexWhere(
      _.contains("BroadcastHashJoin"))
    assert(dedupAt >= 0 && firstBhjAt >= 0 && dedupAt < firstBhjAt,
      s"dedup@$dedupAt bhj@$firstBhjAt\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("prefix path: broadcast and shuffle verification arms agree") {
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    val sets = corpus.select(col("doc_id"),
      graft.operators.TextAnalysis.charShingleHashes("text", 16).as("sh"))
    // tiny hint -> broadcast arm; huge hint -> shuffle-join arm
    val bc = Dedup.jaccardPairsFromSetsPrefix(sets, 0.5, 0,
      verifyBytesHint = Some(1L))
      .orderBy("d1", "d2").collect().map(_.toString)
    val sh = Dedup.jaccardPairsFromSetsPrefix(sets, 0.5, 0,
      verifyBytesHint = Some(Long.MaxValue))
      .orderBy("d1", "d2").collect().map(_.toString)
    assert(bc.sameElements(sh))
    assert(bc.nonEmpty)
  }

  test("prefix-filtered jaccard honors maxPostings like the naive path") {
    val sets = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.shingleHashes(col("text"), 2).as("sh"))
    val naive = Dedup.jaccardPairsFromSetsNaive(sets, 0.2, 2)
      .orderBy("d1", "d2").collect().map(_.toString)
    val pref = Dedup.jaccardPairsFromSetsPrefix(sets, 0.2, 2)
      .orderBy("d1", "d2").collect().map(_.toString)
    assert(pref.sameElements(naive))
  }

  test("incremental dedup: exact dup and near-dup rejected, fresh admitted") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val newShard = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),  // exact dup of 1
      (11L, "one two three four seven eight"),        // near dup of 2
      (12L, "totally fresh words nothing shared here")
    ).toDF("doc_id", "text")
    val admitted = Dedup.incrementalDedup(newShard, corpus, minShared = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(12L))
  }

  test("mega-bucket guard fails loudly instead of a quadratic expansion") {
    // 5 identical docs -> every shingle's posting list has 5 members;
    // with the bound forced to 4 the jaccard pass must throw the
    // spelled-out error, not expand 5^2 pairs silently
    val docs = (1L to 5L).map(i => (i, "w1 w2 w3 w4 w5 w6"))
      .toDF("doc_id", "text")
    val saved = Dedup.maxBucketMembers
    Dedup.maxBucketMembers = 4
    try {
      val e = intercept[Exception] {
        Dedup.jaccardPairs(docs, tau = 0.3).collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("exact-dedup the corpus first")),
        e.toString)
    } finally Dedup.maxBucketMembers = saved
    // back under the bound: same corpus dedups fine
    assert(Dedup.jaccardPairs(docs, tau = 0.3).count() == 10)
  }

  test("containment catches a short doc embedded in a long one that " +
       "jaccard misses") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val short = (1 to 8).map(i => s"w$i").mkString(" ")   // strict prefix
    val docs = Seq((1L, long), (2L, short)).toDF("doc_id", "text")
    // shingle sets: |long| = 58, |short| = 6, all 6 shared
    val cont = Dedup.containmentPairs(docs, tau = 0.9).collect()
    assert(cont.length == 1)
    assert(cont.head.getAs[Double]("containment") == 1.0)
    val jac = Dedup.jaccardPairs(docs, tau = 0.3).collect()
    assert(jac.isEmpty, "jaccard should miss the size-mismatched subset")
  }

  test("minhash LSH pairs are a subset of exact jaccard pairs (no false positives after verify)") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val exact = Dedup.jaccardPairs(d, tau = 0.3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashPairs(d, tau = 0.3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    // on this corpus the planted near-dups are strong -> full recall
    assert(lsh == exact)
  }

  test("minhashCalibration sample gate: over-maxDocs input downsamples " +
       "to the same rows an explicit hash-sample selects; under-maxDocs " +
       "input is untouched") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val n = d.count()
    val maxDocs = n / 2
    // the gate must reproduce exactly Sampling.sampleByHash's subset:
    // run calibration on the gated full input and on the pre-sampled
    // subset with the gate disabled — identical frames
    val den = 1 << 20
    val num = math.max(1L, maxDocs * den / n).toInt
    val pre = graft.operators.Sampling.sampleByHash(
      d, col("doc_id").cast("string"), num, den)
    val gated = Dedup.minhashCalibration(d, maxDocs = maxDocs)
      .orderBy("d1", "d2").collect().toSeq
    val manual = Dedup.minhashCalibration(pre, maxDocs = Long.MaxValue)
      .orderBy("d1", "d2").collect().toSeq
    assert(gated == manual)
    // and the gate is inert when n <= maxDocs
    val all = Dedup.minhashCalibration(d).orderBy("d1", "d2").count()
    val allGated = Dedup.minhashCalibration(d, maxDocs = n)
      .orderBy("d1", "d2").count()
    assert(all == allGated && gated.size < all)
  }

  test("fuzzyRecordClusters: the length pre-gate and thresholded " +
       "levenshtein are output-invariant (same clusters as the " +
       "unthresholded distance)") {
    val recs = Seq(
      (1L, "jonathan smith"), (2L, "jonathan smyth"),  // dist 1, same block
      (3L, "jonathan smithson"),                        // dist 3 from 1
      (4L, "kate johnson"), (5L, "kate jonson"),        // dist 1
      (6L, "kate j"),                                   // far by length
      (7L, "zed")
    ).toDF("id", "name")
    val blk = substring(col("name"), 1, 4)
    val got = Dedup.fuzzyRecordClusters(recs, col("id"), col("name"), blk,
        maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: brute-force unthresholded levenshtein within blocks
    val a = recs.select(blk.as("b"), col("id").as("i1"), col("name").as("n1"))
    val b = recs.select(blk.as("b"), col("id").as("i2"), col("name").as("n2"))
    val ref = Dedup.connectedComponents(
      a.join(b, "b").filter(col("i1") < col("i2") &&
        levenshtein(col("n1"), col("n2")) <= 1)
        .select(col("i1").as("d1"), col("i2").as("d2")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref)
    assert(got.nonEmpty)
  }

  test("simhash banding is exact for hamming <= 3 (matches brute force)") {
    val d = spark.read.parquet(sf() + "/documents.parquet")
    val banded = Dedup.simhashPairs(d, maxDist = 3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    // brute force over all fingerprint pairs
    val fp = d.withColumn("fp", Dedup.simhash(
        transform(TextAnalysis.tokens(col("text")),
          graft.functions.StableHash.stableHash60(_))))
      .select("doc_id", "fp")
    val a = fp.select(col("doc_id").as("d1"), col("fp").as("f1"))
    val b = fp.select(col("doc_id").as("d2"), col("fp").as("f2"))
    val brute = a.crossJoin(b).filter(col("d1") < col("d2"))
      .filter(bit_count(col("f1").bitwiseXOR(col("f2"))) <= 3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(banded == brute)
  }

  test("keepBest keeps the highest-score doc per cluster (tie -> lowest " +
       "id), singletons keep themselves") {
    // cluster {1,2,3}: 3 has the longest text -> wins over canonical 1;
    // 4 and 5 are singletons
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val kept = Dedup.keepBest(docs, pairs, score = length(col("text")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 5L))
    // tie on score: docs 1 and 2 are identical -> lowest id wins
    val keptTie = Dedup.keepBest(docs.filter(col("doc_id") <= 2),
        Seq((1L, 2L)).toDF("d1", "d2"), score = length(col("text")))
      .select("doc_id").as[Long].collect().toSet
    assert(keptTie == Set(1L))
  }

  test("duplicateSpans: copies marked, canonical kept, mutation splits " +
       "the span, short docs untouched") {
    // doc 1 canonical; doc 2 full copy; doc 3 copies with word 4 mutated
    // (windows crossing position 4 are unique -> two islands); doc 4
    // shares nothing; doc 5 shorter than l
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "a b c d X f g h i j"),
      (4L, "p q r s t u v w x y"),
      (5L, "a b c")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, l = 5)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    // doc 2: one span covering everything; doc 3: "a b c d" (windows
    // [0..4] all cross the mutation except none fully fit left of it —
    // only the window at 5 "f g h i j" survives on the right)
    assert(spans == Seq((2L, 0L, 9L), (3L, 5L, 9L)))
  }

  test("exciseDuplicateSpans rebuilds text minus covered tokens; " +
       "hashKeys path agrees with the exact path") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "a b c d X f g h i j"),
      (4L, "p q r s t u v w x y"),
      (5L, "a b c")
    ).toDF("doc_id", "text")
    val out = Dedup.exciseDuplicateSpans(d, l = 5)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, "a b c d e f g h i j"),
      (2L, 10L, ""),
      (3L, 5L, "a b c d X"),
      (4L, 0L, "p q r s t u v w x y"),
      (5L, 0L, "a b c")))
    // the 8-byte-key scale path produces identical output on real data
    val docsReal = spark.read.parquet(sf() + "/documents.parquet")
    val exact = Dedup.exciseDuplicateSpans(docsReal, l = 8)
      .orderBy("doc_id").collect().toSeq
    val hashed = Dedup.exciseDuplicateSpans(docsReal, l = 8,
        hashKeys = true)
      .orderBy("doc_id").collect().toSeq
    assert(exact == hashed)
  }

  test("span operators survive degenerate inputs: empty corpus, empty " +
       "text, docs shorter than the window") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(empty, l = 5).count() == 0)
    assert(Dedup.exciseDuplicateSpans(empty, l = 5).count() == 0)
    val degenerate = Seq(
      (1L, ""), (2L, ""), (3L, "one"), (4L, "one"), (5L, "a b c d")
    ).toDF("doc_id", "text")
    // every doc is shorter than l -> no windows, nothing marked, text
    // survives verbatim (empty split yields [""] -> rejoins to "")
    assert(Dedup.duplicateSpans(degenerate, l = 5).count() == 0)
    val out = Dedup.exciseDuplicateSpans(degenerate, l = 5)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 0L, ""), (2L, 0L, ""), (3L, 0L, "one"),
      (4L, 0L, "one"), (5L, 0L, "a b c d")))
    // seen side empty -> nothing excised
    val docs5 = Seq((9L, "a b c d e f")).toDF("doc_id", "text")
    val cleaned = Dedup.exciseSeenSpans(docs5, empty, l = 5)
      .as[(Long, Long, String)].collect().toSeq
    assert(cleaned == Seq((9L, 0L, "a b c d e f")))
  }

  test("exciseSeenSpans: only windows present in the seen side are cut; " +
       "the seen side is authoritative regardless of ids") {
    val seen = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "z z a b c d e f g h i j z z"),   // seen span embedded mid-doc
      (2L, "a b c d X f g h i j"),           // mutation breaks every window
      (3L, "q r s t u v w x y z")            // shares nothing
    ).toDF("doc_id", "text")
    val out = Dedup.exciseSeenSpans(incoming, seen, l = 5)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 10L, "z z z z"),
      (2L, 5L, "a b c d X"),   // only the clean right half "f g h i j" matches
      (3L, 0L, "q r s t u v w x y z")))
  }

  test("embedding near-dup pairs respect the exact cosine threshold") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val pairs = Dedup.embeddingPairs(e, tauNum = 4, tauDen = 10)
    import graft.functions.VectorFunctions.{qdot, qnorm2}
    // recompute cosine in double for every returned pair; quantized gate
    // tracks true cosine to within quantization error
    val ea = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val eb = e.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    val checked = pairs.join(ea, "v1").join(eb, "v2")
      .withColumn("cos",
        qdot(col("e1"), col("e2")).cast("double") /
          (sqrt(qnorm2(col("e1")).cast("double")) *
           sqrt(qnorm2(col("e2")).cast("double"))))
    val cosines = checked.select("cos").as[Double].collect()
    assert(cosines.forall(_ >= 0.3999))
  }

  // two orthogonal directions; v0/v1/v2 near-identical, v3/v4
  // near-identical, v5 in-between-but-below-gate for neither... v5 is
  // aligned with the first group but scaled (cosine is scale-free, so
  // it IS a near-dup of v0-v2)
  private def semVecs = Seq(
    (0L, Array(1000f, 0f, 0f, 0f)),
    (1L, Array(999f, 10f, 0f, 0f)),
    (2L, Array(998f, 0f, 12f, 0f)),
    (3L, Array(0f, 1000f, 0f, 0f)),
    (4L, Array(0f, 997f, 0f, 9f)),
    (5L, Array(500f, 0f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("semanticDedup: one row per vector, min-id canonicals, " +
       "orthogonal directions never merge") {
    val out = Dedup.semanticDedup(semVecs, nlist = 2, iters = 2,
      tauNum = 9, tauDen = 10).collect()
    assert(out.length == 6)
    val canon = out.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("canonical")).toMap
    assert(canon.forall { case (v, c) => c <= v })
    // the two direction groups must not share a canonical
    val g1 = Set(0L, 1L, 2L, 5L).map(canon)
    val g2 = Set(3L, 4L).map(canon)
    assert(g1.intersect(g2).isEmpty)
    // v3/v4 are same-direction: cos ~ 1 > 0.9 — if they share a
    // cluster they must share a canonical (min id 3)
    val cents = out.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("cent_id")).toMap
    if (cents(3L) == cents(4L)) assert(canon(3L) == 3L && canon(4L) == 3L)
  }

  test("semanticDedup with nlist=1 equals the unblocked exact dedup " +
       "graph (clustering only ever REMOVES candidate pairs)") {
    val sem = Dedup.semanticDedup(semVecs, nlist = 1, iters = 1,
        tauNum = 9, tauDen = 10)
      .select("vec_id", "canonical").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: single-block embeddingPairs -> cc -> min-id
    val full = Dedup.embeddingPairs(
      semVecs.withColumn("label", lit(1L)), tauNum = 9, tauDen = 10)
    val comp = Dedup.connectedComponents(
        full.select(col("v1").as("d1"), col("v2").as("d2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L to 5L).map(v => v -> comp.getOrElse(v, v)).toMap
    assert(sem == want)
  }

  test("semanticDedup is repartition-invariant") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.semanticDedup(df, nlist = 2, iters = 2,
          tauNum = 9, tauDen = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    assert(run(semVecs) == run(semVecs.repartition(7)))
  }

  test("semanticDedupTwoLevel with kCoarse=1 and a full-corpus sample " +
       "equals semanticDedup exactly (the approximation vanishes)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val single = rows(Dedup.semanticDedup(semVecs, nlist = 3, iters = 2,
      tauNum = 9, tauDen = 10))
    val two = rows(Dedup.semanticDedupTwoLevel(semVecs, nlist = 3,
      iters = 2, tauNum = 9, tauDen = 10, kCoarse = 1,
      sampleFactor = 100))
    assert(two == single)
  }

  test("semanticDedupTwoLevel: deterministic, repartition-invariant, " +
       "orthogonal directions never merge at kCoarse=2") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.semanticDedupTwoLevel(df, nlist = 3, iters = 2,
          tauNum = 9, tauDen = 10, kCoarse = 2, sampleFactor = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val a = run(semVecs)
    assert(a == run(semVecs))
    assert(a == run(semVecs.repartition(7)))
    val canon = a.map(t => t._1 -> t._3).toMap
    assert(canon.forall { case (v, c) => c <= v })
    val g1 = Set(0L, 1L, 2L, 5L).map(canon)
    val g2 = Set(3L, 4L).map(canon)
    assert(g1.intersect(g2).isEmpty)
  }

  test("semanticDedup auto-routes to the two-level path past " +
       "autoTwoLevel, and at the boundary (training sample covers the " +
       "corpus) the routed result is IDENTICAL to single-level") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val single = rows(Dedup.semanticDedup(semVecs, nlist = 3, iters = 2,
      tauNum = 9, tauDen = 10, autoTwoLevel = Long.MaxValue))
    // 6 vectors > autoTwoLevel=4 -> routed to two-level; the 50*nlist
    // training sample covers the whole corpus, so the router upgrades
    // nprobe to exact and the approximation vanishes
    val routed = rows(Dedup.semanticDedup(semVecs, nlist = 3, iters = 2,
      tauNum = 9, tauDen = 10, autoTwoLevel = 4L))
    assert(routed == single)
    // the routed call is exactly the two-level operator under the
    // router's parameter choice (kCoarse auto, nprobe = nlist clamps
    // to kCoarse = exact)
    val direct = rows(Dedup.semanticDedupTwoLevel(semVecs, nlist = 3,
      iters = 2, tauNum = 9, tauDen = 10, nprobe = 3,
      sampleFactor = 50))
    assert(routed == direct)
    // default threshold leaves small corpora on the exact path
    val default = rows(Dedup.semanticDedup(semVecs, nlist = 3, iters = 2,
      tauNum = 9, tauDen = 10))
    assert(default == single)
  }

  test("semanticDedup nlist=0 corpus-sizes to ceil(sqrt(n)) — " +
       "identical to the explicit call, and the hint skips the count") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    // 6 vectors -> ceil(sqrt(6)) = 3 cells
    val auto = rows(Dedup.semanticDedup(semVecs, iters = 2,
      tauNum = 9, tauDen = 10))
    val explicit = rows(Dedup.semanticDedup(semVecs, nlist = 3, iters = 2,
      tauNum = 9, tauDen = 10))
    assert(auto == explicit)
    // a (wrong) hint must win over the real count: proves the count job
    // is skipped when the caller threads one through
    val hinted = rows(Dedup.semanticDedup(semVecs, iters = 2,
      tauNum = 9, tauDen = 10, n = 4L))  // ceil(sqrt(4)) = 2
    val explicit2 = rows(Dedup.semanticDedup(semVecs, nlist = 2, iters = 2,
      tauNum = 9, tauDen = 10))
    assert(hinted == explicit2)
  }

  test("connectedComponents contraction path == driver union-find " +
       "bit-for-bit on a dense multi-component graph") {
    // deterministic pseudo-random dense graph: 3 planted components
    // (node % 3 buckets chained densely) so edges >> nodes, the regime
    // the spanning-forest contraction exists for
    val rng = new scala.util.Random(42)
    val nodes = (0L until 90L)
    val edges = (1 to 1200).map { _ =>
      val g = rng.nextInt(3)
      val a = nodes(g + 3 * rng.nextInt(30))
      val b = nodes(g + 3 * rng.nextInt(30))
      (a, b)
    }.toDF("d1", "d2").repartition(8)
    def comp(threshold: Long) =
      Dedup.connectedComponents(edges, smallGraphThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // default threshold: graph is small -> pure driver union-find
    val want = comp(4000000L)
    // threshold 1: round-1 contraction runs, forest still > 1 edge ->
    // round 2 + round 3 (<= 16) skipped-or-run, star loop finishes
    assert(comp(1L) == want)
    // threshold sized so contraction LANDS below it -> contracted
    // forest finishes on the driver path instead
    assert(comp(100L) == want)
    // sanity: 3 components, labeled by min node id (0, 1, 2)
    assert(want.values.toSet.subsetOf(Set(0L, 1L, 2L)))
  }

  test("snapshotDedup: keeps the lexicographic-min (snap, fetch_id) " +
       "fetch per (url, content) — including non-adjacent revisits " +
       "and out-of-order fetch ids") {
    import spark.implicits._
    val crawl = Seq(
      // url A: unchanged recrawl with a LATER snap but SMALLER fetch id
      // (min(fetch_id) would wrongly pick fid=5; first-snap wins)
      ("a", 0, "v1", 100L), ("a", 1, "v1", 5L),
      // url B: A,B,A version pattern — revisit to the OLD version in
      // snap 2 collapses onto snap 0, not a new row
      ("b", 0, "v1", 10L), ("b", 1, "v2", 11L), ("b", 2, "v1", 12L),
      // url C: two identical fetches INSIDE one dump — fid tie-break
      ("c", 0, "v1", 21L), ("c", 0, "v1", 20L)
    ).toDF("url", "snap", "text", "fetch_id")
    val out = Dedup.snapshotDedup(crawl, col("url"), col("snap"),
        col("text"), col("fetch_id"))
      .orderBy("url", "keep_fetch")
      .select("url", "first_snap", "keep_fetch", "n_fetches")
      .as[(String, Int, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("a", 0, 100L, 2L),
      ("b", 0, 10L, 2L), ("b", 1, 11L, 1L),
      ("c", 0, 20L, 2L)))
  }

  test("persisted minhash index: the indexed query equals inline " +
       "minhashPairs restricted to cross-side pairs, and the bucket " +
       "artifact is band-partitioned on disk") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 450)
    val fresh = docs.filter(col("doc_id") >= 450)
    val path = java.nio.file.Files
      .createTempDirectory("graft_mhidx_spec").toString
    Dedup.buildMinhashIndex(corpus, path)
    val idx = Dedup.minhashNeardupIndexed(fresh, path, tau = 0.3)
      .select("d1", "d2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val inline = Dedup.minhashPairs(docs, tau = 0.3)
      .select("d1", "d2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
      .filter(t => t._1 < 450 && t._2 >= 450)
    assert(idx.nonEmpty, "fixture must produce cross-side near-dups")
    assert(idx === inline)
    // band-partitioned layout: bucket probes prune to band directories
    val bandDirs = new java.io.File(s"$path/buckets").listFiles()
      .filter(_.getName.startsWith("band="))
    assert(bandDirs.length === 16, s"got ${bandDirs.length} band dirs")
  }

  test("incremental minhash maintenance: build(A) + appendToMinhashIndex(B) " +
       "answers indexed queries exactly as an index built on A ∪ B, with " +
       "the frozen family and only-additive band directories") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val a = docs.filter(col("doc_id") < 300)
    val b = docs.filter(col("doc_id") >= 300 && col("doc_id") < 450)
    val fresh = docs.filter(col("doc_id") >= 450)
    val incrPath = java.nio.file.Files
      .createTempDirectory("graft_mhincr_spec").toString
    Dedup.buildMinhashIndex(a, incrPath)
    Dedup.appendToMinhashIndex(b, incrPath)
    val incr = Dedup.minhashNeardupIndexed(fresh, incrPath, tau = 0.3)
      .select("d1", "d2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val oncePath = java.nio.file.Files
      .createTempDirectory("graft_mhonce_spec").toString
    Dedup.buildMinhashIndex(docs.filter(col("doc_id") < 450), oncePath)
    val once = Dedup.minhashNeardupIndexed(fresh, oncePath, tau = 0.3)
      .select("d1", "d2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(incr.nonEmpty && incr === once)
    // append never rewrites: still exactly the 16 band directories, and
    // meta now covers both shards
    val bandDirs = new java.io.File(s"$incrPath/buckets").listFiles()
      .filter(_.getName.startsWith("band="))
    assert(bandDirs.length === 16)
    val metaIds = spark.read.parquet(s"$incrPath/meta")
      .select("doc_id").as[Long].collect().toSet
    // empty-shingle docs (text shorter than k tokens) have no posting
    // rows on either path; both shards must still be represented
    assert(metaIds.exists(_ < 300) && metaIds.exists(id => id >= 300 && id < 450))
  }

  /** The dedup stage's law: the driver tier (bounds forced above the
    * corpus) equals the distributed path (row bound forced below it),
    * and both equal the composition `keepCanonical(jaccardPairs)` —
    * every column of every kept row, under an equal schema (names,
    * types, nullability).
    */
  private def assertDedupLaw(corpus: org.apache.spark.sql.DataFrame,
                             taus: Seq[Double], k: Int = 3): Unit =
    for (tau <- taus) {
      val driverDf = Dedup.keepCanonicalJaccard(corpus, tau, k, "doc_id",
        driverDocs = Int.MaxValue, driverBytes = Long.MaxValue)
      val distributedDf = Dedup.keepCanonicalJaccard(corpus, tau, k,
        "doc_id", driverDocs = -1L, driverBytes = Long.MaxValue)
      val composedDf = Dedup.keepCanonical(corpus,
        Dedup.jaccardPairs(corpus, tau, k))
      assert(driverDf.schema == composedDf.schema, s"tau=$tau")
      assert(distributedDf.schema == composedDf.schema, s"tau=$tau")
      val driver = canonicalRows(driverDf)
      assert(driver == canonicalRows(distributedDf), s"tau=$tau")
      assert(driver == canonicalRows(composedDf), s"tau=$tau")
    }

  /** Collected rows as sorted strings that compare by value: binary
    * columns print their bytes and maps their sorted entries.
    */
  private def canonicalRows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def canon(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case r: org.apache.spark.sql.Row => r.toSeq.map(canon)
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (a, b) => (canon(a), canon(b)) }.sortBy(_.toString)
      case xs: scala.collection.Seq[_] => xs.map(canon)
      case o => o
    }
    df.collect().map(canon(_).toString).sorted.toSeq
  }

  test("keepCanonicalJaccard: driver tier == distributed path on the " +
       "fixtures (gate forced both ways)") {
    assertDedupLaw(docs, Seq(0.0, 0.3, 0.5, 0.9, 1.0))
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    assertDedupLaw(corpus, Seq(0.3, 0.5))
    assertDedupLaw(corpus, Seq(0.3), k = 2)
    // a mutated small-vocabulary corpus: many pairs over a wide spread of
    // jaccards, chains of near-dups that merge into one component
    val rng = new scala.util.Random(11)
    val base = Array.fill(40)(Array.fill(12)(s"w${rng.nextInt(30)}"))
    val mutated = (0 until 400).map { i =>
      val words = base(i % 40).clone()
      (0 until rng.nextInt(6)).foreach(_ =>
        words(rng.nextInt(words.length)) = s"w${rng.nextInt(30)}")
      (i.toLong * 7 % 401, words.mkString(" "))
    }.toDF("doc_id", "text")
    assertDedupLaw(mutated, Seq(0.2, 0.3, 0.5, 0.8))
    // an id that is not the first column: every path keeps the
    // corpus's column order
    assertDedupLaw(mutated.select("text", "doc_id"), Seq(0.3))
  }

  test("keepCanonicalJaccard: driver tier == distributed path on NULL " +
       "text, NULL ids, a repeated doc_id, a pair at exactly tau and an " +
       "empty corpus") {
    val edge = Seq[(java.lang.Long, String)](
      (1L, "a b c d e f g h"),
      // jaccard 3 / 10 = 0.3 exactly against doc 1 (6 and 7 shingles)
      (2L, "a b c d e z1 z2 z3 z4"),
      (3L, null),
      (4L, "p q r s t u"),
      // NULL id near-dup of doc 4: pairs nothing, kept by neither path
      (null, "p q r s t u"),
      (null, null),
      // repeated id, different set sizes: one near-dup of doc 4, one of
      // nothing
      (5L, "p q r s t u v"),
      (5L, "m n o"),
      // repeated id, equal set sizes (the driver tier declines these)
      (6L, "k l m n o"),
      (6L, "k l m n x"),
      (7L, "k l m n o"),
      (8L, ""),
      (9L, "tiny")
    ).toDF("doc_id", "text")
    val noSix = edge.filter(col("doc_id").isNull || col("doc_id") =!= 6L)
    assertDedupLaw(edge, Seq(0.3, 0.5))
    assertDedupLaw(noSix, Seq(0.3, 0.5))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[java.lang.Long].collect().toSet
    // doc 4 survives its NULL-id copy; the pair at exactly tau merges
    // doc 2 into doc 1 at 0.3, and not above it
    assert(ids(Dedup.keepCanonicalJaccard(noSix, 0.3)) ==
      Set[java.lang.Long](1L, 3L, 4L, 8L, 9L))
    assert(ids(Dedup.keepCanonicalJaccard(noSix, 0.31)).contains(2L))
    assertDedupLaw(edge.limit(0), Seq(0.3))
  }

  test("keepCanonicalJaccard: the gate admits SmallCorpusDocs documents " +
       "to the driver tier and sends one more to the distributed path") {
    // docs 2i and 2i+1 share one of three shingles: jaccard 1/3
    def corpus(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("x"), col("id") / 2 cast "long", lit(" y"),
        col("id") / 2 cast "long", lit(" z"), col("id") / 2 cast "long",
        lit(" q"), col("id") % 2).as("text"))
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    // at the gate the kept rows are a local relation: no scan of the
    // source, no join
    val atGate = Dedup.keepCanonicalJaccard(corpus(Dedup.SmallCorpusDocs), 0.3)
    val atPlan = plan(atGate)
    assert(atPlan.contains("LocalTableScan") && !atPlan.contains("Range") &&
      !atPlan.contains("FileScan") && !atPlan.contains("Join"), atPlan)
    val past = corpus(Dedup.SmallCorpusDocs + 1)
    val overGate = Dedup.keepCanonicalJaccard(past, 0.3)
    assert(plan(overGate).contains("Range") &&
      plan(overGate).contains("LeftOuter"), plan(overGate))
    val want = Dedup.keepCanonical(past, Dedup.jaccardPairs(past, 0.3))
    assert(overGate.count() == (Dedup.SmallCorpusDocs + 2) / 2 &&
      overGate.exceptAll(want).isEmpty && want.exceptAll(overGate).isEmpty)
    assertDedupLaw(past, Seq(0.3))
  }

  test("keepCanonicalJaccard: driver tier == keepCanonical(jaccardPairs) " +
       "row for row on a wide corpus (nested, decimal, timestamp, binary " +
       "columns, NULL payloads, a dotted column name, an int id) and " +
       "with a fractional id") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", IntegerType),
      StructField("text", StringType),
      StructField("tags", ArrayType(StringType)),
      StructField("attrs", MapType(StringType, LongType)),
      StructField("meta", StructType(Seq(StructField("src", StringType),
        StructField("score", DoubleType, nullable = false)))),
      StructField("price", DecimalType(12, 3)),
      StructField("seen", TimestampType),
      StructField("raw", BinaryType),
      StructField("a.b", StringType, nullable = false)))
    val texts = Seq("a b c d e f g h", "a b c d e f g x", "p q r s t u",
      "p q r s t v", "m n o", null, "a b c d e f g h", "z y x w v u")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      def orNull[A](a: => A): Any = if (i % 3 == 1) null else a
      Row(if (i == 4) null else Int.box(i + 10), t,
        orNull(Seq(s"t$i", null)),
        orNull(Map("n" -> Long.box(i), "m" -> null)),
        orNull(Row(s"s$i", i * 0.5)),
        orNull(new java.math.BigDecimal(s"$i.125")),
        orNull(java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 10:00:00")),
        orNull(Array[Byte](i.toByte, 0, -1)),
        s"dot$i")
    }
    val wide = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    assertDedupLaw(wide, Seq(0.3, 0.5, 1.0))
    // the same rows from a parquet file: the driver tier's rows come
    // from a file scan
    val dir = java.nio.file.Files.createTempDirectory("graft_wide_dedup")
      .toString + "/docs"
    wide.write.parquet(dir)
    assertDedupLaw(spark.read.parquet(dir), Seq(0.3))
    // the default bounds admit the parquet corpus to the driver tier;
    // it drops the near-dups of docs 10 and 12, doc 16 (an exact copy
    // of doc 10) and the NULL id
    val kept = Dedup.keepCanonicalJaccard(spark.read.parquet(dir), 0.5)
    assert(!kept.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(kept.select("doc_id").as[Option[Int]].collect().toSet ==
      Set(Some(10), Some(12), Some(15), Some(17)),
      kept.select("doc_id").collect().toSeq)
    // a fractional id: the driver tier compares ids by their long cast,
    // under which 2.5 would fall with the dropped 2.0; the distributed
    // join keeps it, and such ids take that path
    val fractional = Seq((1.0, "a b c d e"), (2.0, "a b c d e"),
      (2.5, "v w x y z q")).toDF("doc_id", "text")
    assertDedupLaw(fractional, Seq(0.5))
  }

  test("keepCanonicalJaccard: a corpus over the driver byte budget takes " +
       "the distributed path and returns identical rows") {
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    val (overBudget, labels) = withJobLabels(
      Dedup.keepCanonicalJaccard(corpus, 0.3, 3, "doc_id",
        driverDocs = Dedup.SmallCorpusDocs, driverBytes = 1L))
    assert(!labels.contains("graft.dedup: driver tier collect"), labels)
    val p = overBudget.queryExecution.executedPlan.toString
    assert(p.contains("FileScan") && p.contains("LeftOuter"), p)
    val driver = Dedup.keepCanonicalJaccard(corpus, 0.3, 3, "doc_id",
      driverDocs = Dedup.SmallCorpusDocs, driverBytes = Long.MaxValue)
    val q = driver.queryExecution.executedPlan.toString
    assert(q.contains("LocalTableScan") && !q.contains("FileScan"), q)
    assert(overBudget.schema == driver.schema)
    assert(canonicalRows(overBudget) == canonicalRows(driver))
  }
}
