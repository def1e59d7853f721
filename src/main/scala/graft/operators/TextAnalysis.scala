package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RelationBridge
import graft.engine.DriverTier
import graft.functions.StableHash.stableHash60

/** Text-analysis operators for LLM training-data pipelines: tokenization,
  * shingling, language-ID heuristics, quality scoring, fingerprinting.
  *
  * All built from codegen'd `functions._` higher-order expressions — no
  * UDFs, no shuffles beyond the caller's aggregation; every operator is a
  * narrow per-row map and scales embarrassingly at 100 TB.
  *
  * Numeric policy: ratios are IEEE-double divisions of exact integer
  * counts, so every engine computes the same bits (oracle parity).
  */
object TextAnalysis {

  /** Whitespace tokenization (the corpus is single-space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Char class of the space-free scripts this engine treats char-level:
    * kana (hiragana+katakana, U+3040-30FF) and the CJK ideograph area
    * (ext-A through URO, U+3400-9FFF). RE2-compatible `\x{...}` escapes
    * so the SAME pattern string runs in Java regex (Spark) and RE2
    * (DuckDB oracle).
    */
  val kanaCharClass: String = "\\x{3040}-\\x{30FF}"
  val hanCharClass: String = "\\x{3400}-\\x{9FFF}"

  /** Script-aware tokenization pattern: every char of a space-free
    * script is its OWN token (the standard char-level fallback for
    * unsegmented text — fastText / CCNet treat CJK this way), while
    * maximal runs of any other non-space chars stay word tokens. On
    * single-space ASCII text this yields exactly [[tokens]]' output, but
    * the space-split stays the corpus-contract default so every
    * existing oracle is byte-identical.
    */
  val scriptTokenPattern: String =
    s"[$kanaCharClass$hanCharClass]|[^\\s$kanaCharClass$hanCharClass]+"

  /** [[tokens]] with the script-aware fallback: a codegen'd
    * `regexp_extract_all` over [[scriptTokenPattern]]. One narrow map —
    * same scale shape as the space split.
    */
  def tokens(text: Column, scriptAware: Boolean): Column =
    if (scriptAware) regexp_extract_all(text, lit(scriptTokenPattern), lit(0))
    else tokens(text)

  /** Word k-gram shingles: ["a","b","c","d"], k=3 ->
    * ["a b c", "b c d"]. Positions via `sequence`+`slice` — pure codegen.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = tokens(text)
    // guard: sequence(1, n) DESCENDS when n < 1, so short texts must
    // short-circuit to an empty array, not a bogus [1, 0] index list
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))
  }

  /** Distinct shingle hash set — input to minhash / jaccard / fingerprint.
    * The default (stableHash60) runs as the codegen'd WordShingleHashes
    * kernel — value-identical, one static call per row instead of five
    * nested interpreted higher-order expressions. Pass a custom `hash`
    * for the generic (interpreted) form, e.g. xxhash64 in production.
    */
  def shingleHashes(text: Column, k: Int = 3,
                    hash: Column => Column = null): Column =
    if (hash == null) graft.plans.WordShingleHashes(text, k)
    else array_distinct(transform(shingles(text, k), hash))

  /** Character k-gram shingle hashes ("abcd", k=3 -> hashes of
    * ["abc","bcd"]) — the tokenization-free near-dup representation
    * (robust to spacing/punctuation noise). Backed by the codegen'd
    * O(n) rolling-hash expression (see `RollingShingleHashes`): the
    * interpreted transform+substring+md5 route costs O(n*k) plus one
    * digest per window, which dominates near-dup passes at corpus scale.
    */
  def charShingleHashes(textCol: String, k: Int = 3): Column =
    array_distinct(graft.plans.RollingShingleHashes(col(textCol), k))

  /** Content-defined chunking (the FastCDC/rsync family): chunk
    * boundaries are placed where the POSITIONAL rolling k-gram hash is
    * divisible by `div` (average chunk length ~`div` chars), so the
    * boundary positions depend only on local content — an insertion
    * shifts at most the one chunk it lands in, unlike fixed-width
    * chunking (q_dedup_chunks) where one inserted byte re-frames every
    * downstream chunk. This is the byte-level dedup representation for
    * storage/transfer at 100 TB: shared boilerplate blocks collapse to
    * one stored chunk regardless of their offset in each document.
    *
    * Convention (mirrored exactly in the DuckDB oracle): window position
    * i (1-based) with hash(window) % div == 0 cuts AFTER character
    * i+k-1; chunks are the substrings between consecutive cuts; texts
    * shorter than k are one chunk. Returns one (doc_id, chunk) row per
    * chunk, exploded.
    *
    * Scale shape: the rolling-hash array is materialized behind a
    * repartition barrier (project-collapsing would otherwise inline the
    * O(n) kernel into each of the two boundary consumers), then all
    * chunk slicing is per-row codegen'd string work; the only shuffle
    * downstream is whatever aggregation the caller runs on the chunk
    * stream.
    */
  def cdcChunks(docs: DataFrame, k: Int = 16, div: Int = 64): DataFrame =
    cdcChunksPos(docs, k, div).select(col("doc_id"), col("chunk"))

  /** [[cdcChunks]] with each chunk's 0-based position in its document —
    * the representation that supports order-preserving reconstruction
    * (see `stripBoilerplate`).
    */
  def cdcChunksPos(docs: DataFrame, k: Int = 16, div: Int = 64): DataFrame = {
    val cuts = filter(
      transform(graft.plans.RollingShingleHashes(col("text"), k),
        (x, i) => when(x % div === 0, i + k).otherwise(-1)),
      v => v > 0)
    graft.engine.Spread(docs)
      .select(col("doc_id"), col("text"), cuts.as("cuts"))
      .transform(graft.engine.Spread.byKey(_, col("doc_id")))
      .select(col("doc_id"), col("text"),
        concat(array(lit(1)), transform(col("cuts"), c => c + 1))
          .as("starts"),
        concat(col("cuts"), array(length(col("text")))).as("ends"))
      .select(col("doc_id"), posexplode(filter(
        transform(sequence(lit(1), size(col("starts"))), j =>
          col("text").substr(element_at(col("starts"), j),
            element_at(col("ends"), j) - element_at(col("starts"), j)
              + 1)),
        s => length(s) > 0)))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "chunk")
  }

  /** Boilerplate removal by shared-chunk excision (the C4/RefinedWeb
    * shared-template step, at CDC-chunk rather than line granularity —
    * the corpus has no line structure): chunks appearing in >=
    * `minDocs` DISTINCT documents are template material and are cut
    * from every document; the remainder re-concatenates in original
    * order.
    *
    * Scale shape: the chunk stream shuffles once to count document
    * frequency, the common-chunk set (tiny by construction — templates
    * are few) broadcasts back as a left-anti gate, and reconstruction
    * is one per-doc aggregation of (idx, chunk) structs. The raw text
    * never joins against itself.
    */
  def stripBoilerplate(docs: DataFrame, k: Int = 16, div: Int = 64,
                       minDocs: Long = 3): DataFrame = {
    val ch = cdcChunksPos(docs, k, div)
    val common = ch.groupBy(col("chunk"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("chunk"))
    val kept = ch.join(common, Seq("chunk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk")), "").as("clean_text"),
        count(lit(1)).as("n_kept"))
    // every input document appears in the output: a doc whose every
    // chunk was template material comes back EMPTY, not silently
    // missing — downstream joins must not lose corpus rows
    docs.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Text normalization — the standard pre-dedup cleanup: lowercase,
    * strip everything but [a-z0-9 ], collapse whitespace runs, trim.
    * Pure codegen'd regexp/string ops; the regex subset used (character
    * classes, +) behaves identically in Java and RE2-based engines.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Pattern redaction — the PII-masking shape: digit runs become a
    * <NUM> placeholder and long hex-ish runs become <ID>. Pure codegen'd
    * regexp_replace; patterns use the Java/RE2-common subset.
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[0-9]+", "<NUM>"),
      "[a-f]{8,}", "<ID>")

  /** Luhn checksum validity of a digit string — entirely codegen'd
    * higher-order functions (sequence/aggregate over per-char ascii),
    * no UDF. Digits are weighted from the RIGHT: the check digit (i=1)
    * unweighted, every second digit doubled with the classic
    * subtract-9 fold. Lengths outside 13..19 (the payment-card PAN
    * envelope) are invalid outright; the length gate also makes the
    * garbage fold on a non-candidate harmless (false, never an error).
    */
  def luhnValid(digits: Column): Column = {
    def body(ds: Column): Column = {
      val n = length(ds)
      val sum = aggregate(
        sequence(lit(1), greatest(n, lit(1))),
        lit(0),
        (acc, i) => {
          val d = ascii(call_function("substring",
            ds, n - i + 1, lit(1))) - lit(48)
          val dd = when(i % 2 === 0,
            when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
          acc + dd
        })
      n.between(13, 19) && (sum % 10 === 0)
    }
    // Spark's higher-order functions are CodegenFallback: every fold
    // step re-INTERPRETS the captured argument tree. If `digits` is
    // itself a deep expression (q_redact_luhn's fixture candidate is
    // another fold), the 15 steps × 5 digit references multiply the
    // whole upstream tree — measured 35x on that query. Binding the
    // argument to a lambda variable via a 1-element transform
    // evaluates it ONCE per row; inside, every reference is a cheap
    // variable read.
    element_at(transform(array(digits), d => body(d)), 1)
  }

  /** PII redaction with VALIDATION — the false-positive-aware sibling
    * of [[redact]]'s blanket digit masking: only 13-19-digit runs that
    * PASS the Luhn checksum are masked as `<CARD>`; order ids, epoch
    * timestamps, and hashes that merely look card-shaped survive. One
    * narrow codegen'd projection (regexp extract → filter by
    * [[luhnValid]] → fold of replaces over the ≤ handful of valid
    * candidates per document) — zero shuffles at any corpus size.
    */
  def luhnRedact(text: Column): Column = {
    // extract MAXIMAL digit runs, not a 13-19 window: a 20+-digit run
    // (order id, numeric hash) must never have a Luhn-valid 19-digit
    // PREFIX masked inside it — luhnValid's own 13..19 length gate
    // then rejects the whole run, which is the digit-boundary
    // semantics (?<![0-9])…(?![0-9]) would give without lookarounds
    val valids = filter(
      regexp_extract_all(text, lit("[0-9]+"), lit(0)),
      c => luhnValid(c))
    // the replace is digit-boundary-anchored too: a bare substring
    // replace would mask a valid candidate's occurrence INSIDE a
    // longer digit run elsewhere in the document (candidates are
    // all-digit, so no regex quoting is needed)
    aggregate(valids, text,
      (acc, c) => regexp_replace(acc,
        concat(lit("(?<![0-9])"), c, lit("(?![0-9])")), lit("<CARD>")))
  }

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-space symbols — the standard pre-tokenizer shape. Regex is
    * POSIX-simple so Java and other engines agree.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))

  /** Tiny per-language stopword signatures for the lang-ID heuristic. */
  val langSignatures: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "la", "et", "de", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  /** N-gram/stopword language-ID heuristic: score each language by the
    * fraction of tokens in its signature list; predict the argmax
    * (ties broken by signature-list order (en, es, fr, de), deterministic). Returns
    * (lang, score) as a struct-free pair of columns via `Map`.
    */
  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    langSignatures.map { case (lang, words) =>
      val hits = size(filter(toks,
        t => words.map(w => t === w).reduce(_ || _)))
      lang -> (hits.cast("double") / greatest(size(toks), lit(1)))
    }
  }

  /** Language-ID via ONE tokenization pass: explode tokens, then a single
    * codegen'd aggregation with one conditional count per language.
    * `langScores` (the column form) inlines the `split` into every
    * language's score under project-collapsing — 5 tokenizations per row;
    * this posting form is the corpus-scale path (same scores, same
    * priority-argmax prediction).
    */
  def langIdPosting(docs: DataFrame): DataFrame = {
    val tok = graft.engine.Spread(docs).select(col("doc_id"),
      explode(tokens(col("text"))).as("w"))
    val aggs = count(lit(1)).as("n_tok") +: langSignatures.map {
      case (lang, words) =>
        sum(when(words.map(w => col("w") === w).reduce(_ || _), 1L)
          .otherwise(0L)).as(s"hits_$lang")
    }
    val scored = tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id") +: langSignatures.map { case (lang, _) =>
        (col(s"hits_$lang").cast("double") /
          greatest(col("n_tok"), lit(1))).as(s"score_$lang")
      }: _*)
    val langs = langSignatures.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), elseC) =>
        val ge = langs.drop(i + 1)
          .map(o => col(s"score_$l") >= col(s"score_$o")).reduce(_ && _)
        when(ge, lit(l)).otherwise(elseC)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Deterministic mixed-script corpus row (see [[syntheticMixedDocs]]). */
  final case class ScriptDoc(doc_id: Long, text: String)

  /** Closed-form mixed-script documents variant (the codec-query
    * pattern, cf. `Multimodal.syntheticGifMedia`): one row per
    * `documents` doc_id, with text that is a pure function of the id so
    * the DuckDB oracle reconstructs the IDENTICAL string via `chr()`
    * and list folds. doc_id % 3 selects the class — 0: space-separated
    * latin words; 1: an unsegmented CJK run (han for even ids, hiragana
    * for odd); 2: latin words then the CJK run, space-adjacent (the
    * real-web mixed-script shape).
    */
  def syntheticMixedDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val sb = new java.lang.StringBuilder
          def latin(): Unit = {
            val nw = (4 + id % 5).toInt
            var i = 0
            while (i < nw) {
              if (i > 0) sb.append(' ')
              val lw = (2 + (id + i * 3) % 4).toInt
              var j = 0
              while (j < lw) {
                sb.append(('a' + (id + i * 7 + j * 3) % 26).toChar); j += 1
              }
              i += 1
            }
          }
          def cjk(): Unit = {
            val nc = (6 + id % 9).toInt
            var j = 0
            while (j < nc) {
              val cp =
                if (id % 2 == 0)
                  (0x4E00 + ((id + j * 11) * 2654435761L) % 512).toInt
                else (0x3041 + (id + j * 7) % 85).toInt
              sb.appendCodePoint(cp); j += 1
            }
          }
          (id % 3) match {
            case 0 => latin()
            case 1 => cjk()
            case _ => latin(); sb.append(' '); cjk()
          }
          ScriptDoc(id, sb.toString)
        }
      }.toDF()
  }

  /** Script-aware token + language profile, ONE tokenization pass (the
    * posting shape of [[langIdPosting]], extended): explode
    * [[scriptTokenPattern]] tokens, then a single codegen'd aggregation
    * counting tokens, per-stopword-language hits, and per-char-class
    * hits (han -> zh, kana -> ja). The prediction is the priority
    * argmax over (en, es, fr, de, zh, ja) — since every score shares
    * the denominator, it compares raw hit counts (exact integers, no
    * doubles cross the oracle). `n_space_tokens` (the naive space
    * split's count) rides along so the CJK degradation the aware
    * tokenizer fixes is visible in the output: an unsegmented run is
    * ONE naive token but nc aware tokens.
    */
  def scriptTokenProfile(docs: DataFrame): DataFrame = {
    val tok = graft.engine.Spread(docs).select(col("doc_id"),
      size(tokens(col("text"))).as("nsp"),
      explode(tokens(col("text"), scriptAware = true)).as("w"))
    val sigPreds: Seq[(String, Column)] =
      langSignatures.map { case (lang, words) =>
        lang -> words.map(w => col("w") === w).reduce(_ || _)
      } ++ Seq(
        "zh" -> col("w").rlike(s"^[$hanCharClass]$$"),
        "ja" -> col("w").rlike(s"^[$kanaCharClass]$$"))
    val aggs = Seq(
      count(lit(1)).as("n_tokens"),
      first(col("nsp")).cast("long").as("n_space_tokens")) ++
      sigPreds.map { case (lang, p) =>
        sum(when(p, 1L).otherwise(0L)).as(s"hits_$lang")
      }
    val scored = tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("hits_zh", "n_han")
      .withColumnRenamed("hits_ja", "n_kana")
    val langs = sigPreds.map(_._1)
    val name = Map("zh" -> "n_han", "ja" -> "n_kana")
      .withDefault(l => s"hits_$l")
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), elseC) =>
        val ge = langs.drop(i + 1)
          .map(o => col(name(l)) >= col(name(o))).reduce(_ && _)
        when(ge, lit(l)).otherwise(elseC)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Quality-scoring feature columns over a text column. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val toks  = tokens(text)
    val nTok  = size(toks)
    val nDist = size(array_distinct(toks))
    val nChar = length(text)
    Seq(
      "n_tokens" -> nTok.cast("long"),
      "n_distinct" -> nDist.cast("long"),
      "type_token_ratio" -> (nDist.cast("double") / greatest(nTok, lit(1))),
      "avg_token_len" ->
        ((nChar - (nTok - 1)).cast("double") / greatest(nTok, lit(1))),
      "stopword_ratio" ->
        (size(filter(toks, t => Seq("a", "the", "of", "and", "to", "in")
          .map(w => t === w).reduce(_ || _))).cast("double") /
          greatest(nTok, lit(1))))
  }

  /** Quality features via ONE tokenization pass (same rationale as
    * `langIdPosting`): explode tokens once, aggregate count / distinct /
    * stopword hits together; `n_chars` rides along from the source row.
    * Same values as `qualityFeatures`.
    */
  def qualityPosting(docs: DataFrame,
                     scriptAware: Boolean = false): DataFrame = {
    val tok = graft.engine.Spread(docs)
      .select(col("doc_id"), length(col("text")).as("n_chars_t"),
        explode(tokens(col("text"), scriptAware)).as("w"))
    val stop = Seq("a", "the", "of", "and", "to", "in")
    tok.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count_distinct(col("w")).as("n_distinct"),
        first(col("n_chars_t")).as("nc"),
        sum(when(stop.map(s => col("w") === s).reduce(_ || _), 1L)
          .otherwise(0L)).as("stop_hits"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_distinct"),
        (col("n_distinct").cast("double") /
          greatest(col("n_tokens"), lit(1))).as("type_token_ratio"),
        ((col("nc") - (col("n_tokens") - 1)).cast("double") /
          greatest(col("n_tokens"), lit(1))).as("avg_token_len"),
        (col("stop_hits").cast("double") /
          greatest(col("n_tokens"), lit(1))).as("stopword_ratio"))
  }

  /** Blocklist screen (the C4-style "badwords" filter): per-document
    * count of blocklisted substring occurrences — all patterns,
    * overlapping included, in ONE Aho–Corasick pass per document
    * ([[graft.plans.MultiPatternCount]]) — plus the keep flag at
    * `maxHits`. One pass regardless of list size, vs one contains/rlike
    * scan per pattern; narrow map, no shuffle — scan-rate at 100 TB.
    */
  def blocklistScreen(docs: DataFrame, patterns: Seq[String],
                      maxHits: Long = 0L): DataFrame =
    graft.engine.Spread(docs).select(col("doc_id"),
        graft.plans.MultiPatternCount(col("text"), patterns).as("n_hits"))
      .withColumn("keep",
        when(col("n_hits") <= maxHits, 1).otherwise(0))

  /** Fixed-weight logistic quality scorer — the batch-INFERENCE shape of
    * model-based corpus filtering (the fastText-quality-classifier
    * stand-in): score = sigmoid(bias + sum w_i * feature_i) over the
    * `qualityFeatures` columns, keep = score above threshold. Weights
    * arrive as plain literals (in production, broadcast from a trained
    * model); scoring is one narrow codegen'd expression per row — model
    * application at 100 TB is a map, never a shuffle. The weighted sum
    * folds in the caller-given order, so the IEEE result is reproducible
    * and oracle-comparable.
    */
  def qualityModelScore(features: DataFrame,
                        weights: Seq[(String, Double)],
                        bias: Double): DataFrame = {
    val logit = weights.foldLeft(lit(bias): Column) {
      case (acc, (c, w)) => acc + col(c) * lit(w)
    }
    features.withColumn("q_score",
      lit(1.0) / (lit(1.0) + exp(-logit)))
  }

  /** Hashed term-frequency features (HashingTF shape): tokens bucketed by
    * stable hash mod `numBuckets`, one (doc, bucket, tf) row per non-zero
    * bucket — the sparse representation that feeds quality classifiers.
    * One explode + one aggregation; bucket collisions are the standard
    * hashing-trick tradeoff and deterministic across engines.
    */
  def hashedTf(docs: DataFrame, numBuckets: Int = 64): DataFrame =
    graft.engine.Spread(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"),
        (stableHash60(col("w")) % numBuckets).as("bucket"))
      .agg(count(lit(1)).as("tf"))

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): over the POSITIONAL k-gram hash sequence, keep the
    * minimum of every sliding window of `w` consecutive hashes, then
    * deduplicate. The selection guarantee: any substring of length
    * >= w + k - 1 shared by two documents yields at least one shared
    * fingerprint, while the index shrinks ~w-fold versus full shingling.
    * Local (position-independent) selection — robust to edits elsewhere
    * in the document, unlike global min-sampling.
    *
    * Sequences shorter than `w` collapse to their single minimum (empty
    * input stays empty). Narrow per-row map over the codegen'd
    * RollingShingleHashes kernel.
    */
  def winnow(hashes: Column, w: Int): Column =
    when(size(hashes) === 0, hashes)
      .otherwise(when(size(hashes) < w, array(array_min(hashes)))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(hashes) - (w - 1)),
          i => array_min(slice(hashes, i, lit(w)))))))

  /** Rolling-hash document fingerprint (winnowing-lite): the minimum and
    * maximum shingle hash plus the distinct-shingle count identify a
    * document up to shingle-set equality — O(1) state per doc.
    */
  def fingerprintColumns(text: Column, k: Int = 3): Seq[(String, Column)] = {
    val hs = shingleHashes(text, k)
    Seq(
      "fp_min" -> array_min(hs),
      "fp_max" -> array_max(hs),
      "fp_n" -> size(hs).cast("long"))
  }

  /** Exploded posting list: one (doc_id, h) row per DISTINCT shingle hash.
    *
    * This is the scale-path representation for every shingle consumer
    * (jaccard / minhash / fingerprint): the shingle array is computed ONCE
    * per document at the explode, and everything downstream is codegen'd
    * hash-aggregation. Keeping the array as a column instead would let
    * Catalyst's project-collapsing inline the (interpreted,
    * higher-order-function) array expression into every consumer — e.g.
    * 32 minhash permutations = 32 full recomputations per row, measured
    * ~20x slower at sf0.1.
    */
  def shinglePosts(docs: DataFrame, k: Int = 3,
                   hash: Column => Column = null): DataFrame =
    graft.engine.Spread(docs).select(col("doc_id"),
      explode(shingleHashes(col("text"), k, hash)).as("h"))

  /** Fingerprints via one codegen'd aggregation over the posting list
    * (same values as `fingerprintColumns`, built for bulk scoring).
    */
  def fingerprints(docs: DataFrame, k: Int = 3): DataFrame =
    shinglePosts(docs, k)
      .groupBy(col("doc_id"))
      .agg(
        min(col("h")).as("fp_min"),
        max(col("h")).as("fp_max"),
        count(lit(1)).as("fp_n"))

  /** Intra-document repetition features — the Gopher-style quality rule:
    * a high fraction of duplicate word n-grams inside one document marks
    * degenerate/boilerplate text. For each k in `ks`, emits the n-gram
    * count (`n{k}`), distinct count (`d{k}`), and duplicate fraction
    * (`dup{k}` = (n-d)/n, 0 for docs shorter than k tokens). Raw shingle
    * strings (not hashes): duplicates must count multiplicity. Pure
    * narrow map — zero shuffles at any corpus size.
    */
  def repetitionFeatures(docs: DataFrame,
                         ks: Seq[Int] = Seq(2, 3)): DataFrame = {
    // one-element explode = a Generate node: project-collapsing does not
    // cross it, so each k's shingle array is BUILT once per row and the
    // count columns below reference the materialized attribute — without
    // the generator, inlining would re-run the O(len) shingle
    // construction ~5x per row per k (the documented Catalyst pitfall)
    val shingleStruct = struct(ks.map(k =>
      shingles(col("text"), k).as(s"sh$k")): _*)
    val cols = ks.flatMap { k =>
      val sh = col(s"m.sh$k")
      val n = size(sh).cast("long")
      val d = size(array_distinct(sh)).cast("long")
      Seq(n.as(s"n$k"), d.as(s"d$k"),
        ((n - d).cast("double") / greatest(n, lit(1L))).as(s"dup$k"))
    }
    graft.engine.Spread(docs)
      .select(col("doc_id"), explode(array(shingleStruct)).as("m"))
      .select(col("doc_id") +: cols: _*)
  }

  /** Adjacent-token bigrams as a column expression (zip_with pairing —
    * narrow, no position self-join). Shared by the LM-stats query and
    * `bigramCoverage`.
    */
  def bigramsOf(text: Column): Column =
    // tight expression replaces the interpreted two-slice zip_with
    // (plans.AdjacentPairs — same rows, same order)
    graft.plans.AdjacentPairs.concatenated(tokens(text))

  /** LM-table rows under which the scoring join-back ships the LM as a
    * broadcast instead of exchanging the corpus bigram stream (shared
    * by [[bigramCoverage]], [[lmPerplexity]], [[knPerplexity]]). The
    * gate is one bounded collect of the checkpointed LM (DriverTier),
    * whose rows feed the broadcast; 4M rows of (a, b, count) is ~100-200
    * MB framed — inside every broadcast budget this engine already uses
    * (cf. Dedup.BroadcastVerifyBytes).
    * Past the gate the scoring join keeps the co-partitioned exchange
    * shape — the 100 TB regime, where the LM is Zipf-truncatable but
    * never broadcastable.
    */
  private[operators] val BroadcastLmRows = 4000000L

  private val LmTierLabel = "graft.lm: driver tier collect"

  /** Bigram language-model coverage — a fluency/quality proxy that stays
    * integer-exact: build the corpus bigram table (the LM), then score
    * each document by the fraction of its bigram OCCURRENCES whose
    * corpus frequency reaches `minCount`. Degenerate text (rare/garbled
    * token sequences) scores low; formulaic text scores high — the
    * coarse integer tier of LM filtering. The real interpolated-LM
    * cross-entropy (oracle-exact via per-term micro-nat quantization)
    * is [[lmPerplexity]].
    *
    * Shape: the LM is one aggregation of a narrow bigram stream,
    * checkpointed; the join-back probes it as a broadcast under
    * [[BroadcastLmRows]], else through one exchange of the stream. At
    * 100 TB the LM table is Zipf-truncatable (drop the count-1 tail).
    */
  def bigramCoverage(docs: DataFrame, minCount: Long = 3): DataFrame =
    bigramCoverage(docs, minCount, BroadcastLmRows)

  /** [[bigramCoverage]] with the LM gate as a parameter (law tests). */
  private[operators] def bigramCoverage(docs: DataFrame, minCount: Long,
                                        lmRows: Long): DataFrame = {
    // the bigram stream is built NARROW (tokenize off the scan); the LM
    // aggregation's exchange then carries map-side-combined (bigram,
    // partial count) rows — strictly fewer bytes than the raw stream a
    // pinned byKey barrier used to push through the exchange. Under the
    // gate the join-back probes the collected LM map-side off a second
    // narrow tokenize pass (measured cheaper than an exchange + two
    // sorts); past it the probe side pays one exchange.
    def bg = graft.engine.Spread(docs).select(col("doc_id"),
      explode(bigramsOf(col("text"))).as("bigram"))
    val lm = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val scored = DriverTier.collect(lm, lmRows, LmTierLabel) match {
      case Some(rows) => bg.join(broadcast(
        RelationBridge.localDf(docs.sparkSession, lm.schema, rows)),
        Seq("bigram"))
      case None => graft.engine.Spread.byKey(bg, col("bigram"))
        .join(lm, Seq("bigram"))
    }
    scored
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c") >= minCount, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_bigrams"), col("n_common"),
        (col("n_common").cast("double") /
          greatest(col("n_bigrams"), lit(1L))).as("coverage"))
  }

  /** Interpolated bigram-LM cross-entropy — the real perplexity filter
    * (the CCNet/KenLM curation step) that `bigramCoverage`'s Scaladoc
    * once declared "not oracle-comparable". It is, with the micro-nat
    * discipline: each bigram's Jelinek-Mercer probability
    *   p(b|a) = 0.9 * c(ab)/c(a) + 0.1 * c(b)/T
    * is ONE fixed-order IEEE expression over exact integer counts, its
    * log is quantized to integer micro-nats (`floor(1e6 * ln p)`)
    * BEFORE the per-doc fold, and the fold is an order-free integer
    * sum — so cross-entropy is engine-identical bit-for-bit. (c(a) is
    * the plain unigram count, not the history count — documented
    * simplification; p stays < 1 because sum_b c(ab) <= c(a).)
    *
    * Shape: the `bigramCoverage` layout; the vocab table and the total
    * join as broadcasts. At 100 TB the vocab broadcast degrades to a
    * shuffle join on the token key (Zipf-skewed — AQE skew-split
    * applies) and the LM table Zipf-truncates like any n-gram LM.
    */
  def lmPerplexity(docs: DataFrame,
                   scriptAware: Boolean = false): DataFrame =
    lmPerplexity(docs, scriptAware, BroadcastLmRows)

  /** [[lmPerplexity]] with the LM gate as a parameter (law tests). */
  private[operators] def lmPerplexity(docs: DataFrame, scriptAware: Boolean,
                                      lmRows: Long): DataFrame = {
    val spark = docs.sparkSession
    val ws = tokens(col("text"), scriptAware)
    // narrow bigram stream + broadcast-or-exchange LM join-back — the
    // bigramCoverage shape (see its comment for the measured basis)
    def pairs = graft.engine.Spread(docs).select(col("doc_id"),
        explode(graft.plans.AdjacentPairs(ws)).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val uniPlan = docs.select(
      explode(tokens(col("text"), scriptAware)).as("tokw"))
      .groupBy(col("tokw")).agg(count(lit(1)).as("cu"))
    val lm = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .localCheckpoint(true)
    // Broadcast regime: a broadcast build pulls the vocab-bounded LM and
    // unigram tables to the driver anyway; collecting each ONCE (the
    // LM's collect is the gate) and deriving the total and both probes
    // on the driver as exact integer sums removes the rescan and total
    // jobs. Schemas come from the distributed expressions verbatim;
    // TextAnalysisSpec pins equal rows. Past the gate it is unchanged.
    val (scored, uniA, uniB, tot) = DriverTier.collect(lm, lmRows,
        LmTierLabel) match {
      case Some(rows) =>
        val uniRows = RelationBridge.collectInternal(uniPlan)
        val t = uniRows.iterator.map(_.getLong(1)).sum
        val uniL = RelationBridge.localDf(spark, uniPlan.schema, uniRows)
        val totL = RelationBridge.localDf(spark,
          uniPlan.agg(sum(col("cu")).as("t")).schema,
          Seq(new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](
              if (uniRows.isEmpty) null else t))))
        val lmL = RelationBridge.localDf(spark, lm.schema, rows)
        (pairs.join(broadcast(lmL), Seq("a", "b")),
          uniL.select(col("tokw").as("a"), col("cu").as("ca")),
          uniL.select(col("tokw").as("b"), col("cu").as("cb")),
          totL)
      case None =>
        val uni = uniPlan.localCheckpoint(true) // feeds total + probes
        (graft.engine.Spread.byKey(pairs, col("a"), col("b"))
          .join(lm, Seq("a", "b")),
          uni.select(col("tokw").as("a"), col("cu").as("ca")),
          uni.select(col("tokw").as("b"), col("cu").as("cb")),
          uni.agg(sum(col("cu")).as("t")))
    }
    scored
      .join(broadcast(uniA), Seq("a"))
      .join(broadcast(uniB), Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("s", floor(lit(1e6) * log(
        lit(0.9) * (col("cab").cast("double") / col("ca").cast("double")) +
          lit(0.1) * (col("cb").cast("double") / col("t").cast("double"))))
        .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("s_micro"))
      .withColumn("xent",
        floor((-col("s_micro").cast("double") / lit(1e6) /
          col("n_bigrams")) * lit(1e6) + lit(0.5)) / lit(1e6))
  }

  /** Interpolated Kneser–Ney bigram cross-entropy — the production
    * n-gram smoothing (Kneser & Ney 1995; Chen & Goodman 1998 empirical
    * study), completing the LM family next to [[lmPerplexity]]'s
    * Jelinek–Mercer:
    *
    *   p_KN(b|a) = (c(ab) − D)/c(a·) + D·N1+(a·)/c(a·) · N1+(·b)/N1+(··)
    *
    * with D = 0.75, c(a·) the TRUE history count (Σ_b c(ab) — not the
    * unigram simplification JM uses), N1+(a·)/N1+(·b) the distinct
    * right/left continuation type counts, and N1+(··) the total bigram
    * type count. The continuation distribution is KN's point: a word's
    * backoff mass comes from how many contexts it FOLLOWS, not how
    * often it occurs ("San Francisco" inflates c(Francisco) but not
    * N1+(·Francisco)).
    *
    * Oracle discipline as [[lmPerplexity]]: p is ONE fixed-order IEEE
    * expression over exact integer counts (scored bigrams are observed,
    * so c(ab) ≥ 1 > D and p ∈ (0,1)), quantized to integer micro-nats
    * before the order-free per-doc integer fold.
    *
    * Shape: the `bigramCoverage` layout; the checkpointed LM feeds all
    * three summaries (history counts + right-types, left-types, total
    * types), which join as broadcasts. Same Zipf notes as JM.
    */
  def knPerplexity(docs: DataFrame,
                   scriptAware: Boolean = false): DataFrame =
    knPerplexity(docs, scriptAware, BroadcastLmRows)

  /** [[knPerplexity]] with the LM gate as a parameter (law tests). */
  private[operators] def knPerplexity(docs: DataFrame, scriptAware: Boolean,
                                      lmRows: Long): DataFrame = {
    val ws = tokens(col("text"), scriptAware)
    // narrow bigram stream + broadcast-or-exchange LM join-back — the
    // bigramCoverage shape (see its comment for the measured basis)
    def pairs = graft.engine.Spread(docs).select(col("doc_id"),
        explode(graft.plans.AdjacentPairs(ws)).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val spark = docs.sparkSession
    val lm = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cab"))
      .localCheckpoint(true) // feeds all three LM summaries
    def histOf(l: DataFrame) = l.groupBy(col("a"))
      .agg(sum(col("cab")).as("ca_dot"), count(lit(1)).as("n1p_a"))
    def contOf(l: DataFrame) = l.groupBy(col("b"))
      .agg(count(lit(1)).as("n1p_b"))
    def typesOf(l: DataFrame) = l.agg(count(lit(1)).as("n_types"))
    // Broadcast regime, as lmPerplexity: the LM's bounded collect (the
    // gate) feeds the join side AND all three summaries as driver-side
    // exact integer folds, so no summary rescans the checkpoint.
    val (scored, hist, cont, types) = DriverTier.collect(lm, lmRows,
        LmTierLabel) match {
      case Some(rows) =>
        import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
        import org.apache.spark.unsafe.types.UTF8String
        val histM = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
        val contM = new java.util.LinkedHashMap[UTF8String, Long]()
        rows.foreach { r =>
          val acc = histM.computeIfAbsent(r.getUTF8String(0),
            _ => Array(0L, 0L))
          acc(0) += r.getLong(2); acc(1) += 1L
          contM.merge(r.getUTF8String(1), 1L, (x, y) => x + y)
        }
        import scala.jdk.CollectionConverters._
        val histL = RelationBridge.localDf(spark, histOf(lm).schema,
          histM.entrySet.asScala.toSeq.map(e =>
            new GenericInternalRow(Array[Any](
              e.getKey, e.getValue()(0), e.getValue()(1)))))
        val contL = RelationBridge.localDf(spark, contOf(lm).schema,
          contM.entrySet.asScala.toSeq.map(e =>
            new GenericInternalRow(Array[Any](
              e.getKey, e.getValue.longValue))))
        val typesL = RelationBridge.localDf(spark, typesOf(lm).schema,
          Seq(new GenericInternalRow(Array[Any](rows.length.toLong))))
        val lmL = RelationBridge.localDf(spark, lm.schema, rows)
        (pairs.join(broadcast(lmL), Seq("a", "b")), histL, contL, typesL)
      case None =>
        (graft.engine.Spread.byKey(pairs, col("a"), col("b"))
          .join(lm, Seq("a", "b")), histOf(lm), contOf(lm), typesOf(lm))
    }
    scored
      .join(broadcast(hist), Seq("a"))
      .join(broadcast(cont), Seq("b"))
      .crossJoin(broadcast(types))
      .withColumn("s", floor(lit(1e6) * log(
        (col("cab").cast("double") - lit(0.75)) /
          col("ca_dot").cast("double") +
          lit(0.75) * col("n1p_a").cast("double") /
            col("ca_dot").cast("double") *
            (col("n1p_b").cast("double") / col("n_types").cast("double"))))
        .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("s_micro"))
      .withColumn("xent",
        floor((-col("s_micro").cast("double") / lit(1e6) /
          col("n_bigrams")) * lit(1e6) + lit(0.5)) / lit(1e6))
  }

  /** PMI collocations — pointwise mutual information over adjacent
    * word pairs, the classic multi-word-expression detector (Church &
    * Hanks, "Word Association Norms, Mutual Information, and
    * Lexicography", 1990). PMI(x,y) = ln(p(xy) / (p(x) p(y))) computed
    * as ONE ln over an exact integer ratio:
    *   c_xy * n_uni^2 / (n_bg * c_x * c_y)
    * so the double (and hence the ranking) is engine-identical — no
    * float accumulation anywhere. n_bg = n_uni - n_docs (every doc with
    * t tokens yields t-1 adjacent bigrams; corpus texts are non-empty),
    * saving a separate bigram-total pass.
    *
    * Shape: two token passes (unigram counts, bigram counts), two joins
    * of the bigram table against the vocab table, a broadcast of the
    * single-row totals, and a distributed top-k (orderBy+limit plans as
    * TakeOrderedAndProject — no global sort). At 100 TB the vocab join
    * is the standard Zipf-skew risk; `minCount` prunes the bigram side
    * before both joins.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5,
                      topN: Int = 50): DataFrame = {
    val spread = graft.engine.Spread(docs)
    val uni = spread.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = spread.agg(
      sum(size(tokens(col("text")))).cast("long").as("n_uni"),
      count(lit(1)).as("n_docs"))
      .select(col("n_uni"), (col("n_uni") - col("n_docs")).as("n_bg"))
    val bg = spread.select(explode(bigramsOf(col("text"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    bg.join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(totals))
      // ratio factored into doubles BEFORE multiplying: the integer
      // product c_xy*n_uni^2 overflows Long once the corpus passes ~3e9
      // tokens, far below the design target. Counts are exact in double
      // up to 2^53 (~9e15 tokens) and the expression tree is identical
      // on both engines, so every intermediate is bit-identical and the
      // micro-nat floor stays engine-stable.
      .withColumn("pmi", floor(log(
        col("c_xy").cast("double")
          * (col("n_uni").cast("double") / col("n_bg").cast("double"))
          * (col("n_uni").cast("double") / col("c_x").cast("double"))
          / col("c_y").cast("double"))
        * 1e6 + 0.5) / 1e6)
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Per-document token-distribution (Shannon) entropy — the diversity/
    * quality signal that separates natural text from degenerate
    * repetition. H = ln(n) - (Σ c_i ln c_i) / n over per-doc token
    * counts c_i; each ln-term is quantized to integer micro-nats
    * (floor(c ln c * 1e6)) BEFORE the sum, so the aggregation is exact
    * integer math and the result is engine-identical regardless of
    * partition order.
    *
    * Shape: two shuffles — (doc, token) count, then per-doc fold. Pure
    * streaming aggregation, no joins; at 100 TB this is the cheapest
    * quality column after plain length stats.
    */
  def tokenEntropy(docs: DataFrame,
                   scriptAware: Boolean = false): DataFrame =
    graft.engine.Spread(docs)
      .select(col("doc_id"),
        explode(tokens(col("text"), scriptAware)).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(floor(col("c") * log(col("c")) * 1e6).cast("long")).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        (floor((log(col("n_tokens")) -
          col("s") / 1e6 / col("n_tokens")) * 1e6 + 0.5) / 1e6)
          .as("entropy"))

  /** BM25 relevance scores for a fixed term set — the retrieval-grade
    * ranking function (quality filtering / targeted corpus selection at
    * training-data scale). One posting-list pass computes per-(doc, term)
    * term frequencies; document frequencies and corpus stats (N, total
    * tokens) are tiny aggregates broadcast back — the corpus text is
    * never shuffled, only (doc_id, matched-term, tf) rows.
    *
    * Returns (doc_id, n_hit, score) for every document matching at least
    * one term. Cross-engine determinism: per-term contributions are
    * combined with a fixed-order pivot (one `max(when)` column per term,
    * then a literal left-to-right sum) — never a float `sum()`
    * aggregation, whose partition-dependent order would drift; `k1+1`
    * etc. appear as the same literals on both engines (computing `1.2+1`
    * does not equal the literal `2.2` in IEEE doubles).
    */
  def bm25(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val tok = graft.engine.Spread(docs).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"),
      explode(tokens(col("text"))).as("w"))
    val tf = tok.filter(col("w").isin(terms: _*))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("total_tok"))
    val avgdl = col("total_tok").cast("double") / col("n_docs")
    // Robertson-Sparck Jones idf with the +1 floor (Lucene shape):
    // ln(1 + (N - df + 0.5)/(df + 0.5)) — always positive
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * ((col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
    val perTerm = tf.join(dfreq, Seq("w")).crossJoin(broadcast(stats))
      .withColumn("c", contrib)
    val pivotAggs = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("w") === t, col("c"))).as(s"c_$i")
    }
    val byDoc = perTerm.groupBy(col("doc_id"))
      .agg(pivotAggs.head, pivotAggs.tail: _*)
    val nHit = terms.indices
      .map(i => when(col(s"c_$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    val score = terms.indices
      .map(i => coalesce(col(s"c_$i"), lit(0.0)))
      .reduce(_ + _)
    byDoc.select(col("doc_id"), nHit.as("n_hit"), score.as("score"))
  }

  /** Diversified lexical retrieval — the MMR walk of
    * [[Similarity.mmrTopK]] instantiated on BM25 relevance and
    * shingle-overlap similarity, so BOTH retrieval modalities (vector
    * and lexical) have a diversity re-ranker. A duplicate-heavy corpus
    * returns k near-copies of the best match under plain BM25; the
    * penalty term λ·rel − (1−λ)·maxOverlap·scale pushes rank 2+ toward
    * documents that share fewer 3-gram shingles with what's already
    * selected.
    *
    * Determinism end to end: rel is the BM25 double quantized to
    * micro (the fixed-order per-term pivot makes the double itself
    * engine-exact), overlap is an integer sorted-set intersection of
    * distinct shingle hashes, λ an exact fraction — the oracle unrolls
    * every greedy step.
    *
    * Scale shape: the pool stage is [[bm25]] (its own shapes) + ONE
    * distributed top-pool (TakeOrderedAndProject); shingle sets attach
    * to the ≤ pool survivors via a broadcast join (arrays never ride a
    * shuffle — the minhashCalibration rule); the greedy walk is
    * pool²·k integer ops in one task. Returns
    * (rnk, doc_id, rel_micro, mmr).
    */
  def bm25Diversified(docs: DataFrame, terms: Seq[String], k: Int,
                      pool: Int, lamNum: Long = 1, lamDen: Long = 2,
                      ovlScaleMicro: Long = 200000L): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool >= k >= 1, got k=$k pool=$pool")
    require(lamDen > 0 && lamNum >= 0 && lamNum <= lamDen,
      s"lambda $lamNum/$lamDen not in [0,1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val pooled = bm25(docs, terms)
      .withColumn("rel_micro",
        floor(col("score") * 1e6 + lit(0.5)).cast("long"))
      .orderBy(col("rel_micro").desc, col("doc_id"))
      .limit(pool)
    // join FIRST, shingle after: the broadcast semi-filter admits only
    // the <= pool survivors, so the shingle hashing never runs over the
    // whole corpus (written the other way round, the expensive arrays
    // are computed for every doc and then discarded by the join)
    val withSh = docs.select(col("doc_id"), col("text"))
      .join(broadcast(pooled.select(col("doc_id"), col("rel_micro"))),
        Seq("doc_id"))
      .select(col("doc_id"),
        array_sort(shingleHashes(col("text"))).as("sh"),
        col("rel_micro"))
      .as[(Long, Array[Long], Long)]
    def ovl(a: Array[Long], b: Array[Long]): Long = {
      var i = 0; var j = 0; var c = 0L
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      c
    }
    withSh.groupByKey(_ => true)
      .flatMapGroups { (_, it) =>
        val cands = it.toArray
        val picked = new Array[Boolean](cands.length)
        val selected =
          scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        (1 to math.min(k, cands.length)).iterator.map { rnk =>
          var bi = -1; var bm = Long.MinValue; var bid = Long.MaxValue
          var i = 0
          while (i < cands.length) {
            if (!picked(i)) {
              val (id, sh, rel) = cands(i)
              var ms = 0L
              selected.foreach { s =>
                val o = ovl(sh, s); if (o > ms) ms = o
              }
              val mmr = lamNum * rel - (lamDen - lamNum) * ms * ovlScaleMicro
              if (mmr > bm || (mmr == bm && id < bid)) {
                bi = i; bm = mmr; bid = id
              }
            }
            i += 1
          }
          picked(bi) = true
          selected += cands(bi)._2
          (rnk, cands(bi)._1, cands(bi)._3, bm)
        }
      }
      .toDF("rnk", "doc_id", "rel_micro", "mmr")
  }

  /** Per-language corpus statistics (one shuffle: the groupBy). */
  def languageStats(docs: DataFrame): DataFrame =
    graft.engine.Spread(docs)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast("double") / count(lit(1)))
          .as("avg_tokens_per_doc"))
      .orderBy(col("lang"))

  /** Count-Min sketch word-frequency estimation (Cormode & Muthukrishnan
    * 2005) — the mergeable frequency-sketch sibling of the engine's
    * HLL (approx distinct) and KLL-style (approx percentile) sketches.
    * The depth x width counter table is mergeable BY ADDITION, which is
    * what makes it the 100 TB heavy-hitter tool: each partition (or
    * each streaming micro-batch) folds its own table and tables add.
    *
    * This surface builds the sketch and reads every estimate back next
    * to the true count so the one-sided error law (est >= freq, with
    * overestimates exactly the collided bucket mass) is
    * oracle-checkable: buckets come from the cross-engine stableHash60
    * of word#row, so the DuckDB twin replays the sketch arithmetic
    * bucket for bucket.
    *
    * Scale shape: ONE corpus pass (the word-frequency aggregation,
    * vocab-bounded output — [[Bpe.wordFreq]]); the sketch build and
    * readback explode depth rows per DISTINCT WORD, never per token.
    */
  def cmsWordCounts(docs: DataFrame, depth: Int = 4, width: Int = 64,
                    scriptAware: Boolean = false): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad sketch dims $depth x $width")
    val wf = Bpe.wordFreq(docs, scriptAware)
    val rows = wf.select(col("word"), col("freq"),
        explode(array((0 until depth).map(r =>
          struct(lit(r).as("r"),
            pmod(stableHash60(concat(col("word"), lit("#" + r))),
              lit(width.toLong)).as("b"))): _*)).as("rb"))
      .select(col("word"), col("freq"), col("rb.r").as("r"),
        col("rb.b").as("b"))
      .localCheckpoint(true) // feeds both the bucket sums and the join
    val buckets = rows.groupBy(col("r"), col("b"))
      .agg(sum(col("freq")).as("bucket_cnt"))
    rows.join(buckets, Seq("r", "b"))
      .groupBy(col("word"))
      .agg(max(col("freq")).as("freq"), min(col("bucket_cnt")).as("est"))
  }

  /** Exact heavy hitters at bounded memory — the two-pass Misra–Gries
    * device, the 100 TB shape for "which tokens dominate the corpus":
    *
    *  - **Pass 1** runs an MG(k) summary per partition over the raw
    *    token stream (a narrow map — NOTHING corpus-sized shuffles;
    *    each partition emits ≤ k candidate rows). The MG guarantee
    *    composes across partitions: if a token's global freq > N/k,
    *    then in at least one partition its local freq exceeds that
    *    partition's N_p/k (else summing the ≤ bounds gives freq ≤
    *    N/k), so it appears in that partition's summary — the candidate
    *    union is a SUPERSET of the true heavy hitters regardless of
    *    partitioning or order.
    *  - **Pass 2** exact-counts ONLY the candidate set (broadcast
    *    semi-join, one k·partitions-bounded aggregation) and keeps
    *    freq·k > N strictly.
    *
    * Output is therefore EXACT and deterministic — the sketchiness of
    * pass 1 affects cost, never the answer (the law HeavyHittersSpec
    * pins under arbitrary repartitioning). Returns (tok, cnt), the
    * tokens with cnt · k > total token count.
    */
  def heavyHitters(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k=$k: need k >= 2")
    // pass 1 emits each partition's <= k MG candidates (tok, count) AND
    // its token count (null, n) in the same scan, so the corpus is read
    // exactly TWICE overall; the checkpointed summary is
    // (k+1)·partitions rows — driver-negligible at any scale
    val summary = mgSummary(docs, k).localCheckpoint(true)
    val candidates = summary.where(col("tok").isNotNull)
      .select(col("tok")).distinct()
    val total = summary.where(col("tok").isNull)
      .agg(sum(col("n")).as("n_total"))
    docs.select(explode(tokens(col("text"))).as("tok"))
      .join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt") * k > col("n_total"))
      .select(col("tok"), col("cnt"))
  }

  /** Pass 1 of [[heavyHitters]] as a reusable frame: per input
    * partition, ≤ k rows (candidate, MG count) plus ONE (null, n)
    * token-count row — the mergeable-summary shape the streaming twin
    * accumulates across batches.
    */
  def mgSummary(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(tokens(col("text"))).as("tok"))
      .as[String].mapPartitions { iter =>
        val counts = new scala.collection.mutable.HashMap[String, Long]()
        var n = 0L
        iter.foreach { t =>
          n += 1
          counts.get(t) match {
            case Some(c) => counts.update(t, c + 1)
            case None if counts.size < k => counts.update(t, 1L)
            case None =>
              // decrement-all step; drop zeros (classic MG)
              val dead = List.newBuilder[String]
              counts.mapValuesInPlace((_, c) => c - 1)
              counts.foreach { case (key, c) => if (c <= 0) dead += key }
              dead.result().foreach(counts.remove)
          }
        }
        counts.iterator.map { case (t, c) => (Option(t), c) } ++
          Iterator((Option.empty[String], n))
      }.toDF("tok", "n")
  }

  /** Misra–Gries summary merge at capacity k (Agarwal et al.,
    * "Mergeable Summaries"): pointwise count addition, then subtract
    * the (k+1)-th largest count from everything and drop non-positives.
    * Error bounds ADD across merges, so the merged summary keeps the
    * global guarantee: any token with total freq > N/k survives every
    * merge tree — order and shape immaterial.
    */
  def mgMerge(a: Map[String, Long], b: Map[String, Long],
              k: Int): Map[String, Long] = {
    val combined = (a.keySet ++ b.keySet).iterator
      .map(t => t -> (a.getOrElse(t, 0L) + b.getOrElse(t, 0L))).toMap
    if (combined.size <= k) combined
    else {
      val d = combined.values.toSeq.sorted(Ordering[Long].reverse)(k)
      combined.collect {
        case (t, c) if c - d > 0 => t -> (c - d)
      }
    }
  }

  /** Pass 2 with an externally-accumulated candidate set and exact
    * total (the streaming finalize): exact-count only `candidates`,
    * keep freq·k > totalN. When `candidates` is a superset of the true
    * heavy hitters — which the MG merge guarantee provides — the
    * output EQUALS batch [[heavyHitters]] over the same corpus.
    */
  def heavyHittersExact(docs: DataFrame, candidates: Seq[String],
                        totalN: Long, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(tokens(col("text"))).as("tok"))
      .join(broadcast(candidates.toDF("tok")), Seq("tok"), "left_semi")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * k > totalN)
      .select(col("tok"), col("cnt"))
  }

  /** Compression-ratio quality signal — the classic "too compressible"
    * boilerplate screen of the C4/Gopher/RefinedWeb pipeline family
    * (template pages, repeated navigation chrome, and spam collapse
    * under a dictionary compressor; prose doesn't). The signal is the
    * deterministic greedy-LZ77 match coverage of
    * [[graft.plans.LzMatchedChars]] (no library compressor — the rule
    * is exactly specified, so the DuckDB oracle replays every match),
    * quantized to ratio_micro = 1e6 * matched div n_chars.
    *
    * Scale shape: ONE narrow codegen'd projection — no shuffle, no
    * joins; per-row work bounded by doc length (hash-chain parse).
    * Returns (doc_id, n_chars, matched, ratio_micro).
    */
  /** The quantized LZ coverage ratio of ONE text column — the single
    * definition [[compressionRatio]] and the `comp_ratio_gate` pipeline
    * stage both apply (PipelineSpec pins them equal; a second inline
    * copy of the rule could drift).
    */
  def ratioMicro(text: Column, minLen: Int = 4, maxLen: Int = 32): Column =
    when(length(text) === 0, 0L)
      .otherwise(call_function("div",
        lit(1000000L) * graft.plans.LzMatchedChars(text, minLen, maxLen),
        length(text).cast("long")))

  def compressionRatio(docs: DataFrame, minLen: Int = 4,
                       maxLen: Int = 32): DataFrame =
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        graft.plans.LzMatchedChars(col("text"), minLen, maxLen)
          .as("matched"))
      .withColumn("ratio_micro",
        when(col("n_chars") === 0L, 0L)
          .otherwise(call_function("div",
            lit(1000000L) * col("matched"), col("n_chars"))))

  /** Per-language compression-ratio gate (the q_ppl_filter shape with
    * the LZ coverage as the score): keep the LEAST-compressible
    * `num/den` of each language — high coverage = boilerplate out.
    * Group-quantile selection via the radix path
    * ([[Sampling.topFractionByGroup]]), corpus-linear.
    */
  def compressionFilter(docs: DataFrame, num: Int = 7, den: Int = 10,
                        minLen: Int = 4, maxLen: Int = 32): DataFrame = {
    val scored = compressionRatio(docs, minLen, maxLen)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("ratio_micro"))
      // 20-byte rows feed both the threshold scan and the keep join
      .localCheckpoint(true)
    Sampling.topFractionByGroup(scored, col("lang"), col("ratio_micro"),
      col("doc_id"), num = num, den = den,
      windowMaxGroup = 0L) // pin radix: the regime the oracle gates
  }
}
