package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RelationBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType}
import graft.engine.DriverTier
import graft.engine.DriverTier.labeled
import graft.functions.StableHash._
import graft.operators.TextAnalysis.shingleHashes

/** Deduplication operators for LLM training-data pipelines, each designed
  * around its shuffle shape at 100 TB:
  *
  *   - exact: one hash-partitioned groupBy on the dedup key (map-side
  *     partial aggregation halves the shuffle).
  *   - n-gram Jaccard: inverted-index self-join on shingle hashes — the
  *     shuffle is by shingle, so common-shingle skew is the risk; callers
  *     cap posting-list length (`maxPostings`) the way web-dedup pipelines
  *     drop ubiquitous shingles.
  *   - MinHash+LSH: constant-size signatures (k longs/doc) replace the
  *     full shingle index; candidate generation shuffles only
  *     (band, bandHash) keys. The classic 100-TB near-dup path.
  *   - SimHash: one 64-bit fingerprint/doc; banding into 4×15-bit keys is
  *     EXACT for hamming<=3 by pigeonhole — no recall loss, tiny shuffle.
  *   - embedding cosine: blocked all-pairs (here by `label`; in prod by
  *     coarse quantizer cell) with exact integer-quantized verification.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per key. One shuffle. */
  def exact(df: DataFrame, key: String, id: String): DataFrame =
    df.groupBy(col(key))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Snapshot (recrawl) dedup: across repeated crawls of the same
    * corpus, keep only the FIRST fetch of each distinct content
    * version per url — an unchanged page recrawled in later dumps is
    * collapsed onto its earliest copy, while a changed page keeps one
    * row per version. This is the cross-dump dedup a CommonCrawl-style
    * pipeline runs before any content-level dedup: at 100 TB most
    * bytes in a new dump are unchanged recrawls.
    *
    * One aggregation keyed on (url, md5(content)): the content is
    * hashed MAP-SIDE, so the single shuffle carries (url, 32-char
    * hash, snap, fetch_id) — never document bodies — and min/count
    * partially aggregate before the exchange. No per-url window sort:
    * the window-lag formulation would sort every fetch of the hottest
    * url in one task; the group-by form has no hot key because groups
    * are per content VERSION.
    *
    * The kept fetch is the lexicographic min of (snap, fetch_id) —
    * earliest snapshot, ties (two identical fetches inside one dump)
    * broken by fetch id, deterministic under any arrival order.
    */
  def snapshotDedup(crawl: DataFrame, urlCol: Column, snapCol: Column,
                    contentCol: Column, fetchIdCol: Column): DataFrame =
    snapshotVersions(crawl, urlCol, snapCol, contentCol, fetchIdCol)
      .drop("c_hash")

  /** Blocked fuzzy record dedup (entity resolution over STRUCTURED
    * rows — the data-quality dedup an ELT pipeline runs on dimension
    * tables, complementing the document-dedup family): candidate pairs
    * are generated ONLY within a caller-chosen blocking key (standard
    * ER blocking — per-block |b|² work bounded by the key's
    * granularity, never corpus²; pick the key so the hottest block's
    * square fits a task), verified by the codegen'd Levenshtein gate,
    * then clustered through the shared [[connectedComponents]]
    * machinery (driver / contraction / star regimes). Returns
    * (node, component) with min-id canonical labels, like the
    * document CC — records whose name matches nothing are absent
    * (singleton semantics shared with q_dedup_cc).
    */
  def fuzzyRecordClusters(records: DataFrame, idCol: Column,
                          nameCol: Column, blockCol: Column,
                          maxDist: Int): DataFrame = {
    // Spread the PROBE side: the build side broadcasts (record tables
    // are dimension-sized; at corpus scale swap in the banded path),
    // so the DP-filter stage inherits the probe scan's parallelism — a
    // single-row-group record file otherwise runs every in-block
    // Levenshtein in ONE task (measured 1.85 s of q_entity_dedup's
    // 2.5 s at sf0.1).
    val a = graft.engine.Spread(records).select(blockCol.as("blk"),
      idCol.as("d1"), nameCol.as("n1"))
    val b = records.select(blockCol.as("blk"), idCol.as("d2"),
      nameCol.as("n2"))
    // two output-invariant cheap gates before the O(|s|²) DP:
    // (1) a length pre-gate — |len(a)-len(b)| > maxDist already implies
    //     dist > maxDist, and length() is free vs the DP, so most of a
    //     hot block's pairs die before Levenshtein runs;
    // (2) the thresholded 3-arg levenshtein (Spark >= 3.5), which
    //     early-exits the DP band once the running minimum passes the
    //     threshold (returns -1 above it) — O(maxDist·min(|s|)) instead
    //     of O(|a|·|b|) per surviving pair.
    connectedComponents(a.join(b, Seq("blk"))
      .filter(col("d1") < col("d2") &&
        abs(length(col("n1")) - length(col("n2"))) <= maxDist &&
        levenshtein(col("n1"), col("n2"), maxDist) =!= -1))
  }

  /** [[snapshotDedup]] with the content hash kept in the output —
    * the (url, c_hash) pair IS the version identity the incremental
    * twin (`DocStream.snapshotIncremental`) carries across dumps.
    */
  def snapshotVersions(crawl: DataFrame, urlCol: Column, snapCol: Column,
                       contentCol: Column, fetchIdCol: Column): DataFrame =
    crawl.groupBy(urlCol.as("url"), md5(contentCol).as("c_hash"))
      .agg(min(struct(snapCol.as("snap"), fetchIdCol.as("fid"))).as("f"),
        count(lit(1)).as("n_fetches"))
      .select(col("url"), col("c_hash"), col("f.snap").as("first_snap"),
        col("f.fid").as("keep_fetch"), col("n_fetches"))

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join.
    * Returns (d1, d2, inter, n1, n2, jaccard) for jaccard >= tau.
    * `maxPostings` drops shingles shared by more than that many docs
    * (ubiquitous-shingle skew guard; 0 = keep all, exact).
    */
  def jaccardPairs(docs: DataFrame, tau: Double, k: Int = 3,
                   maxPostings: Int = 0): DataFrame =
    jaccardPairsFromSets(
      graft.engine.Spread(docs).select(col("doc_id"),
        shingleHashes(col("text"), k).as("sh")),
      tau, maxPostings, docCount = corpusCount(docs, -1L))

  /** Character n-gram variant: same machinery over char k-gram hashes. */
  def charJaccardPairs(docs: DataFrame, tau: Double, k: Int = 3,
                       maxPostings: Int = 0): DataFrame =
    jaccardPairsFromSets(
      graft.engine.Spread(docs).select(col("doc_id"),
        TextAnalysis.charShingleHashes("text", k).as("sh")),
      tau, maxPostings, docCount = corpusCount(docs, -1L))

  /** FORCE the prefix-filtered path regardless of the runtime stats —
    * same output as [[jaccardPairs]]; exists so the oracle correctness
    * gate exercises the over-budget scale path at gate SF too (the
    * adaptive switch would otherwise only ever run it at 10x scale).
    */
  def jaccardPairsPrefix(docs: DataFrame, tau: Double, k: Int = 3,
                         maxPostings: Int = 0): DataFrame =
    jaccardPairsFromSetsPrefix(
      graft.engine.Spread(docs).select(col("doc_id"),
        shingleHashes(col("text"), k).as("sh")),
      tau, maxPostings)

  /** FORCE the asymmetric containment prefix path (see
    * [[jaccardPairsPrefix]] for why).
    */
  def containmentPairsPrefix(docs: DataFrame, tau: Double, k: Int = 3,
                             maxPostings: Int = 0): DataFrame =
    containmentPairsFromSetsPrefix(
      graft.engine.Spread(docs).select(col("doc_id"),
        shingleHashes(col("text"), k).as("sh")),
      tau, maxPostings)

  /** Prefix-filtered exact Jaccard pairs (AllPairs; Bayardo, Ma &
    * Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007) —
    * identical output to `jaccardPairsFromSets`, asymptotically cheaper
    * candidate generation.
    *
    * The naive path enumerates Σ_h df_h² in-bucket pairs — THE scaling
    * term on shared-vocabulary corpora (hot shingles quadratically
    * dominate). Prefix filtering orders every doc's shingles by global
    * rarity (ascending (df, h)) and enumerates pairs only among each
    * doc's first m - ceil(tau·m) + 1 shingles: if two docs share NO
    * prefix shingle, their intersection fits inside one suffix and is
    * provably < tau·|union| — no qualifying pair is lost. Hot shingles
    * sort to the suffixes, so hot buckets all but vanish from pair
    * generation; candidates are then verified with an exact sorted-set
    * intersection.
    *
    * Singleton shingles (df = 1) are dropped before prefixing — they
    * cannot produce pairs, and the bound stays sound on the reduced
    * sets because inter >= tau·|A| >= tau·|A'|. Original set sizes ride
    * along for the exact jaccard. `maxPostings` keeps its meaning
    * (shingles above the cap are excluded from candidates AND from the
    * verified intersection, exactly like the naive path's bucket drop).
    */
  /** Rarity-sorted reduced per-doc sets + posting frequencies — the
    * shared index every prefix-filtered pair path builds once.
    * `perDoc`: (doc_id, n original size, dh rarity-sorted (df,h), m
    * reduced size, p prefix length = m − ceil(tau·m) + 1, sh2 sorted
    * hashes for verification).
    */
  private final case class PrefixIndex(dfreq: DataFrame, perDoc: DataFrame)

  private def prefixIndex(sets: DataFrame, tau: Double,
                          maxPostings: Int): PrefixIndex =
    prefixIndexMulti(sets, Seq("p" -> tau), maxPostings)

  /** One rarity-sorted index carrying a prefix-length column PER
    * threshold — an ensemble over k metrics pays ONE posting
    * aggregation pass (posts -> dfreq -> perDoc, two shuffles), not k:
    * only the derived p columns differ by tau.
    */
  private def prefixIndexMulti(sets: DataFrame, taus: Seq[(String, Double)],
                               maxPostings: Int): PrefixIndex = {
    // ONE exploded-posting exchange feeds BOTH the df aggregation and
    // the per-doc rebuild join (runtime exchange reuse — the
    // bigramCoverage device): the shingling pass and the posting
    // explode run once, where the un-pinned shape re-shingled the
    // corpus once per consumer stage (measured: the two ~32-task
    // stages owning 14-28 cpu-s each of q_jaccard_prefix's profile
    // were both shingleHashes passes).
    val posts = graft.engine.Spread.byKey(
      sets.select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("h")), col("h"))
    val dfreq0 = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val dfreq = if (maxPostings <= 0) dfreq0.filter(col("df") >= 2)
                else dfreq0.filter(col("df").between(2, maxPostings))
    // per-doc rarity-sorted reduced set; one aggregation feeds the
    // prefix explode AND both verification sides
    val perDoc0 = posts.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(min(col("n")).as("n"),
        sort_array(collect_list(struct(col("df"), col("h")))).as("dh"))
      .withColumn("m", size(col("dh")))
    val withP = taus.foldLeft(perDoc0) { case (df, (pCol, tau)) =>
      df.withColumn(pCol,
        (col("m") - ceil(lit(tau) * col("m")) + 1).cast("int"))
    }
    // the finished index is MATERIALIZED once (localCheckpoint, scoped
    // to this query execution like the kn/ppl `scored` checkpoint and
    // PageRank's edge persist): every candidate arm and both verify
    // broadcasts read it, and without the barrier each of those 4-5
    // consumers re-ran the whole build (join + collect_list + sorts) —
    // the measured ~18 AQE stage-materialization jobs per prefix query
    val perDoc = withP
      .withColumn("sh2",
        sort_array(transform(col("dh"), x => x.getField("h"))))
      .select((Seq("doc_id", "n", "dh", "m") ++ taus.map(_._1) ++
        Seq("sh2")).map(col): _*)
      .localCheckpoint(true)
    PrefixIndex(dfreq, perDoc)
  }

  /** (doc_id, m, h) for each doc's first `pCol` (rarest) reduced
    * shingles.
    */
  private def prefixPostsOf(perDoc: DataFrame,
                            pCol: String = "p"): DataFrame = perDoc
    .select(col("doc_id"), col("m"),
      explode(slice(col("dh"), lit(1), col(pCol))).as("x"))
    .select(col("doc_id"), col("m"), col("x.h").as("h"))

  /** (doc_id, m, h) for every reduced shingle (the full posting list). */
  private def fullPostsOf(perDoc: DataFrame): DataFrame = perDoc
    .select(col("doc_id"), col("m"), explode(col("dh")).as("x"))
    .select(col("doc_id"), col("m"), col("x.h").as("h"))

  /** Exact verification of (d1, d2) candidates → (d1, d2, inter, n1,
    * n2). The join SHAPE decides the wall clock: a shuffle join attaches
    * BOTH ~|set|-element arrays to every candidate row (at sf1: 17.8M
    * candidates x ~2.3 KB x 2 ≈ 80 GB of exchange traffic — a measured
    * 89 s). When the whole reduced doc-set table fits in a broadcast
    * (Σ df x 8 B ≈ 100 MB at sf1), broadcast BOTH sides: the arrays
    * live once per executor, the codegen'd project computes the
    * intersection size and drops them — zero per-pair array shuffle.
    * The two-pointer SortedLongArrayIntersectSize replaces
    * size(array_intersect(...)), which allocates a hash set per row.
    * Cluster path (doc sets too big to broadcast) keeps the shuffle
    * join — candidates are already pruned to ~linear by the prefix.
    */
  /** Reduced-set-table bytes for the broadcast-vs-shuffle verify
    * decision: the hint when given, else one scalar job over the
    * CHECKPOINTED index (Σ_d m_d ≡ Σ_h df_h over the kept postings —
    * each posting counted once either way — so this never re-runs the
    * dfreq build the way an aggregate over `idx.dfreq` would).
    */
  private def resolvedSetBytes(idx: PrefixIndex,
                               verifyBytesHint: Option[Long]): Long =
    verifyBytesHint match {
      case Some(b) => b
      case None =>
        val r = idx.perDoc.agg(sum(col("m")).as("s")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0) * 8L
    }

  /** `reqOverlap(n1, n2)`: a per-row LOWER bound (double) on the
    * intersection size any row surviving the caller's τ filter must
    * reach — rows provably below it early-abandon the merge walk and
    * come back with inter = −1, which every τ > 0 filter downstream
    * drops exactly like the row's true sub-threshold size (see
    * [[graft.plans.SortedLongArrayIntersectSizeAtLeast]]). Callers that
    * keep every verified row pass None and get the exact kernel.
    */
  private def verifyCandidates(idx: PrefixIndex, cands: DataFrame,
                               verifyBytesHint: Option[Long],
                               reqOverlap: Option[(Column, Column) => Column])
      : DataFrame = {
    val m1 = idx.perDoc.select(col("doc_id").as("d1"), col("n").as("n1"),
      col("sh2").as("sh1"))
    val m2 = idx.perDoc.select(col("doc_id").as("d2"), col("n").as("n2"),
      col("sh2").as("shB"))
    val setBytes = resolvedSetBytes(idx, verifyBytesHint)
    // BOTH set tables broadcast here (m1 and m2 are full copies), and
    // setBytes is a 10%-sampled estimate — so budget each copy half the
    // threshold, keeping worst-case hash-relation heap at the same
    // ~3-4x·512MB bound as a single-sided broadcast
    val joined =
      if (setBytes <= BroadcastVerifyBytes / 2)
        cands.join(broadcast(m1), "d1").join(broadcast(m2), "d2")
      else cands.join(m1, "d1").join(m2, "d2")
    val inter = reqOverlap match {
      case Some(req) => graft.plans.SortedLongArrayIntersectSizeAtLeast(
        col("sh1"), col("shB"), req(col("n1"), col("n2")))
      case None =>
        graft.plans.SortedLongArrayIntersectSize(col("sh1"), col("shB"))
    }
    joined
      .withColumn("inter", inter.cast("int"))
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"))
  }

  /** Required-overlap bounds for the τ filters (ε = 1e-6 absorbs the
    * double rounding of the τ products; a boundary pair therefore never
    * abandons, and a false non-abandon only costs walk steps).
    * jaccard ≥ τ ⟺ inter·(1+τ) ≥ τ(n1+n2); containment ≥ τ ⟺
    * inter ≥ τ·min(n1,n2).
    */
  private def jaccardReq(tau: Double)(n1: Column, n2: Column): Column =
    (n1 + n2).cast("double") * lit(tau / (1.0 + tau)) - lit(1e-6)

  private def containReq(tau: Double)(n1: Column, n2: Column): Column =
    least(n1, n2).cast("double") * lit(tau) - lit(1e-6)

  /** Jaccard candidates: prefix-posting SELF-JOIN on h, not a
    * collect_list + higher-order enumeration — the HOF lambdas evaluate
    * interpreted (an allocation per emitted pair), while the equi-join
    * stays inside whole-stage codegen end-to-end. Prefix buckets are
    * small by construction (rarity-sorted; max bucket 46 at sf1) so the
    * join is skew-free; AQE's skew-split backstops adversarial corpora.
    */
  private def jaccardCands(perDoc: DataFrame, pCol: String = "p",
                           broadcastPosts: Boolean = false): DataFrame = {
    val pp = prefixPostsOf(perDoc, pCol)
    val l = pp.select(col("doc_id").as("d1"), col("h"))
    val r = pp.select(col("doc_id").as("d2"), col("h"))
    // broadcastPosts (the verify-broadcast regime): the prefix posting
    // table is a subset of the reduced-set volume already judged
    // broadcastable, so ship it once and stream the probe side straight
    // off the checkpointed index — zero exchanges. Cluster regime keeps
    // the shuffle self-join (AQE skew-split backstop).
    val j = if (broadcastPosts) l.join(broadcast(r), "h") else l.join(r, "h")
    j.filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
  }

  /** Containment candidates — the ASYMMETRIC prefix rule. Jaccard's
    * both-sides-prefixed bound is unsound for containment (the larger
    * doc's required intersection τ·min is far below τ·m_large), but:
    * inter ≥ ceil(τ·min(n1,n2)) ≥ ceil(τ·m_small), so the SMALLEST
    * shared shingle (global rarity order) must sit inside the smaller
    * doc's p-prefix — and trivially inside the larger doc's full set.
    * Candidates therefore come from prefix(smaller) ⋈ fullPostings
    * (smaller = lower reduced m, ties by doc_id), yielding Σ pdf_h·df_h
    * rows instead of Σ df_h² (at sf1 word-trigrams: 56M vs 239M, and no
    * per-pair aggregation — just a dedup + broadcast-verify).
    */
  private def containmentCands(perDoc: DataFrame, pCol: String = "p",
                               broadcastPosts: Boolean = false): DataFrame = {
    val pp = prefixPostsOf(perDoc, pCol)
      .select(col("doc_id").as("da"), col("m").as("ma"), col("h"))
    val fp = fullPostsOf(perDoc)
      .select(col("doc_id").as("db"), col("m").as("mb"), col("h"))
    // broadcastPosts: the PREFIX side (the smaller stream) ships once
    // and the full posting list probes it map-side off the checkpointed
    // index — zero exchanges (see jaccardCands)
    val j = if (broadcastPosts) fp.join(broadcast(pp), "h")
            else pp.join(fp, "h")
    j.filter(col("ma") < col("mb") ||
        (col("ma") === col("mb") && col("da") < col("db")))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"))
  }

  /** Prefix-filtered exact containment pairs (same output as the naive
    * path; see [[containmentCands]] for the asymmetric bound).
    */
  private[operators] def containmentPairsFromSetsPrefix(
      sets: DataFrame, tau: Double, maxPostings: Int,
      verifyBytesHint: Option[Long] = None): DataFrame = {
    val idx = prefixIndex(sets, tau, maxPostings)
    val setBytes = resolvedSetBytes(idx, verifyBytesHint)
    // broadcast-verify regime: stream RAW candidates through the
    // broadcast probes and dedup only the small survivor set — the
    // ensemble path's measured raw-streaming device (duplicate
    // candidates re-verify into BIT-IDENTICAL rows, so the (d1, d2)
    // dedup after the τ filter keeps exactly the pre-dedup output).
    // Cluster regime dedups first: the shuffle join must never attach
    // arrays to duplicate candidate rows.
    val broadcastable = setBytes <= BroadcastVerifyBytes / 2
    val cands0 = containmentCands(idx.perDoc, broadcastPosts = broadcastable)
    val cands = if (broadcastable) cands0
                else cands0.dropDuplicates("d1", "d2")
    val verified = verifyCandidates(idx, cands, Some(setBytes),
        Some(containReq(tau)))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= tau)
    (if (broadcastable) verified.dropDuplicates("d1", "d2") else verified)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        col("containment"))
  }

  /** Prefix-filtered ensemble candidates: a pair can qualify via
    * jaccard ≥ tauJ OR containment ≥ tauC, so the candidate set is the
    * UNION of the jaccard prefix self-join (at tauJ) and the asymmetric
    * containment candidates (at tauC) — each sound for its own metric,
    * the union sound for the disjunction. One verification pass scores
    * both metrics from the same (inter, n1, n2).
    */
  private[operators] def ensemblePairsFromSetsPrefix(
      sets: DataFrame, tauJ: Double, tauC: Double, maxPostings: Int,
      verifyBytesHint: Option[Long] = None): DataFrame = {
    // FUSED vote: one shared posting index carries both prefix lengths
    // (pJ/pC) instead of two full index passes, and one verification
    // computes (inter, n1, n2) once per candidate row — both gates read
    // the same aggregates, so the disjunction is a single filter, never
    // a union of verified arms.
    val idx = prefixIndexMulti(sets,
      Seq("pJ" -> tauJ, "pC" -> tauC), maxPostings)
    val setBytes = resolvedSetBytes(idx, verifyBytesHint)
    val bcastPosts = setBytes <= BroadcastVerifyBytes / 2
    val candsRaw = jaccardCands(idx.perDoc, "pJ", bcastPosts)
      .unionByName(containmentCands(idx.perDoc, "pC", bcastPosts))
    // broadcast-verify regime: stream RAW candidates (no pre-dedup
    // exchange of the ~candidate-volume stream — the measured residual
    // ensemble scale term) through the broadcast probes + codegen'd
    // intersect, and dedup only the small survivor set (a pair
    // re-verifies once per shared prefix hash / generating arm, cheaper
    // than shuffling every candidate for distinctness — cf.
    // lshCosinePairs). Cluster regime (sets too big to broadcast):
    // dedup FIRST so the shuffle join never attaches arrays to
    // duplicate candidate rows.
    // Scale note, measured at zipf10 (500k docs, setBytes 202 MB):
    // once the broadcast outgrows CPU cache, per-candidate probe cost
    // rises ~10x (1.7 -> 18 µs/row) while candidate volume stays
    // linear — raw wall 82 s. The dedup-first alternative was tried
    // and is WORSE there (143 s): exchanging 330M candidate rows costs
    // more than the cache misses it saves. Raw streaming is the
    // measured winner at every broadcastable scale; the constants just
    // grow once per-probe locality is gone.
    val broadcastable = bcastPosts
    val cands =
      if (broadcastable) candsRaw else candsRaw.dropDuplicates("d1", "d2")
    val verified = verifyCandidates(idx, cands, Some(setBytes),
        Some((n1, n2) => least(jaccardReq(tauJ)(n1, n2),
          containReq(tauC)(n1, n2))))
      .filter(
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")) >= tauJ) ||
        (col("inter").cast("double") / least(col("n1"), col("n2")) >= tauC))
      .select(col("d1"), col("d2"))
    if (broadcastable) verified.dropDuplicates("d1", "d2") else verified
  }

  private[operators] def jaccardPairsFromSetsPrefix(
      sets: DataFrame, tau: Double, maxPostings: Int,
      verifyBytesHint: Option[Long] = None): DataFrame = {
    val idx = prefixIndex(sets, tau, maxPostings)
    val setBytes = resolvedSetBytes(idx, verifyBytesHint)
    // raw-stream + dedup-survivors in the broadcast regime, dedup-first
    // in the cluster regime — see containmentPairsFromSetsPrefix
    val broadcastable = setBytes <= BroadcastVerifyBytes / 2
    val cands0 = jaccardCands(idx.perDoc, broadcastPosts = broadcastable)
    val cands = if (broadcastable) cands0
                else cands0.dropDuplicates("d1", "d2")
    val verified = verifyCandidates(idx, cands, Some(setBytes),
        Some(jaccardReq(tau)))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= tau)
    (if (broadcastable) verified.dropDuplicates("d1", "d2") else verified)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        col("jaccard"))
  }

  /** Reduced-doc-set volume under which the prefix path's verification
    * broadcasts the set table instead of shuffle-joining it (the hash
    * relation costs ~3-4x this in heap; 512 MB of postings stays safe
    * in an 8 GB driver).
    */
  private[operators] val BroadcastVerifyBytes = 512L * 1024 * 1024

  /** Shared pair pipeline over (doc_id, sh: array<long>) distinct-shingle
    * sets — the whole DAG is a narrow hash pass plus exactly TWO shuffles.
    *
    * Pair generation is ONE aggregation by shingle + in-place pair
    * enumeration, not a posting-list self-join. The self-join shape
    * (doc-level collect_list barrier + dfreq groupBy + semi-join back +
    * a⋈b on h) shuffles the exploded posting list three more times; here
    * the set size rides along with each post (computed BEFORE the
    * explode — no doc-level aggregation round-trip), the posting list is
    * shuffled ONCE (groupBy h), pairs are enumerated inside each group
    * with higher-order functions, and only the pair stream (the same
    * rows the join would emit) is shuffled again for the (d1, d2) count.
    * The df >= 2 gate falls out for free: singleton groups enumerate
    * zero pairs.
    *
    * Per-group memory is O(df); the `maxPostings` cap remains the
    * ubiquitous-shingle skew guard — but any df where a quadratic pair
    * count is tractable at all fits comfortably in one aggregation
    * buffer.
    */
  /** Direct enumeration emits Σ_h df_h² in-bucket pair rows — a cost
    * that grows with the pair stream, while the prefix path's cost is
    * dominated by its (now one-pass, checkpointed) index build plus a
    * far smaller candidate stream. Re-measured after the r15 prefix
    * restructure (bench min, sf0.1, reps=3, same box):
    *   word-trigram  Σ df² = 2.8M  — naive 1.73 s, prefix 2.25 s
    *   chargram k=16 Σ df² = 12.5M — naive 2.89 s, prefix 2.17 s
    * so the measured crossover sits near 7M pairs; 8M errs toward the
    * prefix path, which is also the safe direction at scale (on a
    * FIXED vocabulary df ∝ n so Σ df² ∝ n²: chargrams at sf1 enumerate
    * ~1.25e9 naive pairs). A borderline misdecision costs a constant
    * factor, never correctness (the paths are property-proven equal).
    */
  private[operators] val NaivePairBudget = 8000000L

  /** AQE-style runtime path choice: one cheap aggregate over the posting
    * histogram (|posting list| rows, no pair blowup) computes Σ df² —
    * the naive path's exact output cardinality. Under `NaivePairBudget`
    * take direct enumeration (fewer shuffles, measured faster); over it
    * take prefix filtering (asymptotically smaller candidate set). The
    * two paths are property-proven identical (`DedupSpec`), so the
    * switch is invisible to results — the same decision pattern as
    * Spark's own runtime join-strategy re-plan, paid for with one extra
    * scalar job per call. Corpora of at most `SmallCorpusDocs` raw
    * documents (`docCount`) take direct enumeration without that job.
    *
    * Returns None for direct enumeration, or the prefix path's verify
    * side size hint (Σ df longs).
    */
  private def prefixVerifyBytes(sets: DataFrame,
                                docCount: Long): Option[Long] =
    if (docCount <= SmallCorpusDocs) None
    else {
      val (sumDf2, sumDf) = postingStats(sets)
      if (sumDf2 <= NaivePairBudget) None else Some(sumDf * 8L)
    }

  /** Estimated (Σ df², Σ df) over the posting histogram — the runtime
    * statistics behind every naive-vs-prefix path choice.
    *
    * Computed on a DETERMINISTIC 10 % doc sample (hash-selected), so
    * the decision job costs a tenth of the shingle pass instead of
    * repeating it. Per-shingle sampled frequency is Binomial(df, p),
    * giving the unbiased corrections Σdf ≈ Σdf_s/p and
    * Σdf² ≈ (Σdf_s² − (1−p)·Σdf_s)/p². The two regimes sit ~10x either
    * side of `NaivePairBudget`, so estimator noise cannot flip a
    * decision that matters; a borderline misdecision costs a constant
    * factor, never correctness (the paths are property-proven equal).
    */
  private def postingStats(sets: DataFrame): (Long, Long) = {
    val p = 0.1
    val statsRow = sets
      .filter(stableHash60(col("doc_id").cast("string")) % 10 === 0)
      .select(explode(col("sh")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * col("df")).as("s2"), sum(col("df")).as("s1"))
      .head()
    val s2 = if (statsRow.isNullAt(0)) 0L else statsRow.getLong(0)
    val s1 = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    (((s2 - (1 - p) * s1) / (p * p)).toLong, (s1 / p).toLong)
  }

  /** Corpora at or under this many documents take the direct path with
    * NO stats job at all: the decision job itself (plan + codegen of a
    * second shingle pass) costs more than any misdecision could, and a
    * degenerate small corpus still fails loudly via `guardedBucket`.
    * The gate is decided on the RAW doc count (optimizer statistic when
    * exact, else a pruned-scan count() of the source — never the derived
    * shingle frame, whose count would re-tokenize the corpus): at 100 TB
    * a gate that re-runs shingling is itself a full extra corpus pass.
    *
    * The same bound admits [[keepCanonicalJaccard]]'s driver tier: at or
    * under it the whole near-dup keep-canonical runs on the driver from
    * one collect of the rows with their (id, shingle set), and the
    * collect is the gate. That tier holds the rows' payload too, so it
    * also needs the corpus's optimizer size estimate within
    * [[SmallCorpusHeapShare]] of the driver heap, checked before the
    * collect.
    */
  private[operators] val SmallCorpusDocs = 10000L

  /** [[keepCanonicalJaccard]]'s driver tier admits a corpus whose
    * optimizer size estimate is at most `maxMemory / SmallCorpusHeapShare`
    * of the driver JVM.
    */
  private[operators] val SmallCorpusHeapShare = 16L

  /** Corpus size past which [[semanticDedup]] auto-routes to the
    * two-level quantizer. Measured basis (PLANS.md r8, 48 GB heap):
    * at 200k vectors the single-level n×nlist quantizer aggregation
    * spills (125 s warm / 899 s cold) while [[semanticDedupTwoLevel]]
    * runs 62.6 s spill-free; at 100k both paths are healthy, so the
    * exact path keeps the widest range it can afford.
    */
  val SemanticTwoLevelVectors = 100000L

  /** Default training-sample multiple for the two-level quantizer
    * (sample = sampleFactor × nlist). ONE definition shared by
    * [[semanticDedupTwoLevel]]'s parameter default and the
    * [[semanticDedup]] router's exactness-upgrade condition
    * (n <= sampleFactor·nlist ⇒ the sample covers the corpus and
    * probing every coarse group is exact) — two literals would let the
    * condition silently disagree with the sample actually drawn.
    */
  val SemanticSampleFactor = 50

  private def jaccardPairsFromSets(idSets: DataFrame, tau: Double,
                                   maxPostings: Int,
                                   docCount: Long): DataFrame = {
    // the pair kernels take long ids; an int id column widens here
    val sets = idSets.withColumn("doc_id", col("doc_id").cast("long"))
    prefixVerifyBytes(sets, docCount) match {
      case None => jaccardPairsFromSetsNaive(sets, tau, maxPostings)
      case hint => jaccardPairsFromSetsPrefix(sets, tau, maxPostings, hint)
    }
  }

  /** The direct pair pipeline (enumerates EVERY in-bucket pair); also
    * the reference implementation the property spec checks
    * `jaccardPairsFromSetsPrefix` against.
    */
  private[operators] def jaccardPairsFromSetsNaive(
      sets: DataFrame, tau: Double, maxPostings: Int): DataFrame =
    overlapPairsFromSets(sets, maxPostings)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        col("jaccard"))

  /** Containment near-dup pairs: inter / min(|A|, |B|) >= tau — the
    * asymmetric metric that catches a short document wholly embedded in
    * a longer one, which Jaccard structurally misses at size mismatch
    * (a subset of 10% the size has jaccard <= 0.1 but containment 1.0).
    * Same two-shuffle machinery as `jaccardPairs`.
    */
  def containmentPairs(docs: DataFrame, tau: Double, k: Int = 3,
                       maxPostings: Int = 0): DataFrame = {
    val sets = graft.engine.Spread(docs).select(col("doc_id"),
      shingleHashes(col("text"), k).as("sh"))
    // same runtime path choice as jaccardPairsFromSets (Σ df² ∝ n² on
    // saturated vocabularies: 239M at sf1 word-trigrams); the gate counts
    // the RAW docs (no shingle re-tokenization)
    prefixVerifyBytes(sets, corpusCount(docs, -1L)) match {
      case None =>
        overlapPairsFromSets(sets, maxPostings)
          .withColumn("containment",
            col("inter").cast("double") / least(col("n1"), col("n2")))
          .filter(col("containment") >= tau)
          .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
            col("containment"))
      case hint =>
        containmentPairsFromSetsPrefix(sets, tau, maxPostings, hint)
    }
  }

  /** Ensemble near-dup pairs: jaccard >= tauJ OR containment >= tauC
    * from ONE overlap pass (both metrics are functions of the same
    * (inter, n1, n2) row — the second detector is free), unioned with
    * exact-text pairs. The exact tier is NOT redundant: documents
    * shorter than the shingle width k have empty shingle sets and are
    * invisible to the overlap metrics, but still exact-duplicate.
    *
    * This is the production composition: detectors vote pairs, the
    * union feeds one connectedComponents -> keep-canonical pass (see
    * `keepCanonical`).
    */
  def ensemblePairs(docs: DataFrame, tauJ: Double, tauC: Double,
                    k: Int = 3, maxPostings: Int = 0): DataFrame = {
    val sets = graft.engine.Spread(docs).select(col("doc_id"),
      shingleHashes(col("text"), k).as("sh"))
    val overlap = prefixVerifyBytes(sets, corpusCount(docs, -1L)) match {
      case None =>
        overlapPairsFromSets(sets, maxPostings)
          .filter(
            (col("inter").cast("double") /
              (col("n1") + col("n2") - col("inter")) >= tauJ) ||
            (col("inter").cast("double") /
              least(col("n1"), col("n2")) >= tauC))
          .select(col("d1"), col("d2"))
      case hint =>
        ensemblePairsFromSetsPrefix(sets, tauJ, tauC, maxPostings, hint)
    }
    // exact tier joins on the 8-byte text hash, not the document text —
    // the shuffle key stays constant-size at any document length; the
    // equality filter after the join removes (2^-60) hash collisions
    val th = graft.functions.StableHash.stableHash60(col("text"))
    val a = docs.select(col("doc_id").as("d1"), th.as("th"),
      col("text").as("t1"))
    val b = docs.select(col("doc_id").as("d2"), th.as("th"),
      col("text").as("t2"))
    val exactPairs = a.join(b, Seq("th"))
      .filter(col("d1") < col("d2") && col("t1") === col("t2"))
      .select(col("d1"), col("d2"))
    overlap.unionByName(exactPairs).distinct()
  }

  /** Raw overlap counts (d1 < d2, inter, set sizes) shared by the
    * jaccard/containment gates (see the shuffle-shape note above).
    */
  private def overlapPairsFromSets(sets: DataFrame,
                                   maxPostings: Int): DataFrame = {
    // a NULL doc_id pairs with nothing: OverlapPairArray reads ids as
    // primitive longs, where a NULL would pair as id 0
    val posts0 = sets.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("h"))
    // EXPLICIT repartition by the bucket key: the enumeration stage's
    // cost is the Σ df² PAIR stream, not its input bytes, and AQE's
    // byte-based coalescing folded the few-MB post-shuffle partitions
    // to ~4 tasks that then each enumerated millions of pairs (measured
    // 1.6 s stage wall at sf0.1). A user-specified shuffle at the
    // session's partition count is exempt from coalescing and satisfies
    // the groupBy's distribution, so no second exchange appears.
    val byShingle = graft.engine.Spread.byKey(posts0, col("h"))
      .groupBy(col("h"))
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds0"))
    val kept0 = if (maxPostings <= 0) byShingle.filter(size(col("ds0")) >= 2)
                else byShingle.filter(size(col("ds0")).between(2, maxPostings))
    val kept = kept0.select(guardedBucket(col("ds0"), "shingle posting",
      kept0.schema("ds0").dataType.catalogString).as("ds"))
    // tight codegen-fallback pair enumeration (plans.OverlapPairArray):
    // the nested HOF tower (transform/filter/struct + flatten) emitted
    // the same rows but interpreted, with three array materializations
    // per bucket — the dominant CPU term of the naive path
    val pairStream = kept
      .select(explode(graft.plans.OverlapPairArray(col("ds"))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        col("p.n1").as("n1"), col("p.n2").as("n2"))
    pairStream
      .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Incremental dedup — the daily-ingest shape: admit only new-shard
    * documents that duplicate nothing in the already-ingested corpus.
    * Exact tier: anti-join on the text. Near-dup tier: shingle-overlap
    * anti-join (any shared-shingle count >= minShared rejects, the
    * conservative web-pipeline rule).
    *
    * Scale shape: the NEW shard is the small side (a day's crawl vs the
    * full corpus), so its posting list broadcasts and the corpus index
    * streams map-side — the mirror image of `contamination`. The corpus
    * never re-shuffles per ingest; in production the corpus side is the
    * stored fingerprint/posting index, not a re-shingling of raw text.
    */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame, k: Int = 3,
                       minShared: Long = 2): DataFrame = {
    // both tiers stream the corpus against a broadcast of the new shard
    val exactIds = corpus.select(col("text"))
      .join(broadcast(newDocs.select(col("doc_id"), col("text"))),
        Seq("text"))
      .select(col("doc_id"))
    val newPosts = graft.engine.Spread(newDocs)
      .select(col("doc_id"), explode(shingleHashes(col("text"), k)).as("h"))
    // per new doc: how many of its DISTINCT shingles the corpus contains
    // broadcast-join FIRST, then dedup: a corpus-wide distinct() before
    // the join would shuffle the full exploded posting list on every
    // ingest — the map-side join keeps only shingles the new shard
    // shares, so the count_distinct shuffle carries matched rows only
    // (shingleHashes is per-doc distinct, so duplicates come solely
    // from multiple corpus docs sharing a shingle)
    val nearDupIds = graft.engine.Spread(corpus)
      .select(explode(shingleHashes(col("text"), k)).as("h"))
      .join(broadcast(newPosts), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("h")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"))
    newDocs.join(exactIds.unionByName(nearDupIds).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** Cross-corpus contamination check — the benchmark-decontamination
    * shape every LLM training pipeline runs: which corpus documents share
    * at least `minShared` distinct word k-gram shingles with any document
    * in an evaluation/benchmark set?
    *
    * Scale shape: this is NOT a self-join. The eval side is tiny by
    * construction (benchmark suites are MBs against a 100 TB corpus), so
    * its exploded posting list is BROADCAST and the corpus streams
    * through a map-side hash join — the corpus text is never shuffled;
    * the only shuffle is the (matched pairs only) overlap count. Shingle
    * set sizes ride along with each post, so no join-back is needed for
    * the overlap fractions.
    */
  def contamination(corpus: DataFrame, evalSet: DataFrame, k: Int = 3,
                    minShared: Long = 2): DataFrame = {
    def posts(df: DataFrame, idOut: String, nOut: String): DataFrame =
      graft.engine.Spread(df)
        .select(col("doc_id"), shingleHashes(col("text"), k).as("sh"))
        .select(col("doc_id").as(idOut), size(col("sh")).as(nOut),
          explode(col("sh")).as("h"))
    posts(corpus, "doc_id", "n_doc")
      .join(broadcast(posts(evalSet, "eval_id", "n_eval")), Seq("h"))
      .groupBy(col("doc_id"), col("eval_id"),
        col("n_doc"), col("n_eval"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"), col("eval_id"), col("n_shared"),
        col("n_doc").cast("long").as("n_doc"),
        col("n_eval").cast("long").as("n_eval"),
        (col("n_shared").cast("double") / col("n_doc")).as("frac_doc"),
        (col("n_shared").cast("double") / col("n_eval")).as("frac_eval"))
  }

  /** Per-row in-bucket pair expansion materializes O(|bucket|^2) structs
    * in one aggregation buffer. Beyond this bound (10^8 pairs, ~GBs) the
    * executor would die on an opaque OOM mid-shuffle — a bucket that
    * size means degenerate input (a giant exact-duplicate cluster that
    * should have been hash-deduped first, or an LSH family with too few
    * bits), so the guard THROWS with the fix spelled out instead. Same
    * loud-failure philosophy as connectedComponents' maxIter.
    */
  private[graft] var maxBucketMembers: Int = 10000

  /** Replaces the bucket array with a runtime error when it exceeds the
    * quadratic-expansion bound; pass-through otherwise. `arrType` is the
    * bucket's DDL type (needed to type the error branch pre-analysis).
    */
  private def guardedBucket(arr: Column, what: String,
                            arrType: String): Column =
    when(size(arr) > maxBucketMembers,
      raise_error(concat(
        lit(s"$what bucket exceeds $maxBucketMembers members — " +
          "exact-dedup the corpus first or raise bits-per-band; " +
          "refusing the O(n^2) in-bucket expansion (size "),
        size(arr).cast("string"), lit(")"))).cast(arrType))
      .otherwise(arr)

  /** Distinct candidate pairs (a < b) from per-entity band keys: ONE
    * aggregation per (band, key) bucket enumerates in-bucket pairs with
    * higher-order functions (cf. jaccardPairsFromSets) instead of a
    * banded self-join — the bucket is shuffled once and the join
    * build/probe disappears. Buckets are small by LSH design (more bits
    * per band shrink them as the corpus grows), so the quadratic
    * in-bucket expansion is bounded by construction; `guardedBucket`
    * makes a violation loud.
    */
  private[graft] def bandCandidatePairs(banded: DataFrame, id: String,
                                 outA: String, outB: String): DataFrame = {
    val buckets = banded.groupBy(col("band"), col("bk"))
      .agg(collect_list(col(id)).as("ids0"))
      .filter(size(col("ids0")) >= 2)
    buckets
      .select(guardedBucket(col("ids0"), "LSH band",
        buckets.schema("ids0").dataType.catalogString).as("ids"))
      .select(explode(flatten(transform(col("ids"), x =>
        transform(filter(col("ids"), y => y > x),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as(outA), col("p.b").as(outB))
      .dropDuplicates(outA, outB)
  }

  /** Distinct candidate pairs via a (band, key) SELF-JOIN — the
    * codegen'd alternative to [[bandCandidatePairs]]'s in-bucket
    * higher-order-function expansion. Same distinct pair set; the pair
    * stream materializes inside a whole-stage-codegen'd shuffled join
    * instead of an interpreted transform/flatten chain. Preferable when
    * buckets are LARGE (the HOF path allocates every in-bucket struct
    * interpreted — measured 2x on q_knn_graph's 625-member buckets);
    * the HOF path wins when buckets are tiny and the join's second
    * shuffle would dominate. No quadratic-expansion guard here: the
    * join output is streamed, not buffered per group.
    */
  private[graft] def bandCandidatePairsJoin(banded: DataFrame,
      id: String, outA: String, outB: String,
      dedup: Boolean = true): DataFrame = {
    val a = banded.select(col("band"), col("bk"), col(id).as(outA))
    val b = banded.select(col("band"), col("bk"), col(id).as(outB))
    val pairs = a.join(b, Seq("band", "bk"))
      .filter(col(outA) < col(outB))
      .select(col(outA), col(outB))
    // dedup=false lets a caller with a CHEAP codegen'd verification gate
    // skip this shuffle (the candidate stream is the big term: n²/2^r
    // per band) and dedup only the small survivor set instead — a pair
    // re-verifies once per shared band (≤ bands ×), which costs less
    // than shuffling every candidate for distinctness first
    if (dedup) pairs.dropDuplicates(outA, outB) else pairs
  }

  /** MinHash+LSH near-dup pairs: posting list -> signatures (one codegen
    * agg) -> band keys -> candidates (docs sharing any band) -> exact
    * Jaccard verification via a candidate-restricted posting-list join.
    * Deterministic end-to-end (fixed permutation family). The estimator
    * is Broder's min-wise resemblance (Broder, "On the resemblance and
    * containment of documents", 1997); banding is the standard LSH
    * amplification.
    */
  def minhashPairs(docs: DataFrame, tau: Double, k: Int = 3,
                   numPerms: Int = 32, bands: Int = 16): DataFrame = {
    // bands > numPerms would make rows = 0 and every band key a constant
    // (all docs in one bucket -> the O(n^2) expansion the guard exists
    // to prevent); non-divisible values silently ignore the trailing
    // permutations and lower recall below the configured level
    require(numPerms % bands == 0 && numPerms >= bands,
      s"bands ($bands) must divide numPerms ($numPerms)")
    val rows = numPerms / bands
    val posts = TextAnalysis.shinglePosts(docs, k)
    // ONE pass over the posting list computes signatures, set sizes, and
    // the sorted shingle set (for candidate verification) together — the
    // expensive shingle+md5 explode is never re-evaluated.
    val p = MinhashPrime
    val hm = col("h") % p
    val aggs = (0 until numPerms).map { i =>
      min((lit(permA(i)) * hm + lit(permB(i))) % p).as(s"sig_$i")
    } ++ Seq(
      count(lit(1)).as("n"),
      sort_array(collect_list(col("h"))).as("sh"))
    // The signature table feeds THREE plan branches (banding + both sides
    // of candidate verification). Exchange reuse memoizes only shuffle
    // output, and the groupBy's exchange is BELOW the aggregation — the
    // 30+-aggregate pass would re-run per branch. A repartition on the
    // (tiny: one row per doc) aggregated output inserts a reusable
    // exchange ABOVE it, so the signature pass runs exactly once.
    val sigs = posts.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .transform(graft.engine.Spread.byKey(_, col("doc_id")))
    val bandCols = (0 until bands).map { b =>
      stableHash60(concat_ws(",",
        lit(b.toString) +: (0 until rows).map(r =>
          col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bk")))
    val cands = bandCandidatePairs(banded, "doc_id", "d1", "d2")
    // exact verification on the (few) candidate pairs via set intersection
    val meta1 = sigs.select(col("doc_id").as("d1"), col("n").as("n1"),
      col("sh").as("sh1"))
    val meta2 = sigs.select(col("doc_id").as("d2"), col("n").as("n2"),
      col("sh").as("sh2"))
    cands.join(meta1, "d1").join(meta2, "d2")
      .withColumn("inter",
        graft.plans.SortedLongArrayIntersectSizeAtLeast(col("sh1"),
          col("sh2"), jaccardReq(tau)(col("n1"), col("n2")))
          .cast("int"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Build-once / query-many MinHash+LSH near-dup index — the TEXT-side
    * twin of the persisted ANN indexes (Similarity.buildIvfIndex):
    * shingling, signatures, and banding of the corpus happen ONCE at
    * build time; incremental dedup jobs load the artifacts and never
    * re-shingle the corpus. Writes under `indexPath`:
    *
    *   - `buckets/` — (bk, doc_id) parquet PARTITIONED BY band, so a
    *     query's bucket probe prunes to the band directories it needs
    *   - `meta/`    — (doc_id, n, sh): sorted distinct shingle sets for
    *     exact-Jaccard verification of candidates
    *   - `params/`  — one row (k, num_perms, bands); the query side
    *     reads it so build and query can never disagree on the family
    *
    * Everything is deterministic (fixed permutation family, stable
    * hashes), so the indexed query path is oracle-checkable against the
    * same SQL as the inline operator.
    */
  def buildMinhashIndex(corpus: DataFrame, indexPath: String, k: Int = 3,
                        numPerms: Int = 32, bands: Int = 16): Unit = {
    require(numPerms % bands == 0 && numPerms >= bands,
      s"bands ($bands) must divide numPerms ($numPerms)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = numPerms / bands
    val posts = TextAnalysis.shinglePosts(corpus, k)
      .transform(graft.engine.Spread.byKey(_, col("doc_id")))
    val p = MinhashPrime
    val hm = col("h") % p
    val aggs = (0 until numPerms).map { i =>
      min((lit(permA(i)) * hm + lit(permB(i))) % p).as(s"sig_$i")
    } ++ Seq(
      count(lit(1)).as("n"),
      sort_array(collect_list(col("h"))).as("sh"))
    val sigs = posts.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true) // feeds buckets AND meta without re-shingling
    val bandCols = (0 until bands).map { b =>
      stableHash60(concat_ws(",",
        lit(b.toString) +: (0 until rows).map(r =>
          col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    sigs.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bk")))
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$indexPath/buckets")
    sigs.select(col("doc_id"), col("n"), col("sh"))
      .write.mode("overwrite").parquet(s"$indexPath/meta")
    Seq((k, numPerms, bands)).toDF("k", "num_perms", "bands")
      .write.mode("overwrite").parquet(s"$indexPath/params")
  }

  /** Incremental maintenance for a persisted minhash index: shingle +
    * sign + band ONLY the new shard with the family frozen in
    * `params/` (k, numPerms, bands — build and append can never
    * disagree), and APPEND its bucket and meta rows beside the
    * existing artifacts. Signatures are per-doc deterministic, so
    * build(A) + append(B) produces byte-identical index CONTENT to
    * build(A ∪ B) — [[minhashNeardupIndexed]] over the appended index
    * is spec-locked equal to the index built at once (DedupSpec), and
    * the band-partitioned layout only gains files per band directory.
    * Cost is O(new shard); corpus text is never re-shingled.
    */
  def appendToMinhashIndex(newDocs: DataFrame, indexPath: String): Unit = {
    val spark = newDocs.sparkSession
    val prm = spark.read.parquet(s"$indexPath/params").head()
    val (k, numPerms, bands) =
      (prm.getAs[Int]("k"), prm.getAs[Int]("num_perms"),
        prm.getAs[Int]("bands"))
    val rows = numPerms / bands
    val posts = TextAnalysis.shinglePosts(newDocs, k)
      .transform(graft.engine.Spread.byKey(_, col("doc_id")))
    val p = MinhashPrime
    val hm = col("h") % p
    val aggs = (0 until numPerms).map { i =>
      min((lit(permA(i)) * hm + lit(permB(i))) % p).as(s"sig_$i")
    } ++ Seq(
      count(lit(1)).as("n"),
      sort_array(collect_list(col("h"))).as("sh"))
    val sigs = posts.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true) // feeds buckets AND meta without re-shingling
    val bandCols = (0 until bands).map { b =>
      stableHash60(concat_ws(",",
        lit(b.toString) +: (0 until rows).map(r =>
          col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    sigs.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bk")))
      .write.mode("append").partitionBy("band")
      .parquet(s"$indexPath/buckets")
    sigs.select(col("doc_id"), col("n"), col("sh"))
      .write.mode("append").parquet(s"$indexPath/meta")
  }

  /** Incremental near-dup against a PERSISTED index: the new batch is
    * shingled and banded with the family recorded in the index params,
    * candidates come from the stored bucket table (the new side's band
    * keys broadcast into the bucket scan — with band-partitioned
    * buckets, only matching band directories are read), and exact
    * Jaccard verifies against the stored shingle sets. The corpus text
    * is NEVER touched at query time. Returns (corpus_id, new_id,
    * jaccard) with jaccard >= tau.
    */
  def minhashNeardupIndexed(newDocs: DataFrame, indexPath: String,
                            tau: Double): DataFrame = {
    val spark = newDocs.sparkSession
    val prm = spark.read.parquet(s"$indexPath/params").head()
    val (k, numPerms, bands) =
      (prm.getAs[Int]("k"), prm.getAs[Int]("num_perms"),
        prm.getAs[Int]("bands"))
    val rows = numPerms / bands
    val posts = TextAnalysis.shinglePosts(newDocs, k)
      .transform(graft.engine.Spread.byKey(_, col("doc_id")))
    val p = MinhashPrime
    val hm = col("h") % p
    val aggs = (0 until numPerms).map { i =>
      min((lit(permA(i)) * hm + lit(permB(i))) % p).as(s"sig_$i")
    } ++ Seq(
      count(lit(1)).as("n2"),
      sort_array(collect_list(col("h"))).as("sh2"))
    val sigs = posts.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true)
    val bandCols = (0 until bands).map { b =>
      stableHash60(concat_ws(",",
        lit(b.toString) +: (0 until rows).map(r =>
          col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    val bandedNew = sigs.select(col("doc_id").as("d2"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bk")))
    val buckets = spark.read.parquet(s"$indexPath/buckets")
      .select(col("band"), col("bk"), col("doc_id").as("d1"))
    val cands = buckets.join(broadcast(bandedNew), Seq("band", "bk"))
      .select(col("d1"), col("d2")).dropDuplicates("d1", "d2")
    val meta = spark.read.parquet(s"$indexPath/meta")
      .select(col("doc_id").as("d1"), col("n").as("n1"),
        col("sh").as("sh1"))
    val newMeta = sigs.select(col("doc_id").as("d2"), col("n2"),
      col("sh2"))
    // candidate pairs BROADCAST into the meta scan — the corpus-sized
    // shingle arrays must never ride a shuffle (the minhashCalibration
    // rule); size-based planning would get this right only at small SF
    meta.join(broadcast(cands), Seq("d1"))
      .join(broadcast(newMeta), Seq("d2"))
      .withColumn("inter",
        graft.plans.SortedLongArrayIntersectSizeAtLeast(col("sh1"),
          col("sh2"), jaccardReq(tau)(col("n1"), col("n2")))
          .cast("int"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** MinHash estimator calibration — the companion evaluation to
    * [[minhashPairs]]: for every LSH candidate pair, the Broder
    * estimate (matching signature components / numPerms) side by side
    * with the exact Jaccard, plus the absolute error. This is the
    * measurement that justifies a production numPerms/bands choice
    * before a 100 TB dedup run commits to it. Integer outputs
    * (n_match, inter, set sizes) are engine-exact; the two ratios and
    * the error are single fixed-order double expressions.
    *
    * SAMPLED-INPUT CONTRACT: this is the estimator-validation tool,
    * not a dedup path — the exact-Jaccard ground truth needs the full
    * shingle sets, which must never ride a corpus-scale shuffle. Two
    * structural guards enforce that: (1) inputs over `maxDocs` docs
    * are deterministically hash-downsampled to ~`maxDocs` before any
    * posting is built (calibration on a uniform sample IS the
    * methodology — the estimator-error distribution is what's being
    * measured, not the corpus); (2) the shingle arrays join the
    * candidate pairs via BROADCAST with the codegen'd two-pointer
    * [[graft.plans.SortedLongArrayIntersectSize]] — the sampled set
    * table lives once per executor (~100k docs x ~300 shingles x 8 B
    * ≈ 250 MB) and only (d1, d2, ints) rows ever cross an exchange.
    */
  def minhashCalibration(docs: DataFrame, k: Int = 3, numPerms: Int = 32,
                         bands: Int = 16,
                         maxDocs: Long = 100000L): DataFrame = {
    require(numPerms % bands == 0 && numPerms >= bands,
      s"bands ($bands) must divide numPerms ($numPerms)")
    val rows = numPerms / bands
    val base = {
      val n = docs.count() // one pruned count job: the sample gate
      if (n <= maxDocs) docs
      else {
        val den = 1 << 20
        val num = math.max(1L, maxDocs * den / n).toInt
        Sampling.sampleByHash(docs, col("doc_id").cast("string"), num, den)
      }
    }
    // one scalar (doc_id, h) shuffle shared by BOTH aggregations below
    // (identical subtree -> reused exchange); no array column ever
    // crosses a shuffle in this plan (PlanShapeSpec-pinned)
    val posts = TextAnalysis.shinglePosts(base, k)
      .transform(graft.engine.Spread.byKey(_, col("doc_id")))
    val p = MinhashPrime
    val hm = col("h") % p
    val sigAggs = (0 until numPerms).map { i =>
      min((lit(permA(i)) * hm + lit(permB(i))) % p).as(s"sig_$i")
    }
    // scalar-only signature frame: the repartition ABOVE the agg is a
    // reusable exchange so the 32-permutation pass runs once across its
    // three consumers (banding + both verification sides) — and it now
    // carries only longs
    val sigs = posts.groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
      .transform(graft.engine.Spread.byKey(_, col("doc_id")))
    // shingle-set frame, consumed only under broadcast exchanges (the
    // collect_list re-runs once per broadcast side over the reused
    // scalar posting shuffle — bounded by the sample gate)
    val shs = posts.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n"),
      sort_array(collect_list(col("h"))).as("sh"))
    val bandCols = (0 until bands).map { b =>
      stableHash60(concat_ws(",",
        lit(b.toString) +: (0 until rows).map(r =>
          col(s"sig_${b * rows + r}").cast("string")): _*))
    }
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bk")))
    val cands = bandCandidatePairs(banded, "doc_id", "d1", "d2")
    // signature sides (numPerms longs/doc — cheap) may shuffle; the
    // shingle-set sides broadcast (sample-gated above, so bounded)
    def sigSide(sfx: String, id: String) = sigs.select(
      (col("doc_id").as(id) +:
        (0 until numPerms).map(i =>
          col(s"sig_$i").as(s"sig_${i}$sfx"))): _*)
    def shSide(sfx: String, id: String) = shs.select(
      col("doc_id").as(id), col("n").as(s"n$sfx"),
      col("sh").as(s"sh$sfx"))
    val nMatch = (0 until numPerms).map(i =>
      when(col(s"sig_${i}a") === col(s"sig_${i}b"), 1L).otherwise(0L))
      .reduce(_ + _)
    cands.join(sigSide("a", "d1"), "d1").join(sigSide("b", "d2"), "d2")
      .join(broadcast(shSide("a", "d1")), "d1")
      .join(broadcast(shSide("b", "d2")), "d2")
      .withColumn("n_match", nMatch)
      .withColumn("inter",
        graft.plans.SortedLongArrayIntersectSize(col("sha"), col("shb"))
          .cast("long"))
      .withColumn("un",
        (col("na") + col("nb") - col("inter")).cast("long"))
      .select(col("d1"), col("d2"), col("n_match"), col("inter"),
        col("un"),
        (col("n_match").cast("double") / numPerms).as("est"),
        (col("inter").cast("double") / col("un").cast("double"))
          .as("jaccard"),
        abs(col("n_match").cast("double") / numPerms
          - col("inter").cast("double") / col("un").cast("double"))
          .as("abs_err"))
  }

  /** SimHash 64-bit fingerprint over token hashes (Charikar's
    * random-hyperplane rounding, STOC 2002; banded near-dup detection as
    * in Manku/Jain/Sarma, WWW 2007): bit j of the result is
    * set iff the sum over tokens of (bit j set ? +1 : -1) is positive.
    * Expressed as a fold over the token-hash array producing 64 vote
    * counters — a narrow map, no shuffle.
    */
  def simhash(tokenHashes: Column): Column = {
    // bit positions unrolled statically: shiftright/shiftleft take constant
    // shift amounts, and constant-folding keeps this inside codegen
    val votes = aggregate(
      tokenHashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map(j =>
          shiftright(h, j).bitwiseAND(lit(1L)) * 2 - 1): _*),
        _ + _))
    // NOTE (r12): binding `votes` once via the q_redact_luhn transform
    // device was tried and measured NO faster here — the interpreted
    // projection evaluates this projection's subexpressions once per
    // row already (the luhn blowup came from references INSIDE a HOF
    // lambda body, which this fold doesn't have); q_dedup_simhash's
    // cost is its banding join, not this expression
    val bitCols = (0 until 64).map { j =>
      when(element_at(votes, j + 1) > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ bitwiseOR _)
  }

  /** SimHash fingerprints in bulk: explode token hashes, then ONE
    * codegen'd aggregation with 64 per-bit vote sums — the scale path
    * (the array-fold `simhash` recomputes its input per consumer and
    * runs interpreted).
    */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val th = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("w"))
      .select(col("doc_id"), stableHash60(col("w")).as("h"))
    val voteAggs = (0 until 64).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"v_$j")
    }
    val votes = th.groupBy(col("doc_id")).agg(voteAggs.head, voteAggs.tail: _*)
    val fpBits = (0 until 64).map { j =>
      when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }
    votes.select(col("doc_id"), fpBits.reduce(_ bitwiseOR _).as("fp"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist (<= 3).
    * Banding into 4 disjoint 15-bit quarters over bits 0-59 is exact by
    * pigeonhole: distance <= 3 forces at least one identical quarter.
    * Quarters cover only the low 60 bits because the token hash is
    * [[stableHash60]] (< 2^60): bits 60-63 vote -1 on every token, so
    * they are zero in EVERY fingerprint — banding over them would hand
    * one quarter 4 dead bits and make its bucket space 16x hotter than
    * the others. Shuffle is by (quarter index, 15-bit value) — tiny
    * keys, then exact verification over the full fingerprints.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band banding is only exact for distance <= 3")
    val fp = simhashFingerprints(docs)
    val banded = fp.select(col("doc_id"), col("fp"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("fp"), q * 15).bitwiseAND(lit(0x7FFFL))): _*))
        .as(Seq("q", "qv")))
    // in-bucket pair enumeration (cf. bandCandidatePairs), fingerprints
    // carried in the bucket struct so no join-back is needed
    val quarters = banded.groupBy(col("q"), col("qv"))
      .agg(collect_list(struct(col("doc_id"), col("fp"))).as("ds0"))
      .filter(size(col("ds0")) >= 2)
    quarters
      .select(guardedBucket(col("ds0"), "SimHash quarter",
        quarters.schema("ds0").dataType.catalogString).as("ds"))
      .select(explode(flatten(transform(col("ds"), x =>
        transform(filter(col("ds"), y => y("doc_id") > x("doc_id")),
          y => struct(x("doc_id").as("d1"), y("doc_id").as("d2"),
                      x("fp").as("fp1"), y("fp").as("fp2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        col("p.fp1").as("fp1"), col("p.fp2").as("fp2"))
      // hamming gate BEFORE the dropDuplicates shuffle: banding over-
      // generates candidates heavily on hot quarters (shared-vocabulary
      // corpora bias some 16-bit quarter toward few values), and the
      // gate is a pure function of the pair — filtering first shrinks
      // the dedup shuffle by the candidate/survivor ratio (measured
      // 13.8M -> ~0.7M at 8x duplication stress, 22s -> 7s)
      .withColumn("hamming",
        bit_count(col("fp1").bitwiseXOR(col("fp2"))).cast("int"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("d1", "d2")
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Union-find over long ids, union by MIN root: every root is the
    * minimum id of its component, the canonical label every tier of
    * [[connectedComponents]] and [[keepCanonicalJaccard]] returns.
    * `LongMap` keeps keys and values unboxed — at the 4M-edge ceiling of
    * the driver tier a boxed map costs seconds of allocation.
    */
  private final class MinRootUnionFind {
    private val parent = scala.collection.mutable.LongMap.empty[Long]

    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }

    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }

    /** Exactly the nodes that are not their component's minimum: every
      * entry points strictly toward the min, roots are never assigned.
      */
    def nonRoots: Iterator[Long] = parent.keysIterator
  }

  /** Connected components over near-dup pairs (d1, d2). Returns
    * (node, component) where component = the minimum doc_id reachable —
    * the canonical representative.
    *
    * This is the pairs -> clusters step every near-dup pipeline needs
    * before "keep one per cluster". Small graphs (edge count below
    * `smallGraphThreshold`) resolve driver-side in one union-find pass.
    * The distributed path uses alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"), which converges in O(log n) rounds regardless of component
    * DIAMETER — min-label propagation needs O(diameter) rounds and a
    * path-shaped cluster longer than maxIter would silently split.
    * Exceeding maxIter here (astronomically unlikely at 2 rounds per
    * iteration) THROWS rather than returning wrong labels.
    *
    * Graphs past the threshold are first CONTRACTED: each partition
    * resolves its own edges with a local union-find and emits only the
    * spanning-forest edges (partition-local component root -> member),
    * which preserves connectivity exactly while cutting the edge count
    * to at most the per-partition node count — on DENSE merge graphs
    * (edges >> nodes, e.g. a heavily-duplicated corpus where most
    * vectors merge) this collapses tens of millions of redundant edges
    * into a forest in one narrow zero-shuffle pass. Up to three rounds
    * run at shrinking partition counts; if the forest lands under the
    * threshold the driver union-find finishes, otherwise the star loop
    * runs over the (much smaller) forest. Output is identical either
    * way: contraction never changes which nodes are reachable from
    * which, so min-id components are preserved bit-for-bit.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30,
                          smallGraphThreshold: Long = 4000000L): DataFrame = {
    val spark = pairs.sparkSession
    // Both paths run over the SAME canonical edge set — unordered
    // (lo, hi), lo < hi, self-loops dropped, distinct — materialized once
    // via localCheckpoint so the (possibly expensive) upstream pair
    // computation never re-runs. Self-loop pairs (d1 == d2) carry no
    // merge information and are excluded identically from both paths.
    def canonical(e: DataFrame): DataFrame =
      e.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()

    // NOTE the label scope: the caller's (possibly expensive) pair
    // computation executes INSIDE this checkpoint, so in job/stage
    // attribution this tier carries the upstream pair-gate cost, not
    // just the canonicalization shuffle.
    var edges = labeled(pairs, "graft.cc: materialize+canonicalize edges") {
      canonical(
        pairs.select(col("d1").cast("long").as("a"),
                     col("d2").cast("long").as("b")))
        .localCheckpoint(true)
    }
    // Per-partition spanning-forest contraction (see Scaladoc): a local
    // union-find per partition, emitting one (root, member) edge per
    // non-root node. Union is by MIN root, so emitted edges stay
    // canonical (a < b, no self-loops) and within a partition each
    // member appears once (no distinct shuffle needed; cross-partition
    // duplicates are harmless to both downstream paths). Node set is
    // preserved exactly: every input node has degree >= 1 (self-loops
    // were dropped), so it is either some forest edge's member or the
    // root of a component with >= 2 nodes, i.e. some edge's `a`.
    def contract(e: DataFrame): DataFrame = {
      import spark.implicits._
      e.select(col("a"), col("b")).as[(Long, Long)]
        .mapPartitions { it =>
          val uf = new MinRootUnionFind
          it.foreach { case (a, b) => uf.union(a, b) }
          uf.nonRoots.map(n => (uf.find(n), n))
        }
        .toDF("a", "b")
    }
    // Near-dup graphs are tiny relative to the corpus (pairs, not docs):
    // below the threshold (the bounded collect is the gate) a driver-side
    // union-find resolves components in ONE pass instead of O(log n)
    // shuffle rounds. Past it the contraction rounds run, each steered by
    // a count; a forest counted under the threshold then collects.
    val driverEdges = DriverTier.collect(edges, smallGraphThreshold,
      "graft.cc: driver union-find collect").orElse {
      var nEdges = 0L
      labeled(pairs, "graft.cc: forest contraction") {
        // round 1: in place, zero shuffle — on dense graphs this alone
        // cuts edges to ~nodes per partition
        edges = contract(edges).localCheckpoint(true)
        nEdges = edges.count()
        if (nEdges > smallGraphThreshold) {
          // round 2: fewer partitions widen each local union's scope
          val p = math.max(1, spark.sparkContext.defaultParallelism / 8)
          edges = contract(edges.repartition(p)).localCheckpoint(true)
          nEdges = edges.count()
        }
        if (nEdges > smallGraphThreshold &&
            nEdges <= 16L * smallGraphThreshold) {
          // round 3: one partition = a full executor-side union-find,
          // bounded to near-driver-sized forests so a genuinely huge
          // graph (billions of edges) goes to the star loop instead of
          // serializing through one task
          edges = contract(edges.repartition(1)).localCheckpoint(true)
          nEdges = edges.count()
        }
      }
      if (nEdges > smallGraphThreshold) None
      else Some(labeled(pairs, "graft.cc: driver union-find collect") {
        RelationBridge.collectInternal(edges)
      })
    }
    if (driverEdges.nonEmpty) {
      import spark.implicits._
      val rows = driverEdges.get
      val uf = new MinRootUnionFind
      rows.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
      val nodes = rows.iterator
        .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toSet
      return nodes.toSeq.sorted
        .map(n => (n, uf.find(n))).toDF("node", "component")
        .repartition(spark.sparkContext.defaultParallelism)
    }
    // ---- distributed path: alternating large-star / small-star ----
    // Edge set kept canonical throughout (see `canonical` above).
    // large-star: every node u with min m over its closed neighborhood
    //   rewires each LARGER neighbor v > u to (m, v).
    // small-star: u rewires each neighbor v <= u (and itself) to (m, v).
    // Fixpoint = star forest rooted at each component's minimum.
    def closedMin(directed: DataFrame): DataFrame = directed
      .groupBy(col("a"))
      .agg(least(min(col("b")), col("a")).as("m"))

    def bothDirections(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("b").as("a"), col("a").as("b")))

    def largeStar(e: DataFrame): DataFrame = {
      val d = bothDirections(e)
      canonical(d.join(closedMin(d), Seq("a"))
        .filter(col("b") > col("a"))
        .select(col("m").as("a"), col("b")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val d = bothDirections(e)
      canonical(d.join(closedMin(d), Seq("a"))
        .filter(col("b") <= col("a"))
        .select(col("m"), col("a"), col("b"))
        .select(explode(array(
          struct(col("m").as("a"), col("b").as("b")),
          struct(col("m").as("a"), col("a").as("b"))))
          .as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b")))
    }

    // 64-bit content checksum (count, XOR of per-edge hashes): equal
    // checksums across a full round are a cheap fixpoint SIGNAL. XOR is
    // order-independent and cannot overflow under ANSI mode. A collision
    // between genuinely different sets (~2^-64) would mean converging on
    // a non-fixpoint edge set, whose labeling can emit conflicting
    // (node, component) rows — so checksum equality is CONFIRMED with
    // one exact set comparison before the loop exits (checksums embed
    // the count and the sets are distinct, so one-sided exceptAll
    // emptiness proves equality). The exact check runs once per
    // convergence, not per round.
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(a, b))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var cur = edges
    var chk = labeled(pairs, "graft.cc: star rounds")(checksum(cur))
    var converged = false
    var i = 0
    while (!converged && i < maxIter)
      labeled(pairs, s"graft.cc: star round ${i + 1}") {
        val next = smallStar(largeStar(cur)).localCheckpoint(true)
        val nchk = checksum(next)
        converged = nchk == chk && next.exceptAll(cur).isEmpty
        cur = next
        chk = nchk
        i += 1
      }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter large/small-star " +
        "rounds — refusing to return possibly-split components")
    // star forest: every edge is (root, leaf); roots label themselves
    cur.select(col("b").as("node"), col("a").as("component"))
      .unionAll(cur.select(col("a").as("node"), col("a").as("component")))
      .distinct()
  }

  /** Keep-one-per-cluster: canonical (minimum) doc per near-dup
    * component, plus every unpaired doc keeps itself. The complete
    * corpus-level dedup: pairs from any near-dup detector compose with
    * this to produce the deduplicated corpus. The kept rows carry
    * `docs`' columns in `docs`' order, as [[keepCanonicalJaccard]]'s
    * driver tier returns them.
    */
  def keepCanonical(docs: DataFrame, pairs: DataFrame,
                    id: String = "doc_id"): DataFrame = {
    val cc = connectedComponents(pairs)
    // Spread the payload side: cc is pair-scale (broadcasts), so the
    // join preserves the docs scan's parallelism — a single-row-group
    // corpus file would otherwise carry ONE task through every
    // downstream per-row stage (the corpus-pipeline gate's normalize
    // measured 1.9 s single-task at sf0.1). At cluster scale the scan
    // is already parallel and Spread is a no-op.
    graft.engine.Spread(docs)
      .join(cc.withColumnRenamed("node", id), Seq(id), "left")
      .withColumn("component", coalesce(col("component"), col(id)))
      .filter(col(id) === col("component"))
      .select(docs.columns.toSeq.map(c =>
        col("`" + c.replace("`", "``") + "`")): _*)
  }

  /** Near-dup keep-canonical over word k-shingle Jaccard in one call:
    * the rows of `keepCanonical(docs, jaccardPairs(docs, tau, k), id)`,
    * with the pairs taken over `id`. This is the curation pipeline's
    * `dedup` stage.
    *
    * Corpora of at most [[SmallCorpusDocs]] documents whose size
    * estimate is within `1 / SmallCorpusHeapShare` of the driver heap
    * run on the driver: ONE bounded collect ([[graft.engine.DriverTier]],
    * also the size gate) fetches every row's own columns with its id as
    * a long and its shingle hash set. The pairs are found with the AllPairs prefix filter and an
    * exact sorted-set intersect, the components with the min-root
    * union-find, and the surviving rows return as a local relation with
    * `docs`' schema — the pair pipeline, edge checkpoint and canonical
    * re-join collapse into the collect, and the corpus's upstream plan
    * (scan, exact-dedup shuffle) runs once: later narrow stages fold onto
    * the local relation and run no job. The call is eager: the collect
    * runs when it is made. NULL ids are dropped, as `keepCanonical`
    * drops them.
    *
    * Larger corpora take the distributed composition unchanged, and so
    * do ids of a non-integral type: the driver tier compares ids by
    * their long cast, which is the distributed join's comparison only
    * for integral ids. Past the row gate the collect's row count is the
    * lower bound the pair path's own size gate reads, so no separate
    * count job runs.
    */
  def keepCanonicalJaccard(docs: DataFrame, tau: Double, k: Int = 3,
                           id: String = "doc_id"): DataFrame =
    keepCanonicalJaccard(docs, tau, k, id, SmallCorpusDocs,
      Runtime.getRuntime.maxMemory / SmallCorpusHeapShare)

  /** [[keepCanonicalJaccard]] with the driver-tier bounds as parameters
    * (the law tests force either path with them).
    */
  private[operators] def keepCanonicalJaccard(docs: DataFrame, tau: Double,
      k: Int, id: String, driverDocs: Long, driverBytes: Long): DataFrame = {
    def distributed(docCount: Long): DataFrame =
      keepCanonical(docs, jaccardPairsFromSets(
        graft.engine.Spread(docs).select(col(id).as("doc_id"),
          shingleHashes(col("text"), k).as("sh")),
        tau, maxPostings = 0, docCount = docCount), id)
    val integralId = docs.select(col(id)).schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // the size estimate runs no job (Spread reads the same one)
    if (!integralId ||
        docs.queryExecution.optimizedPlan.stats.sizeInBytes > driverBytes)
      return distributed(corpusCount(docs, -1L))
    // docs' own columns, then (id as long, shingle set)
    val at = docs.schema.length
    val rows = DriverTier.collect(docs.select(col("*"),
        col(id).cast("long"), shingleHashes(col("text"), k)),
      driverDocs, "graft.dedup: driver tier collect")
    rows.flatMap(droppedIdsLocal(_, at, tau)) match {
      case Some(ids) =>
        // an integral id's long cast compares as `isin` on the id would
        val payload = UnsafeProjection.create(
          docs.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable) })
        val kept = rows.get.iterator
          .filter(r => !r.isNullAt(at) &&
            java.util.Arrays.binarySearch(ids, r.getLong(at)) < 0)
          .map(r => payload(r).copy(): InternalRow).toSeq
        RelationBridge.localDf(docs.sparkSession, docs.schema, kept)
      // past the gate the collect stopped at driverDocs + 1 rows
      case None => distributed(rows.fold(driverDocs + 1)(_.length.toLong))
    }
  }

  /** Driver tier of [[keepCanonicalJaccard]]: from collected rows
    * holding (id, shingle set) at ordinals (`at`, `at + 1`), the ids
    * `keepCanonical` drops — every paired id that is not its
    * component's minimum — sorted.
    *
    * Pairs are exactly the naive path's: per-row sets, pairs of rows
    * with different ids sharing a shingle, kept when
    * `inter.toDouble / (n1 + n2 - inter) >= tau`. Candidates come from
    * the AllPairs prefix filter: shingles in ascending (df, hash) order,
    * df = 1 shingles dropped, and a row of size n contributes its first
    * m - a + 1 reduced shingles, where a is the least intersection with
    * `a.toDouble / n >= tau` — a qualifying pair has
    * inter / n1 >= inter / union >= tau, so inter >= a, and its rarest
    * shared shingle lies in both prefixes. The bound is taken in the
    * same double arithmetic as the verification, so a pair at exactly
    * tau is never filtered out by rounding.
    *
    * `None` when two rows share both id and set size: the naive path's
    * (d1, d2, n1, n2) group-by then SUMS their overlaps into one pair,
    * which a per-row-pair method does not reproduce; the caller falls
    * back to the distributed path.
    */
  private def droppedIdsLocal(rows: Array[InternalRow], at: Int,
                              tau: Double): Option[Array[Long]] = {
    // NULL ids and NULL or empty sets take part in no pair
    val live = rows.filter(r => !r.isNullAt(at) && !r.isNullAt(at + 1) &&
      r.getArray(at + 1).numElements() > 0)
    val ids = live.map(_.getLong(at))
    val sets = live.map { r =>
      val a = r.getArray(at + 1).toLongArray(); java.util.Arrays.sort(a); a
    }
    val keys = ids.indices.map(i => (ids(i), sets(i).length))
    if (keys.distinct.size < keys.size) return None
    // the verification's merge walk reads ArrayData
    val packed = sets.map(UnsafeArrayData.fromPrimitiveArray)
    // global rarity rank of every shingle held by >= 2 rows, ascending
    // (df, hash); rows carry their shared shingles as sorted ranks
    val df = scala.collection.mutable.LongMap.empty[Int]
    sets.foreach(_.foreach(h => df(h) = df.getOrElse(h, 0) + 1))
    val shared = df.keysIterator.filter(df(_) >= 2).toArray
      .sortBy(h => (df(h), h))
    val rank = scala.collection.mutable.LongMap.empty[Int]
    shared.indices.foreach(r => rank(shared(r)) = r)
    val index = Array.fill(shared.length)(List.empty[Int])
    val seen = Array.fill(sets.length)(-1)
    val uf = new MinRootUnionFind
    for (i <- sets.indices) {
      val n = sets(i).length
      var minInter = math.max(1, math.floor(tau * n).toInt - 1)
      while (minInter <= n && minInter.toDouble / n < tau) minInter += 1
      val reduced = sets(i).map(rank.getOrElse(_, -1)).filter(_ >= 0).sorted
      reduced.take(reduced.length - minInter + 1).foreach { r =>
        index(r).foreach { j =>
          if (seen(j) != i && ids(j) != ids(i)) {
            seen(j) = i
            val inter = graft.plans.SortedLongArrayIntersectSize
              .count(packed(i), packed(j))
            if (inter.toDouble / (n + sets(j).length - inter) >= tau)
              uf.union(ids(i), ids(j))
          }
        }
        index(r) = i :: index(r)
      }
    }
    Some(uf.nonRoots.toArray.sorted)
  }

  /** Keep-BEST-per-cluster: the production keep policy — per near-dup
    * component retain the doc with the highest (numeric) `score`, ties
    * broken by lowest id; unpaired docs keep themselves. "Longest copy
    * wins" / "highest quality-classifier score wins" are this with the
    * corresponding score column.
    *
    * Scale shape: only (id, score, component) rows reach the
    * per-component argmax — ONE exchange of three narrow columns; the
    * winner ids then semi-join back so the doc payload (text,
    * embeddings, ...) is never shuffled. The argmax itself is
    * min(struct(-score, id)) — lexicographic struct ordering gives max
    * score then min id with full map-side partial aggregation (no
    * window, no per-component sort).
    */
  def keepBest(docs: DataFrame, pairs: DataFrame, score: Column,
               id: String = "doc_id"): DataFrame = {
    val cc = connectedComponents(pairs)
    // null-safe keep policy: a null (or uncastable) score must LOSE its
    // cluster, but struct ordering sorts a null field first — so a null
    // would win the min(struct(-score, id)) argmax. Pin it to -inf.
    val winners = docs.select(col(id),
        coalesce(score.cast("double"), lit(Double.NegativeInfinity)).as("__s"))
      .join(cc.withColumnRenamed("node", id), Seq(id), "left")
      .select(col(id), col("__s"),
        coalesce(col("component"), col(id)).as("component"))
      .groupBy(col("component"))
      .agg(min(struct(negate(col("__s")).as("ns"),
        col(id).as("kid"))).as("w"))
      .select(col("w.kid").as(id))
    docs.join(winners, Seq(id), "left_semi")
  }

  /** Semantic split-leakage detection — the embedding-space complement
    * of `contamination`: which TRAIN vectors are cosine-similar (>=
    * tauNum/tauDen, exact quantized gate) to any HOLDOUT/eval vector?
    * N-gram decontamination misses paraphrases; this catches them at the
    * representation level. The split is the deterministic hash fold
    * (`Sampling.foldId`), so train/holdout membership is reproducible
    * across runs and engines.
    *
    * Scale shape: the holdout is a fixed small fraction, so its
    * quantized vectors broadcast and the train side streams one pass —
    * no shuffle of the corpus (swap in LSH banding via `lshCosinePairs`
    * machinery when the holdout outgrows the broadcast budget).
    */
  def semanticLeakage(embs: DataFrame, folds: Int, holdoutFold: Int,
                      tauNum: Int, tauDen: Int): DataFrame = {
    import graft.functions.VectorFunctions.quantize
    import graft.plans.LongArrayDot
    val withFold = embs.withColumn("fold",
      graft.operators.Sampling.foldId(col("vec_id"), folds))
    def prep(df: DataFrame, id: String, v: String, n: String): DataFrame =
      df.select(col("vec_id").as(id), quantize(col("embedding")).as(v))
        .withColumn(n, LongArrayDot(col(v), col(v)))
    val holdout = prep(withFold.filter(col("fold") === holdoutFold),
      "h_id", "hv", "hn")
    val train = prep(withFold.filter(col("fold") =!= holdoutFold),
      "t_id", "tv", "tn")
    // fused gate, not LongArrayDot + the Column gate: Catalyst pushes
    // the filter into the cross-join condition (good — rows are pruned
    // in the broadcast probe loop) where the inlined Column form would
    // evaluate the dot three times per (train, holdout) pair plus
    // decimal math (measured 20x at sf1 on this query)
    train.crossJoin(broadcast(holdout))
      .filter(graft.plans.QCosineGateExpr(col("tv"), col("hv"),
        col("tn"), col("hn"), tauNum, tauDen))
      .select(col("t_id"), col("h_id"))
  }

  /** Random-hyperplane LSH near-dup over embeddings (SimHash for
    * vectors): `bits` fixed hyperplanes give each vector a sign bit per
    * plane; bits are banded, vectors sharing any band key become
    * candidates, and candidates are verified with the exact
    * integer-quantized cosine gate. The hyperplane family is a fixed
    * affine sequence (engine-portable, no RNG), so signatures are
    * deterministic across runs and engines.
    *
    * The scale path when no natural blocking column exists (cf.
    * `embeddingPairs`): candidate generation shuffles only (band, key)
    * pairs — constant bytes per vector — and more `bits` per band
    * shrinks buckets as the corpus grows. Recall is tuned by
    * bands × (bits/band) in the standard LSH way; verification keeps
    * precision exact.
    */
  def lshCosinePairs(embs: DataFrame, tauNum: Int, tauDen: Int,
                     bits: Int = 0, bands: Int = 4,
                     dim: Int = 64, n: Long = -1L): DataFrame = {
    import graft.functions.VectorFunctions.{quantize, qcosineGate, lshBandKeys, autoBits}
    import graft.plans.LongArrayDot
    // bits = 0 (the default) sizes the banding from the corpus:
    // bits/band = ceil(log2(n/target)) keeps candidates ~n·target
    // (linear) where any FIXED bits is ~n²/2^(bits/bands) — the one
    // measured super-linear plan term at sf3 (252.9s fixed vs 32.7s
    // sized). The count is metadata-only on a bare parquet scan but a
    // real job on a filtered/derived input — callers composing
    // operators should thread one count through via `n` (resolved once
    // here, shared by the banding and the broadcast-budget check).
    val nRows = corpusCount(embs, n)
    val sizedBits =
      if (bits > 0) bits else autoBits(nRows, bands = bands)
    val bandKeys = lshBandKeys(col("qv"), sizedBits, bands, dim)
    val broadcastable = broadcastableVectors(nRows, dim)
    // memo barrier: signatures + quantized vectors feed three branches
    // (banding, both verification sides). On the broadcast arm the
    // barrier is localCheckpoint, not repartition: the candidate join
    // streams 120M+ rows (sf1) through whatever sits in its probe
    // pipeline, and keeping the scan→quantize→explode chain there
    // measured 3x slower than probing over materialized rows (the
    // Generate+BHJ interplay, not the 20k-row subtree cost itself).
    val prep0 = graft.engine.Spread(embs)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qn", LongArrayDot(col("qv"), col("qv")))
      .withColumn("bks", array(bandKeys: _*))
      .transform(graft.engine.Spread.byKey(_, col("vec_id")))
    val prep = if (broadcastable) prep0.localCheckpoint(true) else prep0
    val banded0 = prep.select(col("vec_id"),
      posexplode(col("bks")).as(Seq("band", "bk")))
    val banded = if (broadcastable) banded0.localCheckpoint(true) else banded0
    // join path, not HOF expansion: hyperplane buckets are corpus/2^bits
    // members — large, the regime where the codegen'd self-join wins 2x
    // (measured on q_knn_graph; minhashPairs keeps the HOF path because
    // minhash buckets are tiny by LSH design)
    val m1 = prep.select(col("vec_id").as("v1"), col("qv").as("qv1"),
      col("qn").as("qn1"))
    val m2 = prep.select(col("vec_id").as("v2"), col("qv").as("qv2"),
      col("qn").as("qn2"))
    // The candidate stream is the scale term (n²/2^(bits/bands) per
    // band — 100M rows at sf1) and the naive shape pays for it TWICE:
    // a distinct-shuffle of every candidate, then shuffle joins that
    // attach two 64-long arrays per candidate row (~100 GB of exchange
    // at sf1 — a measured 344 s). When the whole quantized-vector table
    // fits in a broadcast (n·dim·8 B ≈ 10 MB at sf1), invert the shape:
    // stream RAW candidates (no pre-dedup) through two broadcast hash
    // probes + the codegen'd dot/gate, and dedup only the tiny survivor
    // set — a pair re-verifies once per shared band (≤ bands ×), far
    // cheaper than shuffling 100M rows for distinctness. 344 s → the
    // candidate join + 6.4G multiply-adds. Cluster path (corpus too big
    // to broadcast) keeps the dedup-then-shuffle-join shape.
    // QCosineGateExpr, not LongArrayDot + qcosineGate: Catalyst pushes
    // this filter into the join CONDITION (good — candidates are pruned
    // before the row materializes), but inlining the Column-level form
    // there evaluates the dot THREE times per candidate plus decimal
    // math (measured 107 s at sf1); the fused expression runs one
    // codegen'd loop + a long compare (5 s).
    val gate = graft.plans.QCosineGateExpr(col("qv1"), col("qv2"),
      col("qn1"), col("qn2"), tauNum, tauDen)
    if (broadcastable)
      bandCandidatePairsJoin(banded, "vec_id", "v1", "v2", dedup = false)
        .join(broadcast(m1), "v1").join(broadcast(m2), "v2")
        .filter(gate)
        .select(col("v1"), col("v2"))
        .dropDuplicates("v1", "v2")
    else
      bandCandidatePairsJoin(banded, "vec_id", "v1", "v2")
        .join(m1, "v1").join(m2, "v2")
        .filter(gate)
        .select(col("v1"), col("v2"))
  }

  /** True when the whole quantized-vector table fits in a broadcast
    * (the hash relation costs ~3-4x the raw n·dim·8 bytes in heap).
    */
  private[operators] def broadcastableVectors(n: Long, dim: Int): Boolean =
    n * dim * 8L <= BroadcastVerifyBytes / 4

  /** Row count for banding / broadcast sizing: the caller's hint when
    * given (>= 0), else the optimizer's row-count statistic when it
    * carries one (LocalRelation / Range / limit — exact under the
    * default size-only estimator), else one `count()` job. Exactness
    * matters: the DuckDB oracles replicate the autoBits sizing rule
    * from the true count, so an estimated statistic would shift the
    * banding and the result.
    */
  private[operators] def corpusCount(df: DataFrame, hint: Long): Long =
    if (hint >= 0L) hint
    else df.queryExecution.optimizedPlan.stats.rowCount match {
      case Some(rc) => rc.toLong
      case None     => df.count()
    }

  /** Embedding near-dup pairs: blocked all-pairs join with exact
    * integer-quantized cosine >= tauNum/tauDen. `blockCol` bounds the
    * quadratic term (prod: coarse-quantizer cell; here: label).
    *
    * Quantized vectors and norms are computed ONCE per vector before the
    * join (the join exchange materializes them), so the per-pair work is
    * a single codegen'd LongArrayDot + integer gate.
    */
  /** One side of a gated-cosine pair join: block key + quantized vector
    * + norm under positional names. Shared by [[embeddingPairs]] and
    * [[embeddingPairsAcross]] so the self-join and cross-frame forms
    * can never diverge in prep (scale, norm, spread) — the pair law the
    * streaming twin depends on.
    */
  private def pairSide(df: DataFrame, blockCol: String, vid: String,
                       qv: String, qn: String): DataFrame = {
    import graft.functions.VectorFunctions.quantize
    import graft.plans.LongArrayDot
    graft.engine.Spread(df)
      .select(col(blockCol).as("blk"), col("vec_id").as(vid),
        quantize(col("embedding")).as(qv))
      .withColumn(qn, LongArrayDot(col(qv), col(qv)))
  }

  def embeddingPairs(embs: DataFrame, tauNum: Int, tauDen: Int,
                     blockCol: String = "label"): DataFrame =
    pairSide(embs, blockCol, "v1", "qv1", "qn1")
      .join(pairSide(embs, blockCol, "v2", "qv2", "qn2"), Seq("blk"))
      .filter(col("v1") < col("v2"))
      // fused gate (one dot per pair even when pushed into the join
      // condition — see lshCosinePairs)
      .filter(graft.plans.QCosineGateExpr(col("qv1"), col("qv2"),
        col("qn1"), col("qn2"), tauNum, tauDen))
      .select(col("blk"), col("v1"), col("v2"))

  /** Gated cosine pairs ACROSS two frames: every `a` vector against
    * every `b` vector sharing a block, exact quantized cosine >=
    * tauNum/tauDen — the incremental semantic-dedup twin's new×stored
    * edge step (the self-join form can't see across frames). Same
    * prep/gate as [[embeddingPairs]]; self-pairs excluded; callers pass
    * disjoint vec_id sets (arriving shard vs stored corpus). The `b`
    * side streams — only `a` (the shard) is exchanged per block.
    */
  def embeddingPairsAcross(a: DataFrame, b: DataFrame, tauNum: Int,
                           tauDen: Int,
                           blockCol: String = "label"): DataFrame =
    pairSide(a, blockCol, "v1", "qv1", "qn1")
      .join(pairSide(b, blockCol, "v2", "qv2", "qn2"), Seq("blk"))
      .filter(col("v1") =!= col("v2"))
      .filter(graft.plans.QCosineGateExpr(col("qv1"), col("qv2"),
        col("qn1"), col("qn2"), tauNum, tauDen))
      .select(col("blk"), col("v1"), col("v2"))

  /** SemDeDup-style semantic dedup (cluster-then-compare; Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): partition the embedding space with the
    * deterministic k-means of [[Similarity.trainCentroids]], enumerate
    * candidate pairs ONLY within a cluster, gate on exact quantized
    * cosine >= tauNum/tauDen, close over connected components, and
    * return every vector with its cluster and canonical (min-id)
    * representative.
    *
    * Scale shape: centroids broadcast (nlist rows); assignment is a
    * broadcast nested-loop over nlist candidates folded by a
    * struct-min aggregation (one shuffle keyed by vec_id, no window
    * sort); the only quadratic term is the within-cluster pair join,
    * bounded by the largest cluster. The corpus is never all-pairs
    * joined. The assignment is localCheckpointed because three
    * consumers (both pair sides + the final projection) would
    * otherwise re-run the centroid scan.
    *
    * `nlist` is the production knob and MUST grow with the corpus —
    * the autoBits lesson replayed: at a FIXED nlist the in-cell pair
    * term is ~n²/nlist (measured: 6.8 s at 20k vectors -> 418 s at
    * 200k with nlist=8, PLANS.md r8). `nlist = 0` (the default)
    * corpus-sizes it to ceil(sqrt(n)): assignment work is n·nlist
    * dots and in-cell pair work ~n²/nlist gates, so sqrt(n) equalizes
    * the two at n^1.5 — the balanced single-level quantizer (a fixed
    * targetCluster = n/nlist would make the pair stage linear but the
    * ASSIGNMENT quadratic instead).
    *
    * REGIME SWITCH (the Σdf² pattern of [[containmentPairs]], replayed
    * here): past `autoTwoLevel` vectors (default
    * [[SemanticTwoLevelVectors]]) the call routes to
    * [[semanticDedupTwoLevel]] — the single-level n·nlist quantizer
    * aggregation is MEASURED to spill a 48 GB heap at 200k vectors
    * (125 s warm / 899 s cold) while the two-level path runs the same
    * corpus in 62.6 s with no spill (PLANS.md r8). The routed result is
    * APPROXIMATE in the IVF sense (sampled quantizer training +
    * nprobe-probed coarse assignment; some cross-cell near-dup pairs
    * are missed) — except when the training sample still covers the
    * whole corpus (n <= sampleFactor·nlist), where the router upgrades
    * nprobe to exact and the output is IDENTICAL to the single-level
    * path (spec-locked boundary law in DedupSpec). Callers that need
    * the exact single-level result at any size pass
    * `autoTwoLevel = Long.MaxValue` and accept the spill.
    *
    * The route decision needs the corpus count even when `nlist` is
    * explicit — one [[corpusCount]] per call (hint → optimizer
    * statistic → count() job); pass `n` to skip the job on large
    * frames.
    */
  def semanticDedup(embs: DataFrame, nlist: Int = 0, iters: Int = 2,
                    tauNum: Int = 4, tauDen: Int = 10,
                    n: Long = -1L,
                    autoTwoLevel: Long = SemanticTwoLevelVectors): DataFrame = {
    require(nlist >= 0, s"nlist=$nlist must be >= 0 (0 = corpus-sized)")
    require(autoTwoLevel >= 1, s"autoTwoLevel=$autoTwoLevel must be >= 1")
    val nRows = corpusCount(embs, n)
    if (nRows > autoTwoLevel) {
      val sized =
        if (nlist > 0) nlist
        else math.max(1L,
          math.ceil(math.sqrt(nRows.toDouble)).toLong).toInt
      // two-level defaults; when the training sample covers the whole
      // corpus anyway, probing every coarse group costs what the
      // single-level assignment would and buys back exactness
      val sf = SemanticSampleFactor
      val np = if (sf.toLong * sized >= nRows) sized else 2
      return semanticDedupTwoLevel(embs, nlist, iters, tauNum, tauDen,
        nRows, kCoarse = 0, nprobe = np, sampleFactor = sf)
    }
    val sizedNlist =
      if (nlist > 0) nlist
      else math.max(1L, math.ceil(math.sqrt(nRows.toDouble)).toLong).toInt
    val cents = labeled(embs, "graft.semdedup: centroid training")(
      Similarity.trainCentroids(embs, sizedNlist, iters))
    semanticTail(labeled(embs, "graft.semdedup: assignment")(
      assignToCentroids(embs, cents)), tauNum, tauDen)
  }

  /** Nearest-centroid cell assignment (argmin |c|² − 2⟨v,c⟩, ties to
    * the lower cent_id — identical to the trainCentroids rule) as a
    * broadcast nested-loop + struct-min aggregation; returns
    * (vec_id, embedding, cent_id), localCheckpointed for its multiple
    * tail consumers. Shared by [[semanticDedup]] and the streaming
    * incremental twin (frozen-quantizer assignment of arriving shards).
    *
    * Why an aggregation and not the training loop's row_number window —
    * both are measured (PLANS.md r8): here every candidate row carries
    * the embedding payload, and the aggregation's map-side partial
    * collapse reduces the n×nlist stream to n rows BEFORE the exchange,
    * where the window form must exchange-and-sort all n×nlist
    * payload-bearing rows (239 s vs 120-143 s at sf10). Training rows
    * are narrower and there the codegen'd sort wins. first() is
    * deterministic: every row of a vid group carries the same
    * embedding.
    */
  private[graft] def assignToCentroids(embs: DataFrame,
                                       cents: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.quantize
    import graft.plans.LongArrayDot
    graft.engine.Spread(embs)
      .select(col("vec_id").as("vid"), col("embedding"),
        quantize(col("embedding")).as("cv"))
      .crossJoin(broadcast(cents))
      .withColumn("dist2c",
        LongArrayDot(col("cent_v"), col("cent_v")) -
          lit(2L) * LongArrayDot(col("cv"), col("cent_v")))
      .groupBy(col("vid"))
      .agg(min(struct(col("dist2c"), col("cent_id"))).as("mc"),
        first(col("embedding")).as("embedding"))
      .select(col("vid").as("vec_id"), col("embedding"),
        col("mc.cent_id").as("cent_id"))
      .localCheckpoint(true)
  }

  /** [[semanticDedup]] with a CALLER-SUPPLIED quantizer — assignment +
    * pair/component/canonical tail over given centroids
    * (cent_id, cent_v rows as produced by
    * [[Similarity.trainCentroids]]). This is the batch reference the
    * streaming incremental law compares against: stream shards assigned
    * to the same frozen centroids must reproduce exactly this output
    * over the union.
    */
  def semanticDedupWith(embs: DataFrame, cents: DataFrame,
                        tauNum: Int = 4, tauDen: Int = 10): DataFrame =
    semanticTail(assignToCentroids(embs, cents), tauNum, tauDen)

  /** Shared pair/cluster/canonical tail of the semantic-dedup family:
    * within-cell exact-cosine pairs -> connected components -> min-id
    * canonical per vector.
    */
  private def semanticTail(assigned: DataFrame, tauNum: Int,
                           tauDen: Int): DataFrame = {
    val pairs = embeddingPairs(assigned, tauNum, tauDen,
      blockCol = "cent_id")
    val comp = connectedComponents(
      pairs.select(col("v1").as("d1"), col("v2").as("d2")))
    assigned.select(col("vec_id"), col("cent_id"))
      .join(comp.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        coalesce(col("component"), col("vec_id")).as("canonical"))
  }

  /** The documented next scale step of [[semanticDedup]]: two-level
    * (coarse x fine) assignment plus sampled centroid training, cutting
    * the n·nlist assignment and the iters·n·nlist training terms that
    * make single-level SemDeDup n^1.5.
    *
    *   - fine centroids train on a DETERMINISTIC sample of
    *     min(n, sampleFactor·nlist) vectors (lowest salted stable hash
    *     of vec_id — the standard faiss practice of training the
    *     quantizer on a corpus sample): train cost drops from
    *     iters·n·nlist to iters·sampleFactor·nlist².
    *   - the nlist fine centroids are grouped into kCoarse =
    *     ceil(sqrt(nlist)) super-clusters by a driver-side Lloyd pass
    *     (nlist rows of dim longs — bounded like the union-find edge
    *     collect, a few MB even at 10^9 vectors where nlist ≈ 31k);
    *   - every vector picks its nearest COARSE centroid (n·kCoarse
    *     dots), then its nearest fine centroid WITHIN that coarse
    *     group via a broadcast join on coarse_id (n·nlist/kCoarse
    *     rows) — total assignment ~2·n·sqrt(nlist) = O(n^1.25) when
    *     nlist = sqrt(n), vs O(n^1.5) single-level.
    *
    * APPROXIMATE by design: a vector whose true nearest fine centroid
    * sits in a non-probed coarse group lands in a neighbor cell, so
    * some cross-cell near-dup pairs are missed — the IVF recall
    * trade-off. `nprobe` (default 2) is the standard buy-back knob:
    * each vector's fine argmin runs over the fine centroids of its
    * `nprobe` nearest coarse groups (a bounded-heap TopKPairsAgg pick,
    * cost ~nprobe·n·nlist/kCoarse — still O(n^1.25)). nprobe =
    * kCoarse, or kCoarse = 1, makes the fine argmin exact and the
    * output equals [[semanticDedup]] on the same centroids
    * (spec-locked). Deterministic: sampling, training, the driver
    * Lloyd, and both picks are all integer/hash arithmetic with fixed
    * tie-breaks.
    */
  def semanticDedupTwoLevel(embs: DataFrame, nlist: Int = 0,
                            iters: Int = 2, tauNum: Int = 4,
                            tauDen: Int = 10, n: Long = -1L,
                            kCoarse: Int = 0, nprobe: Int = 2,
                            sampleFactor: Int = SemanticSampleFactor): DataFrame = {
    import graft.functions.VectorFunctions.quantize
    import graft.functions.StableHash.stableHash60
    import graft.plans.LongArrayDot
    val spark = embs.sparkSession
    require(nlist >= 0 && kCoarse >= 0 && sampleFactor >= 1 && nprobe >= 1)
    val nRows = corpusCount(embs, n)
    val sizedNlist =
      if (nlist > 0) nlist
      else math.max(1L, math.ceil(math.sqrt(nRows.toDouble)).toLong).toInt
    val m = math.min(nRows, sampleFactor.toLong * sizedNlist)
    // deterministic training sample: lowest salted hash of vec_id (the
    // salt decorrelates from every other doc/vec-hash split, the cvFold
    // rule); TakeOrdered keeps m rows — executor-sized for any real
    // sampleFactor — and the checkpoint stops trainCentroids' per-iter
    // jobs from re-running the top-m selection
    require(m >= nRows || m <= Int.MaxValue,
      s"training sample size $m (= sampleFactor=$sampleFactor x " +
        s"nlist=$sizedNlist) exceeds Int.MaxValue — lower sampleFactor " +
        "or nlist")
    // the repartition after limit matters at scale: GlobalLimit collapses
    // the sample to ONE partition, and without it the iters×(m×nlist)
    // training windows run single-threaded (measured: the 2M-vector run
    // sat at ~1 core through training — 71k sample × nlist 1415 = 100M
    // window rows per iteration on one thread). trainCentroids is
    // partition-invariant (spec-locked), so the spread is free.
    val sample =
      if (m >= nRows) embs
      else labeled(embs, "graft.semdedup2: training sample") {
        embs.orderBy(
            stableHash60(concat(col("vec_id").cast("string"),
              lit(":semsample"))).asc, col("vec_id"))
          .limit(m.toInt)
          .repartition(embs.sparkSession.sparkContext.defaultParallelism)
          .localCheckpoint(true)
      }
    val fineRows = labeled(embs, "graft.semdedup2: centroid training") {
      Similarity.trainCentroids(sample, sizedNlist, iters).collect()
    }.map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    if (fineRows.isEmpty)
      return embs.select(col("vec_id"), lit(0L).as("cent_id"),
        col("vec_id").as("canonical")).where(lit(false))
    val kC = math.min(fineRows.length,
      if (kCoarse > 0) kCoarse
      else math.max(1L, math.ceil(math.sqrt(fineRows.length.toDouble)).toLong).toInt)
    // driver Lloyd over the fine centroids: same rules as trainCentroids
    // (init = lowest ids, argmin ties to lower id, truncating integer
    // mean, empty groups keep their centroid)
    val dim = fineRows.head._2.length
    def argmin(v: Array[Long], cs: Array[Array[Long]]): Int = {
      var best = 0; var bestD = Long.MaxValue
      var j = 0
      while (j < cs.length) {
        var cc = 0L; var vc = 0L; var i = 0
        while (i < dim) { cc += cs(j)(i) * cs(j)(i); vc += v(i) * cs(j)(i); i += 1 }
        val d = cc - 2L * vc
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      best
    }
    var coarse = fineRows.take(kC).map(_._2)
    for (_ <- 0 until iters) {
      val groups = fineRows.groupBy { case (_, v) => argmin(v, coarse) }
      coarse = coarse.zipWithIndex.map { case (prev, j) =>
        groups.get(j) match {
          case Some(members) =>
            Array.tabulate(dim) { i =>
              val s = members.map(_._2(i)).sum
              (s.toDouble / members.length).toLong
            }
          case None => prev
        }
      }
    }
    val fineToCoarse = fineRows.map { case (id, v) =>
      (id, v.toSeq, argmin(v, coarse).toLong) }
    import spark.implicits._
    val fineDf = fineToCoarse.toSeq
      .toDF("fine_id", "fine_v", "coarse_id")
    // only NON-EMPTY coarse groups are probe targets: a vector whose
    // nearest coarse centroid owned no fine members would otherwise
    // vanish through the inner fine join — every vector must appear in
    // the output exactly once, like the single-level operator
    val usedCoarse = fineToCoarse.map(_._3).toSet
    val coarseDf = coarse.zipWithIndex.toSeq
      .collect { case (v, j) if usedCoarse(j.toLong) => (j.toLong, v.toSeq) }
      .toDF("coarse_id", "coarse_v")
    // both picks are bounded aggregations, not windows: the rows carry
    // the embedding + quantized payloads, so the map-side partial
    // collapse (n×k stream -> n rows before any exchange) is the
    // measured winner exactly as in semanticDedup's final assignment.
    // The coarse pick keeps the nprobe best groups via the same
    // bounded-heap aggregator as sourceQuota ((-dist desc, id asc) ==
    // (dist asc, id asc), the argmin tie rule).
    val assigned = labeled(embs, "graft.semdedup2: coarse+fine assignment") {
      graft.engine.Spread(embs)
      .select(col("vec_id").as("vid"), col("embedding"),
        quantize(col("embedding")).as("cv"))
      .crossJoin(broadcast(coarseDf))
      .withColumn("dist2c",
        LongArrayDot(col("coarse_v"), col("coarse_v")) -
          lit(2L) * LongArrayDot(col("cv"), col("coarse_v")))
      .groupBy(col("vid"))
      .agg(graft.plans.TopKPairsAgg(-col("dist2c"), col("coarse_id"),
          math.min(nprobe, kC), distinctIds = false).as("top"),
        first(col("embedding")).as("embedding"), first(col("cv")).as("cv"))
      .select(col("vid"), col("embedding"), col("cv"),
        explode(col("top.id")).as("coarse_id"))
      .join(broadcast(fineDf), Seq("coarse_id"))
      .withColumn("dist2f",
        LongArrayDot(col("fine_v"), col("fine_v")) -
          lit(2L) * LongArrayDot(col("cv"), col("fine_v")))
      .groupBy(col("vid"))
      .agg(min(struct(col("dist2f"), col("fine_id"))).as("mf"),
        first(col("embedding")).as("embedding"))
      .select(col("vid").as("vec_id"), col("embedding"),
        col("mf.fine_id").as("cent_id"))
      .localCheckpoint(true)
    }
    semanticTail(assigned, tauNum, tauDen)
  }

  // ------------------------------------------------------------------
  // Exact substring (token-span) dedup — the "50-token overlap" family
  // ------------------------------------------------------------------

  /** (doc_id, p) pairs — 0-based token positions, distinct — covered by
    * a duplicated window in a non-canonical holder. A window is the
    * exact `l`-token sequence starting at each position; it is
    * duplicated iff it occurs in >= 2 distinct docs, and the lowest
    * doc_id holding it is the canonical keeper.
    *
    * One exchange keyed by the window resolves min-holder + distinct-doc
    * count (partial aggregation halves it); the postings then join that
    * table on the same key. No self-join, no per-pair work: cost is
    * O(tokens * l) shuffled bytes — the posting formulation of exact
    * substring dedup (vs the suffix-array formulation, which needs a
    * global sort of the same volume).
    */
  /** (doc_id, i, g) — every l-token window starting at 0-based position
    * i, keyed by the window string (or its xxhash64 when `hashKeys`).
    */
  private def windowGrams(docs: DataFrame, l: Int,
                          hashKeys: Boolean): DataFrame = {
    require(l >= 1, s"window length l=$l must be >= 1")
    graft.engine.Spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= l)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("ts")) - l)).as("i"),
        array_join(slice(col("ts"), col("i") + 1, lit(l)), " ").as("gram"))
      .select(col("doc_id"), col("i"),
        (if (hashKeys) xxhash64(col("gram")) else col("gram")).as("g"))
  }

  private def coveredPositions(docs: DataFrame, l: Int,
                               hashKeys: Boolean): DataFrame = {
    val keyed = windowGrams(docs, l, hashKeys)
    val dupHolders = keyed.groupBy(col("g"))
      .agg(min(col("doc_id")).as("d0"),
        count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("g"), col("d0"))
    keyed.join(dupHolders, Seq("g"))
      .filter(col("doc_id") > col("d0"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (l - 1))).as("p"))
      .distinct()
  }

  /** Every doc rebuilt without its covered token positions; `cov` is
    * (doc_id, p) distinct. Covered positions arrive as one small
    * per-doc set, so the rebuild is a narrow higher-order filter — the
    * doc text is never shuffled.
    */
  private def rebuildMinusCovered(docs: DataFrame,
                                  cov: DataFrame): DataFrame = {
    val covSets = cov.groupBy(col("doc_id"))
      .agg(collect_set(col("p")).as("cov"))
    docs.join(covSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cov").isNull, lit(0L))
          .otherwise(size(col("cov")).cast("long")).as("n_removed"),
        array_join(filter(split(col("text"), " "),
            (t: Column, i: Column) =>
              coalesce(!array_contains(col("cov"), i), lit(true))),
          " ").as("clean_text"))
  }

  /** Cross-doc duplicated token spans — exact-substring dedup (the
    * "remove any 50-token span already seen elsewhere" rule LLM
    * pipelines apply to training corpora and eval decontamination).
    * Returns (doc_id, span_start, span_end): maximal runs (0-based
    * token indices, inclusive) of positions covered by any duplicated
    * `l`-token window in a non-canonical holder; the lowest doc_id
    * holding a window keeps it (see [[coveredPositions]] for the
    * contract and shuffle shape).
    *
    * The interval merge is gaps-and-islands over a doc-partitioned
    * window — per-doc work only, never corpus-wide.
    *
    * `hashKeys=true` shuffles an 8-byte xxhash64 of each window instead
    * of the window string (l·avgTokenBytes -> 8 bytes per posting: the
    * 100 TB knob). A 64-bit collision can only MERGE two windows'
    * holder sets — it may over-mark a span, never miss one; the exact
    * string path is what the oracle gates, and `DedupSpec` pins the two
    * paths equal on the testdata.
    */
  def duplicateSpans(docs: DataFrame, l: Int,
                     hashKeys: Boolean = false): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    coveredPositions(docs, l, hashKeys)
      .withColumn("grp", col("p") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).as("s"), max(col("p")).as("e"))
      .select(col("doc_id"), col("s").cast("long").as("span_start"),
        col("e").cast("long").as("span_end"))
  }

  /** Excision: every doc rebuilt with its duplicated spans removed (the
    * canonical holder keeps its text — see [[duplicateSpans]]). Returns
    * ALL input docs as (doc_id, n_removed, clean_text); untouched docs
    * come back with n_removed = 0 and the single-space-normalized
    * original. Covered positions arrive as one small per-doc set
    * (collect_set), so the rebuild is a narrow higher-order filter —
    * the doc text itself is never shuffled.
    */
  def exciseDuplicateSpans(docs: DataFrame, l: Int,
                           hashKeys: Boolean = false): DataFrame =
    rebuildMinusCovered(docs, coveredPositions(docs, l, hashKeys))

  /** Decontamination by EXCISION: rebuild `docs` without any token
    * position covered by an l-token window that occurs anywhere in
    * `seen` — the reference side is authoritative, no canonical-holder
    * logic. This is the surgical alternative to dropping whole flagged
    * docs ([[contamination]] / `incrementalDedup`): an eval answer
    * embedded in an otherwise-good document is cut out and the rest of
    * the document survives.
    *
    * Scale regimes, both one equi-join on the window key:
    *   - eval-set decontamination: `seen` is MBs against a 100 TB
    *     corpus — its distinct grams broadcast and the corpus streams
    *     map-side;
    *   - daily-ingest vs stored corpus: `seen` is the big side —
    *     `hashKeys=true` makes each posting 8 bytes and the join a
    *     sort-merge on longs; AQE picks the arm by measured size.
    * Either way only (doc_id, i, key) rows move; the rebuild is narrow
    * (see [[rebuildMinusCovered]]). Returns ALL input docs as
    * (doc_id, n_removed, clean_text).
    */
  def exciseSeenSpans(docs: DataFrame, seen: DataFrame, l: Int,
                      hashKeys: Boolean = false): DataFrame = {
    val cov = windowGrams(docs, l, hashKeys)
      .join(windowGrams(seen, l, hashKeys).select(col("g")).distinct(),
        Seq("g"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (l - 1))).as("p"))
      .distinct()
    rebuildMinusCovered(docs, cov)
  }
}
