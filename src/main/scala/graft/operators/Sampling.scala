package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.StableHash.stableHash60

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Everything is keyed on a stable content hash, never on RNG or row
  * position: the same row lands in the same fold on every run, every
  * engine, every partitioning — which is what makes train/val/test
  * splits reproducible and join-stable at 100 TB (a re-run or a
  * repartition cannot move examples across the split boundary).
  * All operators are narrow per-row filters — no shuffle.
  */
object Sampling {

  /** Deterministic fold id in [0, folds): 60-bit stable hash of the key
    * modulo folds (hash is non-negative by construction).
    */
  def foldId(key: Column, folds: Int): Column =
    stableHash60(key.cast("string")) % folds

  /** Reproducible train/holdout split: rows with fold < trainFolds go to
    * train, the rest to holdout. Disjoint and exhaustive by construction.
    */
  def splitByHash(df: DataFrame, key: Column, folds: Int,
                  trainFolds: Int): (DataFrame, DataFrame) = {
    val f = foldId(key, folds)
    (df.filter(f < trainFolds), df.filter(f >= trainFolds))
  }

  /** Deterministic uniform downsample: keep num/den of rows by key hash. */
  def sampleByHash(df: DataFrame, key: Column, num: Int, den: Int): DataFrame =
    df.filter(foldId(key, den) < num)

  /** Stratified deterministic sample: per-stratum keep rates (num out of
    * `den` folds), e.g. Map("en" -> 5) with defaultNum 2, den 10 keeps
    * 50% of English rows and 20% of everything else — the standard
    * language/source rebalancing step when mixing training corpora.
    */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       rates: Map[String, Int], defaultNum: Int,
                       den: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultNum)) { case (acc, (value, num)) =>
      when(stratum === value, lit(num)).otherwise(acc)
    }
    df.filter(foldId(key, den) < rate)
  }

  /** EXACT per-group score-quantile thresholds WITHOUT any per-group
    * sort — the scale path for "keep the best num/den fraction of each
    * language/source by score" (perplexity filtering, length filtering,
    * quality-score selection). The window-rank formulation sorts every
    * row of the hottest group in one task; an approx-percentile
    * threshold doesn't keep an exact count and double-rounds the
    * boundary. This is distributed radix SELECTION instead: walk the
    * score's bits 12 at a time, keeping one (group → bit-prefix,
    * remaining-rank) entry per group on the driver; each round is one
    * linear scan producing a ≤4096-bucket histogram per group. The
    * k-th smallest (score, id) composite of every group is pinned
    * exactly after ≤6 score rounds plus, only for groups whose k-th
    * score is tied, ≤6 id rounds over the tie rows.
    *
    * k(g) = ceil(num·n_g / den) in INTEGER arithmetic (the double
    * `ceil(0.6*25)` is 16 on IEEE engines and 15 on decimal ones —
    * the fraction is taken as a rational on purpose).
    *
    * Scale contract: ~8 linear scans of a checkpointed (group, score,
    * id) projection (~20 bytes/row); driver state is one entry per
    * group per round plus the per-round histogram, O(min(rows,
    * 4096·|groups|)) — groups are languages/domains (≤ ~10^4), never
    * documents. No shuffle ever carries more than the histogram.
    * Requires (score, id) unique per row within a group (id a row id);
    * rows with a NULL group or a NULL score are not selected (and do
    * not count toward n_g) in either regime.
    *
    * Returns one row per group: (g, n, k, thr_s, thr_id); a row is
    * kept iff score < thr_s OR (score = thr_s AND id <= thr_id) —
    * [[topFractionByGroup]] applies exactly that broadcast filter.
    */
  /** Slim sign-flipped projection shared by both quantile regimes:
    * (group, score-image, id-image). Flipping the sign bit makes
    * bitwise-prefix order equal signed order for both keys. Rows with
    * a NULL group, NULL score, or NULL id are excluded BY CONTRACT
    * (both regimes; the score must be an integral column — a double
    * would truncate in the cast).
    */
  private def slimOf(df: DataFrame, groupCol: Column, scoreCol: Column,
                     idCol: Column): DataFrame = {
    val flip = lit(Long.MinValue)
    df.select(groupCol.cast("string").as("g"),
        scoreCol.cast("long").bitwiseXOR(flip).as("u"),
        idCol.cast("long").bitwiseXOR(flip).as("v"))
      .filter(col("g").isNotNull && col("u").isNotNull &&
        col("v").isNotNull)
  }

  /** One scan: per-group counts plus the per-group key extremes (the
    * global extremes reduce on the driver — they ride the counting
    * pass instead of costing a second scan).
    */
  private def statsOf(slim: DataFrame): Array[(String, Long, Long, Long,
      Long, Long)] = {
    import slim.sparkSession.implicits._
    slim.groupBy(col("g")).agg(count(lit(1)).as("n"),
        min(col("u")), max(col("u")), min(col("v")), max(col("v")))
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
  }

  def quantileThresholds(df: DataFrame, groupCol: Column, scoreCol: Column,
                         idCol: Column, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"need 0 < num/den <= 1, got $num/$den")
    val slim = slimOf(df, groupCol, scoreCol, idCol)
      .localCheckpoint(true) // eager: up to 13 scans follow
    thresholdsFrom(slim, statsOf(slim), num, den)
  }

  /** The radix machinery proper, over a checkpointed slim projection
    * and its precomputed per-group stats (see [[quantileThresholds]]
    * for the semantics and scale contract).
    */
  private def thresholdsFrom(slim: DataFrame,
                             stats: Array[(String, Long, Long, Long,
                               Long, Long)],
                             num: Int, den: Int): DataFrame = {
    val spark = slim.sparkSession
    import spark.implicits._
    val widths = Seq(12, 12, 12, 12, 12, 4) // 64 bits, ≤4096 buckets
    def highMask(bits: Int): Long =
      if (bits == 0) 0L else ~((1L << (64 - bits)) - 1)

    final case class St(g: String, var need: Long,
                        var prefU: Long, var prefV: Long)
    val st = stats.map { case (g, n, _, _, _, _) =>
      (g, n, St(g, need = (num.toLong * n + den - 1) / den, 0L, 0L))
    }
    if (st.isEmpty) // no selectable groups: empty threshold table
      return Seq.empty[(String, Long, Long, Long, Long)]
        .toDF("g", "n", "k", "thr_s", "thr_id")
    // global key ranges: digit rounds that fall entirely inside the
    // bits COMMON to min and max are answered without a scan (every
    // group shares that digit). Real scores occupy a narrow band —
    // e.g. micro-nat xents or document lengths pin ~45 of 64 bits —
    // so this typically collapses 6 rounds per key to 2-3 scans.
    val ext = (stats.map(_._3).min, stats.map(_._4).max,
      stats.map(_._5).min, stats.map(_._6).max)
    def commonBits(lo: Long, hi: Long): Int =
      java.lang.Long.numberOfLeadingZeros(lo ^ hi)

    /** One radix phase over `keyCol` ("u" or "v") for `groups`;
      * candidate rows are pinned to each group's resolved prefixes.
      * Mutates need + the phase's prefix in place.
      */
    def phase(keyCol: String, groups: Array[St]): Unit = {
      var bits = 0
      val (lo, common) =
        if (keyCol == "u") (ext._1, commonBits(ext._1, ext._2))
        else (ext._3, commonBits(ext._3, ext._4))
      for (w <- widths if groups.nonEmpty) {
        val shift = 64 - bits - w
        if (bits + w <= common) {
          // whole window inside the shared prefix: one digit possible
          val d = (lo >>> shift) & ((1L << w) - 1)
          for (s <- groups) {
            if (keyCol == "u") s.prefU |= d << shift
            else s.prefV |= d << shift
          }
        } else {
          val stDf = broadcast(groups.toSeq
            .map(s => (s.g, s.prefU, s.prefV)).toDF("g", "pu", "pv"))
          val mU = if (keyCol == "u") highMask(bits)
                   else highMask(64) // id phase: score fully pinned
          val mV = if (keyCol == "u") 0L else highMask(bits)
          val hist = slim.join(stDf, "g")
            .filter(($"u".bitwiseAND(lit(mU)) === $"pu") &&
              ($"v".bitwiseAND(lit(mV)) === $"pv"))
            .groupBy($"g", shiftrightunsigned(col(keyCol), shift)
              .bitwiseAND(lit((1L << w) - 1)).as("d"))
            .agg(count(lit(1)).as("c"))
            .as[(String, Long, Long)].collect()
            .groupBy(_._1)
          for (s <- groups) {
            // ascending cumulative walk to the bucket holding the k-th
            var need = s.need
            var chosen = -1L
            for ((_, d, c) <- hist(s.g).sortBy(_._2) if chosen < 0) {
              if (c >= need) chosen = d else need -= c
            }
            require(chosen >= 0, // every prefix holds >= need rows
              s"radix invariant broken for group ${s.g} at bits=$bits")
            s.need = need
            if (keyCol == "u") s.prefU |= chosen << shift
            else s.prefV |= chosen << shift
          }
        }
        bits += w
      }
    }

    phase("u", st.map(_._3))
    // groups whose k-th score is tied more broadly than `need` must
    // refine the id; the rest admit every tie row (thr_id = MAX)
    val ties = slim.join(broadcast(st.toSeq
        .map(t => (t._1, t._3.prefU)).toDF("g", "pu")), "g")
      .filter($"u" === $"pu").groupBy($"g")
      .agg(count(lit(1)).as("c")).as[(String, Long)].collect().toMap
    val needId = st.map(_._3).filter(s => ties(s.g) != s.need)
    if (needId.nonEmpty) phase("v", needId) // prefV still pristine 0

    val needIdSet = needId.map(_.g).toSet

    st.toSeq.map { case (g, n, s) =>
      val thrId = if (needIdSet.contains(g)) s.prefV ^ Long.MinValue
                  else Long.MaxValue
      (g, n, (num.toLong * n + den - 1) / den,
        s.prefU ^ Long.MinValue, thrId)
    }.toDF("g", "n", "k", "thr_s", "thr_id")
  }

  /** Keep EXACTLY ceil(num·n_g/den) rows per group — the num/den
    * best-by-(score, id); lower score = better (negate the score to
    * keep the largest). Two regimes, auto-routed on the MAX GROUP
    * SIZE (one counting scan):
    *
    *   - every group fits a single task's sort (max n_g <=
    *     `windowMaxGroup`) → the window-rank form: one shuffle, one
    *     per-group sort. Measured 3× faster than radix at <=1M-row
    *     groups (PLANS.md r9; probe tool last present at commit
    *     6989ace).
    *   - some group exceeds it → [[quantileThresholds]] radix
    *     selection + one broadcast-threshold filter: no task ever
    *     sorts the hot group. Measured 3× faster at an 18M-row hot
    *     group, and the window form's gap grows n·log n while radix
    *     stays corpus-linear.
    *
    * The default boundary (4M rows) sits between the measured 1M
    * (window wins 3×) and 18M (radix wins 3×) points. Pass
    * `windowMaxGroup = 0` to force radix (the oracle-gated path);
    * both regimes produce identical rows (spec law).
    */
  /** EXACT-count deterministic stratified sample: keep exactly
    * ceil(num·n_g/den) rows per group, chosen by stable content hash —
    * [[sampleByHash]]'s rate is only approximate per group (hash
    * buckets are binomial), while training-data recipes specify exact
    * per-language/per-source row budgets. Implemented as
    * [[topFractionByGroup]] with score = stableHash60(key): same
    * regimes (window for task-sortable groups, radix selection for hot
    * ones), same determinism guarantee (re-runs and repartitions keep
    * the identical sample).
    */
  def exactSampleByGroup(df: DataFrame, groupCol: Column, keyCol: Column,
                         idCol: Column, num: Int, den: Int,
                         windowMaxGroup: Long = 4000000L): DataFrame =
    topFractionByGroup(df, groupCol, stableHash60(keyCol.cast("string")),
      idCol, num, den, windowMaxGroup)

  /** Apply a FROZEN [[quantileThresholds]] table to any frame (batch
    * or streaming — broadcast join + narrow filter, no aggregation):
    * keep rows at-or-better than the group's pinned k-th (score, id).
    * The frozen-artifact twin of the dsirStats/dsirScoreWith split —
    * train thresholds on a snapshot, score every arriving shard
    * against them; rows of groups absent from the table are dropped
    * (no threshold = no selection mandate). The id component is only
    * pinned when training REQUIRED tie-breaking (thr_id = MaxValue
    * otherwise), so on new data every row scoring at thr_s keeps —
    * the score decides, the id merely reproduces training's exact-k
    * cut.
    */
  def keepByThresholds(df: DataFrame, groupCol: Column, scoreCol: Column,
                       idCol: Column, thresholds: DataFrame): DataFrame = {
    // reserved names: the caller's columns may be named g/thr_s/...
    val thr = thresholds
      .select(col("g").as("__qt_g"), col("thr_s").as("__qt_s"),
        col("thr_id").as("__qt_id"))
    val s = scoreCol.cast("long")
    df.join(broadcast(thr), groupCol.cast("string") === col("__qt_g"))
      .filter(s < col("__qt_s") ||
        (s === col("__qt_s") && idCol.cast("long") <= col("__qt_id")))
      .drop("__qt_g", "__qt_s", "__qt_id")
  }

  def topFractionByGroup(df: DataFrame, groupCol: Column, scoreCol: Column,
                         idCol: Column, num: Int, den: Int,
                         windowMaxGroup: Long = 4000000L): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"need 0 < num/den <= 1, got $num/$den")
    // ONE counting scan (pruned to the three key columns) serves both
    // the route decision and, on the radix route, the per-group stats
    def joinThresholds(thresholds: DataFrame): DataFrame =
      keepByThresholds(df, groupCol, scoreCol, idCol, thresholds)
    if (windowMaxGroup == 0)
      return joinThresholds(
        quantileThresholds(df, groupCol, scoreCol, idCol, num, den))
    val slim = slimOf(df, groupCol, scoreCol, idCol)
    val stats = statsOf(slim)
    if (stats.isEmpty || stats.map(_._2).max <= windowMaxGroup) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(groupCol)
        .orderBy(scoreCol.cast("long"), idCol.cast("long"))
      // idCol.isNotNull mirrors slimOf's filter so both regimes apply
      // the same NULL contract (a NULL id would otherwise rank
      // nulls-first here but crash the radix stats collect)
      df.filter(groupCol.isNotNull && scoreCol.isNotNull &&
          idCol.isNotNull)
        .withColumn("__qt_rn", row_number().over(w).cast("long"))
        .withColumn("__qt_n",
          count(lit(1)).over(Window.partitionBy(groupCol)))
        .filter((col("__qt_rn") - 1) * den < col("__qt_n") * num)
        .drop("__qt_rn", "__qt_n")
    } else joinThresholds(
      thresholdsFrom(slim.localCheckpoint(true), stats, num, den))
  }
}
