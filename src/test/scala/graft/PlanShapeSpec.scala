package graft

import scala.jdk.CollectionConverters._

/** Physical-plan shape guards for the properties that matter at 100 TB.
  * Correctness gates catch wrong VALUES; these catch wrong PLANS — a
  * regression that un-broadcasts a dimension join or stops pushing
  * filters into the parquet scan produces identical rows at sf0.01 and a
  * catastrophe at scale, so the plan properties are pinned here.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf())
      .queryExecution.executedPlan.toString

  /** Query `name`'s frame and the operator scopes of each distinct
    * stage that building it ran — the plan of an eager operator, read
    * off the jobs it ran, since its frame is a local result.
    */
  private def stagesOf(name: String)
      : (org.apache.spark.sql.DataFrame, Seq[Set[String]]) = {
    // the session's first read of the table probes its schema in a job
    graft.engine.Readers.table(spark, sf(), "embeddings")
    val (df, jobs) = withJobs(SparkEntry.queries(name)(spark, sf()))
    (df, SparkSpec.stages(jobs))
  }

  /** How many of `stages` ran an operator whose scope starts with `op`. */
  private def ran(stages: Seq[Set[String]], op: String): Int =
    stages.count(_.exists(_.startsWith(op)))

  test("q_filter: predicates and column pruning reach the parquet scan") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), p)
    // 6-of-11-column projection must show in ReadSchema, not post-scan
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      readSchema)
  }

  test("ingest_lineitem: target-schema projection prunes the scan") {
    val p = plan("ingest_lineitem")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    // target DDL selects 6 of 11 lineitem columns; the rest must not be read
    assert(!readSchema.contains("l_partkey") &&
           !readSchema.contains("l_discount"), readSchema)
  }

  test("q_join_star: every dimension joins as broadcast, fact not shuffled") {
    val p = plan("q_join_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_topk: order+limit plans as distributed top-k, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1_agg: two-phase (partial + final) hash aggregation") {
    val p = plan("q1_agg")
    // r15: the decimal-policy sums run as the fused long-pair aggregate
    // (DecSum) — still partial + final hash aggregation
    assert(p.contains("partial_dec_sum_as_double"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_dedup_exact: one hash shuffle (map-side partial agg); the only " +
       "other exchange is the deterministic output sort") {
    val p = plan("q_dedup_exact")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("q_simsearch: no Window — the top-k is one single-stage job that " +
       "streams the corpus past the broadcast queries, and the query " +
       "reads its local result") {
    val (df, stages) = stagesOf("q_simsearch")
    // the queries' broadcast build, then the scan keeping a bounded
    // heap per query in each task: no exchange, no window
    assert(stages.size == 2, stages)
    assert(ran(stages, "BroadcastExchange") == 1, stages)
    assert(ran(stages, "Exchange") == 0 && ran(stages, "Window") == 0, stages)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") && !p.contains("Window") &&
      !p.contains("FileScan"), p)
  }

  test("q_event_window: tumbling window aggregates in one shuffle") {
    val p = plan("q_event_window")
    // one exchange for the groupBy, one for the final orderBy — no more
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("q_sql_tpch5: the star dimensions broadcast; only the aggregate " +
       "and final sort shuffle") {
    val p = plan("q_sql_tpch5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // shuffle exchanges only — BroadcastExchange is the point, not a cost
    assert("Exchange (hash|range)partitioning".r.findAllIn(p).size <= 2, p)
  }

  test("q_knn_graph: candidates come from the band-key shuffle — never " +
       "a cartesian or nested-loop pass over the corpus") {
    val p = plan("q_knn_graph")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_contamination: eval posting list broadcasts; the corpus side " +
       "is never shuffled before the join") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_simsearch_pq: codebook and ADC lookup table both broadcast — " +
       "corpus code assignment and scoring never sort-merge") {
    val (df, stages) = stagesOf("q_simsearch_pq")
    // broadcast builds: the codebook (for the encode and for the LUT)
    // and the LUT itself
    assert(ran(stages, "BroadcastExchange") >= 3, stages)
    // the only shuffles are the encode argmin and the ADC sum; a
    // sort-merge join would add one per side
    assert(ran(stages, "Exchange") == 2 && ran(stages, "Window") == 0, stages)
    assert(!df.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
  }

  test("q_bloom_join: the bloom literal filters AT the fact scan, " +
       "upstream of a broadcast semi join") {
    val p = plan("q_bloom_join")
    assert(p.contains("might_contain"), p)
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).nonEmpty, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_sql_tpch6: every predicate reaches the parquet scan") {
    val p = plan("q_sql_tpch6")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
           pushed.contains("l_quantity"), pushed)
  }

  test("q_sql_tpch10: top-20 plans as distributed top-k; nation broadcasts") {
    val p = plan("q_sql_tpch10")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_pmi: final top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_pmi")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_zscore: the stats snapshot broadcasts back over the facts") {
    val p = plan("q_zscore")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_kmeans: centroid tables broadcast in every iteration — the " +
       "corpus is never sort-merge joined") {
    val p = plan("q_kmeans")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 1, p)
  }

  test("q_pack: packing windows are per-shard — no single-partition " +
       "global window anywhere in the plan") {
    val p = plan("q_pack")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("q_interleave: per-shard row_number windows, no SinglePartition " +
       "exchange before the final presentation sort") {
    val p = plan("q_interleave")
    // the only global structure is the final orderBy(global_pos) range
    // exchange; the window itself must hash-partition by shard
    assert(p.contains("Exchange hashpartitioning(shard"), p)
  }

  test("q_sql_tpch21: both correlated quantifiers plan as joins " +
       "(semi/anti), never as per-row subquery execution") {
    val p = plan("q_sql_tpch21")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q_sql_tpch15: the revenue CTE's max gate is a reused subquery, " +
       "supplier side broadcasts") {
    val p = plan("q_sql_tpch15")
    assert(p.contains("Subquery") || p.contains("ReusedSubquery"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_curriculum: the corpus rank window hash-partitions by token " +
       "count; only the tiny value histogram sees a single partition") {
    val p = plan("q_curriculum")
    assert(p.contains("Exchange hashpartitioning(n_tok"), p)
    assert(!p.contains("ntile"), p)
  }

  test("q_funnel: every stage aggregates on user_id — no stage " +
       "re-shuffles on a different key") {
    val p = plan("q_funnel")
    // all hash exchanges in the funnel are keyed on user_id
    val other = "Exchange hashpartitioning\\((?!user_id)".r.findAllIn(p)
    assert(other.isEmpty, p)
  }

  test("q_retention: the cohort table joins back without a sort-merge " +
       "(aggregate side reuses the user_id partitioning)") {
    val p = plan("q_retention")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_span_decontam: the seen-side gram set broadcasts (corpus " +
       "streams map-side); no cartesian anywhere") {
    val p = plan("q_span_decontam")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_span_dedup: interval merge windows per-doc; postings shuffle " +
       "by key, never a cartesian") {
    val p = plan("q_span_dedup")
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_keepbest: per-cluster argmax is aggregation-based (no " +
       "window sort) and winners return via semi-join") {
    val p = plan("q_dedup_keepbest")
    assert(!p.contains("Window"), p)
    assert(p.contains("LeftSemi"), p)
  }

  // ---- expensive-query tier (the round-6 bench leaders): exchange
  // counts and broadcast sides pinned so a plan regression (a new
  // shuffle, a lost broadcast, a join falling back to sort-merge)
  // fails here instead of surfacing as a bench mystery ----

  test("q_containment: the two-shuffle overlap machinery — shingle " +
       "groupBy + pair groupBy, no joins, map-side partials") {
    val p = plan("q_containment")
    // exactly 2 hash exchanges (posting aggregation, pair count) plus
    // only the deterministic output sort's range exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("Exchange".r.findAllIn(p).size == 3, p)
    // pair enumeration is in-bucket HOFs, never a join
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"), p)
    // both aggregations keep their map-side partial phase
    assert(p.contains("partial_collect_list") && p.contains("partial_count"), p)
  }

  test("q_jaccard_prefix: candidate + verification joins all broadcast " +
       "(the small-corpus regime) — no sort-merge, no cartesian") {
    val p = plan("q_jaccard_prefix")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // prefix-posting self-join + two verification probes at minimum
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("q_containment_prefix: asymmetric prefix join broadcasts; " +
       "verification attaches sets via broadcast probes") {
    val p = plan("q_containment_prefix")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("q_dedup_ensemble: the post-clustering tail — canonical map " +
       "returns via broadcast outer join, never sort-merge") {
    // the pair machinery runs inside the edge-guarded union-find
    // (bounded driver collect); the surviving plan is the canonical
    // re-join over the corpus and must stay broadcast
    val p = plan("q_dedup_ensemble")
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange".r.findAllIn(p).size <= 3, p)
  }

  test("q_corpus_pipeline: the capstone's surviving plan is the sort " +
       "over a local relation of the dedup stage's kept rows — no file " +
       "scan, no join, at most the sort's exchange") {
    // the dedup stage resolves on the driver at this size: the pair
    // pipeline, the components and the canonical re-join are gone from
    // the plan, and so is the corpus scan — the kept rows are a local
    // relation that the gate, normalize and sample fold onto
    val p = plan("q_corpus_pipeline")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan") && !p.contains("Scan parquet"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert("Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("curation dedup stage over a 1,000-doc corpus: one job from " +
       "applyStage until its frame is collected, the labelled driver-tier " +
       "collect") {
    import org.apache.spark.sql.functions._
    import graft.engine.CurationPipeline.{Stage, applyStage}
    // 250 near-dup groups of 4: copies differ in their last word only
    // (jaccard 9 / 11 over word trigrams)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_jobs")
      .toString + "/docs"
    spark.range(1000).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(12)), i =>
          when(i === 12, concat(lit("m"), col("id")))
            .otherwise(concat(lit("g"), col("id") / 4 cast "long",
              lit("w"), i)))).as("text"))
      .coalesce(1).write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val (kept, jobs) = withJobLabels(applyStage(docs, Stage("dedup",
      Map("tau" -> Double.box(0.5), "k" -> Int.box(3)))).collect())
    assert(kept.length == 250)
    // collecting the returned local relation runs nothing
    assert(jobs == Seq("graft.dedup: driver tier collect"), jobs)
  }

  test("curation pipeline over a 1,000-doc parquet corpus with exact " +
       "duplicates: at most 3 jobs, none after the dedup stage's " +
       "driver-tier collect, none when the output is collected") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.engine.{CurationPipeline, SourceFormat}
    import graft.engine.CurationPipeline.Stage
    // the load benchmark's corpus shape: 25 exact and 25 near-duplicate
    // groups, 20 short and 20 blocklisted documents, random filler
    val r = new scala.util.Random(7)
    val vocab = Array.tabulate(3000)(i => s"w$i")
    def sentence(n: Int) = Array.fill(n)(vocab(r.nextInt(vocab.length)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    for (_ <- 0 until 25) {
      val base = sentence(25 + r.nextInt(35))
      (0 until 2 + r.nextInt(2)).foreach(_ => texts += base.clone())
    }
    for (_ <- 0 until 25) {
      val base = sentence(40 + r.nextInt(20))
      texts += base
      (0 until 1 + r.nextInt(2)).foreach { _ =>
        val v = base.clone(); v(r.nextInt(v.length)) = "swapped"; texts += v
      }
    }
    (0 until 20).foreach(_ => texts += sentence(2 + r.nextInt(4)))
    (0 until 20).foreach { _ =>
      val w = sentence(20 + r.nextInt(30)); w(0) = "casinobonus"; texts += w
    }
    while (texts.length < 1000) texts += sentence(15 + r.nextInt(60))
    val langs = Array("en", "en", "en", "de", "fr", "es")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(1000L + i * 7L, langs(r.nextInt(langs.length)), t.mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_jobs")
      .toString + "/docs"
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("lang", StringType), StructField("text", StringType))))
      .write.parquet(dir)
    val cfg = CurationPipeline.Config(source = dir,
      format = Some(SourceFormat.Parquet), target = "curated", stages = Seq(
        Stage("exact_dedup", Map.empty),
        Stage("dedup", Map("tau" -> Double.box(0.5), "k" -> Int.box(3))),
        Stage("quality_gate",
          Map("min_tokens" -> Int.box(8), "max_tokens" -> Int.box(200))),
        Stage("blocklist",
          Map("patterns" -> java.util.List.of("casinobonus"))),
        Stage("sample", Map(
          "rates" -> java.util.Map.of("en", Int.box(7)),
          "default_num" -> Int.box(5), "den" -> Int.box(10)))))
    val (out, staged) = withJobLabels(CurationPipeline.run(spark, cfg))
    val (ids, collected) = withJobLabels(
      out.select("doc_id").collect().map(_.getLong(0)))
    assert(ids.nonEmpty && ids.distinct.length == ids.length)
    // the last job is the dedup stage's (AQE's exchange jobs carry its
    // label too; the parquet read infers no schema): the stages after it
    // fold onto the local relation, and collecting runs nothing
    assert(staged.size <= 3, staged)
    assert(staged.lastOption.contains("graft.dedup: driver tier collect"),
      staged)
    assert(collected.isEmpty, collected)
  }

  test("q_source_quota: per-source cap is a two-phase bounded-heap " +
       "aggregation (map-side topk_pairs), never a window sort of the " +
       "hot domain; winners broadcast back") {
    val p = plan("q_source_quota")
    assert(p.contains("partial_topk_pairs"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), p)  // no row_number fallback
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_semantic_dedup: the canonical map returns via broadcast " +
       "outer join — the corpus-sized side is never sort-merge joined") {
    val p = plan("q_semantic_dedup")
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_semantic_dedup2: the canonical map stays broadcast — no " +
       "sort-merge, no cartesian in the surviving two-level plan (the " +
       "coarse/fine assignment runs behind the eager checkpoint, like " +
       "the single-level pin)") {
    val p = plan("q_semantic_dedup2")
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_dsir: the bucket score table returns via broadcast join and " +
       "the surviving plan scans the corpus at most twice (the bucket " +
       "counts build runs behind the eager checkpoint)") {
    val p = plan("q_dsir")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("q_bpe_encode: the segmentation dictionary broadcasts — the " +
       "corpus-side explode never sort-merge joins") {
    val p = plan("q_bpe_encode")
    assert("BroadcastHashJoin LeftOuter|BroadcastHashJoin .*LeftOuter".r
      .findFirstIn(p).isDefined, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_curation_audit: document text never crosses an exchange — " +
       "the rule flags and the md5 are computed in the map-side " +
       "projection below the window shuffle") {
    val q = SparkEntry.queries("q_curation_audit")(spark, sf())
    val p = q.queryExecution.executedPlan.toString
    // every Exchange's output schema must be text-free: flags + hash
    // + id only (text#N would appear in the exchange's partitioning
    // input or output attributes)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.matches(".*\\btext#\\d+.*")), p)
    // and the scan reads only the three needed columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"),
      readSchema)
  }

  test("q_snapshot_dedup: ONE hash shuffle, partially aggregated " +
       "map-side (min-struct + count combine before the exchange), " +
       "and the exchange carries the hash, never text") {
    val p = plan("q_snapshot_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_min") || p.contains("partial_count"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.matches(".*\\btext#\\d+.*")), p)
  }

  test("q_group_quantile (radix regime): the threshold table joins " +
       "back as a broadcast — the corpus is never shuffled or sorted " +
       "for the selection itself") {
    val p = plan("q_group_quantile")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // no corpus-wide Window in the final selection plan (the window
    // regime is the small-group route, pinned OFF here)
    assert(!p.contains("Window"), p)
  }

  test("q_minhash_calib: shingle-set arrays attach via BROADCAST and " +
       "never ride a shuffle — only ids/signatures cross hash exchanges") {
    val df = SparkEntry.queries("q_minhash_calib")(spark, sf())
    // structural check on the pre-AQE physical tree (traversable,
    // unlike the AdaptiveSparkPlanExec leaf wrapper): no shuffle
    // exchange may output an array column — the sorted shingle sets
    // (array<bigint>) must reach the verification join through
    // BroadcastExchange only
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val leaky = df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec
          if e.output.exists(_.dataType.isInstanceOf[ArrayType]) => e
    }
    assert(leaky.isEmpty,
      s"shuffle exchange carries an array column:\n${leaky.mkString("\n")}")
    val p = df.queryExecution.sparkPlan.toString
    // exact ground truth runs through the codegen'd two-pointer
    // intersect over the broadcast sides, not array_intersect
    assert(p.contains("sorted_long_array_intersect_size"), p)
    // the broadcast() hints force the shingle-set sides into
    // BroadcastHashJoin regardless of size stats (sparkPlan is
    // pre-exchange-insertion, so count join nodes, not exchanges)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q_simsearch_sq: the corpus streams once past a broadcast query " +
       "side in one single-stage job, stats ride as literals (no stats " +
       "join), and no Window ranks the result") {
    val (df, stages) = stagesOf("q_simsearch_sq")
    // the per-dim stats aggregation (its one shuffle), the queries'
    // broadcast build, and the scoring scan; a stats join would add a
    // second broadcast, a window a second shuffle
    assert(stages.size == 4, stages)
    assert(ran(stages, "Exchange") == 1 && ran(stages, "Window") == 0, stages)
    assert(ran(stages, "BroadcastExchange") == 1, stages)
    // the stats scan, the broadcast query scan and the one corpus pass
    assert(ran(stages, "Scan parquet") == 3, stages)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("q_image_neardup: pairs come from ONE band-key hash exchange " +
       "over the checkpointed (id, hash) frame — blobs never shuffle, " +
       "decode runs once behind the checkpoint") {
    val df = SparkEntry.queries("q_image_neardup")(spark, sf())
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    val binLeak = df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec
          if e.output.exists(_.dataType == BinaryType) => e
    }
    assert(binLeak.isEmpty, s"payload bytes cross a shuffle:\n$binLeak")
    val p = df.queryExecution.sparkPlan.toString
    // the self-join sides read the checkpointed hash frame, not the
    // media decode subtree (no MapPartitions / media scan in-plan)
    assert(!p.contains("mapPartitions"), p)
  }

  test("q_simsearch_ivf_idx: one query runs at most 2 single-stage jobs " +
       "and opens only the centroids and the probed cells' files — no " +
       "quantizer training, no assignment pass, no corpus scan") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.scheduler._
    // the query returns a local frame: nothing of the corpus, the
    // assignment window or a join is left in its plan
    val p = plan("q_simsearch_ivf_idx")
    assert(!p.contains("crank") && !p.contains("embeddings.parquet"), p)

    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(e.filter(col("vec_id") < 10).collect(): _*), e.schema)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_open").toString
    spark.conf.set("fs.graftrec.impl", classOf[OpenRecordingFs].getName)
    spark.conf.set("fs.graftrec.impl.disable.cache", "true")
    try {
      graft.operators.Similarity.buildIvfIndex(e, s"graftrec://$root", nlist = 16)
      val probed = graft.operators.IvfReference.probes(queries,
          spark.read.parquet(s"$root/centroids"), nprobe = 4)
        .select("cent_id").distinct().collect().map(_.getLong(0)).toSet
      def parquetFiles(dir: String): Set[String] =
        Option(new java.io.File(root, dir).listFiles()).toSeq.flatten
          .map(_.getPath).filter(_.endsWith(".parquet")).toSet
      val cells = new java.io.File(root, "assigned").list()
        .filter(_.startsWith("cent_id=")).map(_.stripPrefix("cent_id=").toLong)
      assert(probed.nonEmpty && probed.size < cells.length)
      val want = parquetFiles("centroids") ++
        probed.flatMap(c => parquetFiles(s"assigned/cent_id=$c"))

      val sc = spark.sparkContext
      val jobs, stages = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
      }
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc)
      OpenRecordingFs.opened.clear()
      sc.addSparkListener(listener)
      val top =
        try graft.operators.Similarity.ivfTopKIndexed(queries,
          s"graftrec://$root", k = 5, nprobe = 4).collect()
        finally {
          org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc)
          sc.removeSparkListener(listener)
        }
      assert(top.length == 50)
      // the centroid read and the probed-cell scan; one stage each, so
      // no exchange: no window, no join, no assignment pass
      assert(jobs.get <= 2 && stages.get == jobs.get, (jobs, stages))
      // the 100 TB property, read off the filesystem: nprobe of nlist
      // cells' files, plus the centroids, and nothing else
      assert(OpenRecordingFs.opened.asScala.toSet == want)
    } finally {
      spark.conf.unset("fs.graftrec.impl")
      spark.conf.unset("fs.graftrec.impl.disable.cache")
    }
  }

  test("q_simsearch_pq_idx: the indexed ADC query never touches corpus " +
       "floats — codebook and LUT broadcast, the code table is the " +
       "only corpus-sized scan, and no encode aggregation precedes it") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(e.filter(col("vec_id") < 10).collect(): _*), e.schema)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_open").toString
    spark.conf.set("fs.graftrec.impl", classOf[OpenRecordingFs].getName)
    spark.conf.set("fs.graftrec.impl.disable.cache", "true")
    try {
      graft.operators.Similarity.buildPqIndex(e, s"graftrec://$root")
      def parquetFiles(dir: String): Set[String] =
        Option(new java.io.File(root, dir).listFiles()).toSeq.flatten
          .map(_.getPath).filter(_.endsWith(".parquet")).toSet
      OpenRecordingFs.opened.clear()
      val (top, jobs) = withJobs(graft.operators.Similarity.pqTopKIndexed(
        queries, s"graftrec://$root", k = 5))
      assert(top.count() == 50)
      // the codebook and the code table, and nothing else
      assert(OpenRecordingFs.opened.asScala.toSet ==
        parquetFiles("codebook") ++ parquetFiles("codes"))
      val stages = SparkSpec.stages(jobs)
      // the encode argmin is a SortAggregate: it runs only at build time
      assert(ran(stages, "SortAggregate") == 0, stages)
      // codebook and LUT broadcast; the one shuffle is the ADC sum
      assert(ran(stages, "BroadcastExchange") == 2, stages)
      assert(ran(stages, "Exchange") == 1 && ran(stages, "Window") == 0, stages)
    } finally {
      spark.conf.unset("fs.graftrec.impl")
      spark.conf.unset("fs.graftrec.impl.disable.cache")
    }
  }

  test("Layout.zorderBy: exactly one exchange (the range partitioning " +
       "on the z-value) plus the per-partition sort — no global sort") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(sf() + "/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val df = graft.engine.Layout.zorderBy(li, col("l_orderkey"),
      col("l_partkey"), numFiles = 8)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    // the z-sort is LOCAL (global=false): per-file ordering, no
    // second whole-data sort barrier
    assert(p.contains("], false, 0"), p)
    assert(!p.contains("], true, 0"), p)
  }

  test("q_heavy_hitters: pass 2 scans the corpus ONCE with the MG " +
       "candidate set entering as a broadcast semi-join; the pass-1 " +
       "summary is checkpointed (never recomputed per consumer)") {
    val p = plan("q_heavy_hitters")
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).isDefined, p)
    // one parquet corpus scan in the final job — candidates and the
    // total both come from the checkpointed pass-1 summary RDD
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert("Scan ExistingRDD".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_mmr: the pool is one single-stage top-k job past the broadcast " +
       "query side, and only pooled rows (<= pool per query) join their " +
       "vectors back and reach the greedy MapGroups exchange") {
    val (df, stages) = stagesOf("q_mmr")
    // the queries' broadcast build and the pool scan
    assert(stages.size == 2, stages)
    assert(ran(stages, "BroadcastExchange") == 1, stages)
    assert(ran(stages, "Exchange") == 0 && ran(stages, "Window") == 0, stages)
    val p = df.queryExecution.executedPlan.toString
    // the local pool broadcasts into the one corpus read of the walk
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1, p)
    assert(p.contains("LocalTableScan") && p.contains("MapGroups"), p)
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
  }

  test("q_dedup_minhash_idx: every join is broadcast (candidates and the " +
       "new side broadcast; the stored corpus-side shingle arrays never " +
       "ride a shuffle or sort-merge)") {
    val p = plan("q_dedup_minhash_idx")
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("q_avro_roundtrip: the graft-avro batch scan prunes to exactly " +
       "the selected columns (reader-schema projection, not post-scan)") {
    val p = plan("q_avro_roundtrip")
    val scan = p.linesIterator.find(_.contains("graft-avro")).get
    // all 11 round-tripped columns are consumed here; the pruning
    // contract itself is pinned per-column in AvroSourceSpec — this
    // pin keeps the scan a BatchScan with an explicit ReadSchema
    assert(p.contains("BatchScan graft-avro"), p)
    assert(scan.contains("ReadSchema:"), scan)
  }

  /** AQE finalizes join strategies at runtime — execute, then read the
    * final plan (the pre-execution AdaptiveSparkPlan string hides the
    * materialized strategy).
    */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf())
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_iceberg_delete: merge-on-read executes as a BROADCAST " +
       "anti-join on (file, position) — the tiny delete side builds, " +
       "the data scan stays columnar; no sort-merge, no cartesian") {
    val p = finalPlan("q_iceberg_delete")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_iceberg_upsert: the equality-delete merge executes as " +
       "anti-join work only — broadcast sequence map + hash anti-joins, " +
       "never a sort-merge or nested loop over the corpus") {
    val p = finalPlan("q_iceberg_upsert")
    assert("LeftAnti".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p)
  }
}

/** The local filesystem under its own scheme (`graftrec:`), recording
  * the path of every file opened for reading.
  */
class OpenRecordingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftrec"
  override def getUri: java.net.URI = java.net.URI.create("graftrec:///")
  override def open(f: org.apache.hadoop.fs.Path,
                    bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    OpenRecordingFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object OpenRecordingFs {
  val opened: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
