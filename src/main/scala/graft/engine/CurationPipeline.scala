package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Config-driven curation pipelines: the reference's whole identity is
  * YAML-driven jobs (GCS2Postgres `config.yaml:9-25` mapped to transfer
  * jobs by `src/utils/utils.go:52-67`), and this engine parses that
  * dialect for ELT (`EngineConfig.fromReferenceYaml`) — but the LLM
  * curation operators were reachable only from Scala. A `pipeline:`
  * section closes that gap: a source plus an ordered stage list, each
  * stage naming an operator from the curation set, so a YAML file runs
  * dedup -> gate -> sample the way the reference's YAML runs
  * gcs -> bq -> postgres.
  *
  * Every stage maps 1:1 onto the SAME operator the oracle-gated queries
  * call (`Dedup.keepCanonicalJaccard`, `TextAnalysis.normalize`,
  * `Sampling.stratifiedSample`, ...) — the YAML surface adds zero new
  * semantics, so the scale properties are exactly the operators' own.
  * `PipelineSpec` pins config-equals-code equality against the
  * `q_corpus_pipeline` stages composed by hand from the distributed
  * operators (`Dedup.keepCanonical` over `Dedup.jaccardPairs`), which
  * also pins the `dedup` stage's driver tier to the distributed path.
  *
  * {{{
  * pipeline:
  *   source: /data/documents.parquet
  *   stages:
  *     - op: dedup              # near-dup keep-canonical (jaccard CC)
  *       tau: 0.3               # optional k: 3
  *     - op: quality_gate       # normalize + token-count gate
  *       min_tokens: 20
  *       max_tokens: 200
  *     - op: sample             # deterministic stratified sample
  *       rates: {en: 5}
  *       default_num: 8
  *       den: 10
  * sink:
  *   path: /tmp/corpus_out      # optional; Run writes parquet
  * }}}
  */
object CurationPipeline {

  final case class Stage(op: String, params: Map[String, Object]) {
    def str(key: String, default: => String): String =
      params.get(key).map(_.toString).getOrElse(default)
    def need(key: String): String = params.get(key) match {
      case Some(v) if v != null => v.toString
      case _ => throw new IllegalArgumentException(
        s"pipeline stage '$op' is missing required key '$key'")
    }
    def int(key: String, default: Int): Int =
      params.get(key).map(_.toString.toInt).getOrElse(default)
    def long(key: String, default: Long): Long =
      params.get(key).map(_.toString.toLong).getOrElse(default)
    def dbl(key: String, default: Double): Double =
      params.get(key).map(_.toString.toDouble).getOrElse(default)
  }

  final case class Config(source: String, format: Option[SourceFormat],
                          stages: Seq[Stage], target: String,
                          stream: Boolean = false)

  val KnownOps: Seq[String] = Seq("nfc_normalize", "nfkc_normalize",
    "url_normalize", "exact_dedup", "dedup",
    "quality_gate", "blocklist", "comp_ratio_gate", "quantile_filter",
    "langid_filter", "decontaminate", "sample", "pack")

  /** Stages whose implementation is a narrow per-row map/filter —
    * runnable UNCHANGED on a streaming DataFrame (`stream: true`).
    * Corpus-wide stages (dedup, quantile_filter, sample, ...) are
    * rejected on a stream with a pointer to the foreachBatch twins
    * ([[graft.streaming.DocStream]]), which carry the incremental
    * state those semantics need.
    */
  val StreamableOps: Set[String] =
    Set("nfc_normalize", "nfkc_normalize", "url_normalize",
      "quality_gate", "blocklist", "comp_ratio_gate")

  /** Read the source and fold the stages left-to-right. */
  def run(spark: SparkSession, cfg: Config): DataFrame = {
    val src = Readers.read(spark,
      JobSpec(source = cfg.source, target = cfg.target, format = cfg.format))
    cfg.stages.foldLeft(src)((df, st) => applyStage(df, st, Some(spark)))
  }

  /** Streaming twin of [[run]]: a parquet FILE STREAM over the source
    * directory (new files picked up per micro-batch), the narrow
    * stages applied unchanged, appended to `targetPath` with a
    * checkpoint beside it. Schema comes from one batch read of the
    * existing files (a footer probe — streams can't infer). Returns
    * the running query; callers drive it (`processAllAvailable` for a
    * drain-what's-there one-shot, or leave it running for continuous
    * curation).
    */
  def runStream(spark: SparkSession,
                cfg: Config): org.apache.spark.sql.streaming.StreamingQuery = {
    val bad = cfg.stages.map(_.op).filterNot(StreamableOps)
    require(bad.isEmpty,
      s"stages not streamable: ${bad.mkString(", ")} — streamable ops: " +
        s"${StreamableOps.toSeq.sorted.mkString(", ")}; stateful " +
        "curation streams through graft.streaming.DocStream's " +
        "foreachBatch twins instead")
    // the file stream below is parquet — a csv/json source would pass
    // the batch schema probe and then silently match zero files
    val fmt = cfg.format.getOrElse(SourceFormat.Parquet)
    require(fmt == SourceFormat.Parquet,
      s"streaming pipelines read parquet sources; got '$fmt' — " +
        "land the data as parquet first (an ELT job in the same config)")
    // pre-r11 deployments checkpointed at the SIBLING path
    // `<target>_checkpoint`; silently starting fresh at the new
    // inside-the-target location would re-ingest every already-seen
    // source file and duplicate the target. Refuse until migrated.
    val legacy = new java.io.File(cfg.target + "_checkpoint")
    val current = new java.io.File(cfg.target, "_checkpoint")
    require(!legacy.exists() || current.exists(),
      s"legacy stream checkpoint found at ${legacy.getPath} — move it " +
        s"to ${current.getPath} (it now lives INSIDE the target so " +
        "both are deleted together) before restarting this pipeline")
    val schema = Readers.read(spark,
      JobSpec(source = cfg.source, target = cfg.target,
        format = cfg.format)).schema
    val src = spark.readStream.schema(schema).parquet(cfg.source)
    val out = cfg.stages.foldLeft(src)((df, st) => applyStage(df, st))
    out.writeStream
      .format("parquet")
      .option("path", cfg.target)
      // the checkpoint lives INSIDE the target (hidden `_` name, so
      // batch reads of the output ignore it): deleting the target
      // deletes the offsets with it — a surviving sibling checkpoint
      // would resume past already-seen source files and silently
      // leave the recreated target incomplete
      .option("checkpointLocation", cfg.target + "/_checkpoint")
      .outputMode("append")
      .start()
  }

  /** One stage — each arm is the same call the oracle-gated query for
    * that operator makes (stage semantics and scale shape documented at
    * the operator). `spark` is needed only by stages that read a second
    * input (decontaminate's eval set).
    */
  def applyStage(df: DataFrame, st: Stage,
                 spark: Option[SparkSession] = None): DataFrame = st.op match {
    case "nfc_normalize" =>
      // canonicalize the text column in place (UAX #15 NFC) — run it
      // FIRST so every downstream keying (dedup md5, shingles,
      // blocklist, vocabularies) sees one spelling per visible string;
      // a narrow codegen'd map, no exchange
      val c = st.str("column", "text")
      df.withColumn(c, graft.plans.NfcNormalize(col(c)))
    case "nfkc_normalize" =>
      // the KEYING normalization: additionally folds compatibility
      // forms (fullwidth, ligatures, circled/superscript digits) that
      // NFC preserves — run before dedup/shingling on real web text;
      // lossy by design, so pipelines that must preserve display text
      // fold into a separate key column
      val c = st.str("column", "text")
      df.withColumn(c, graft.plans.NfkcNormalize(col(c)))
    case "url_normalize" =>
      // canonicalize a URL column in place before any URL keying
      // (snapshot dedup, domain screens) — Curation.canonicalUrl's
      // rule chain; a narrow streamable map
      val c = st.str("column", "url")
      df.withColumn(c, graft.operators.Curation.canonicalUrl(col(c)))
    case "exact_dedup" =>
      // keep the min-id copy per distinct key value: Dedup.exact groups
      // by the raw key column (no hash), so the key itself — the whole
      // text by default — crosses the exchange with its min id
      val id = st.str("id", "doc_id")
      val kept = graft.operators.Dedup.exact(df, st.str("key", "text"), id)
        .select(col("keep_id").as(id))
      df.join(kept, Seq(id), "left_semi")
    case "dedup" =>
      // near-dup keep-canonical (jaccard pairs -> components -> min id);
      // eager: a corpus within Dedup.SmallCorpusDocs (and its heap share)
      // is resolved on the driver from one collect and returns its kept
      // rows as a local relation, so the upstream stages run once and
      // the narrow stages after it run no job; a larger one takes the
      // distributed pair pipeline
      graft.operators.Dedup.keepCanonicalJaccard(df,
        tau = st.dbl("tau", 0.3), k = st.int("k", 3),
        id = st.str("id", "doc_id"))
    case "quality_gate" =>
      df.withColumn("norm_text",
          graft.operators.TextAnalysis.normalize(col("text")))
        .withColumn("n_tok",
          size(split(col("norm_text"), " ")).cast("long"))
        .filter(col("n_tok").between(st.long("min_tokens", 1L),
          st.long("max_tokens", Long.MaxValue)))
    case "blocklist" =>
      val pats = st.params.get("patterns") match {
        case Some(l: java.util.List[_]) =>
          import scala.jdk.CollectionConverters._
          l.asScala.toSeq.map(_.toString)
        case _ => throw new IllegalArgumentException(
          "pipeline stage 'blocklist' needs a 'patterns' list")
      }
      // inline narrow filter (the same codegen'd Aho–Corasick count
      // blocklistScreen runs) — row-identical to the screen+semi-join
      // form and, being a pure map, legal on a streaming DataFrame
      df.withColumn("__graft_hits",
          graft.plans.MultiPatternCount(col("text"), pats))
        .filter(col("__graft_hits") <= st.long("max_hits", 0L))
        .drop("__graft_hits")
    case "comp_ratio_gate" =>
      // drop too-compressible boilerplate at an ABSOLUTE threshold —
      // the narrow, streamable form of the per-language quantile gate
      // (TextAnalysis.compressionFilter); one codegen'd projection,
      // the ratio rule shared with the operator (ratioMicro)
      val c = st.str("column", "text")
      df.filter(graft.operators.TextAnalysis.ratioMicro(col(c),
        st.int("min_len", 4), st.int("max_len", 32)) <=
        st.long("max_ratio_micro", 800000L))
    case "quantile_filter" =>
      graft.operators.Sampling.topFractionByGroup(df,
        col(st.str("group", "lang")), col(st.need("score")),
        col(st.str("id", "doc_id")),
        num = st.int("num", 7), den = st.int("den", 10))
    case "langid_filter" =>
      // keep docs whose PREDICTED language is in the allow list (the
      // heuristic langid screen a multilingual corpus runs up front);
      // one posting pass + a narrow semi-join back
      val keepLangs = st.params.get("keep") match {
        case Some(l: java.util.List[_]) =>
          import scala.jdk.CollectionConverters._
          l.asScala.toSeq.map(_.toString)
        case _ => throw new IllegalArgumentException(
          "pipeline stage 'langid_filter' needs a 'keep' language list")
      }
      val id = st.str("id", "doc_id")
      val keep = graft.operators.TextAnalysis.langIdPosting(df)
        .filter(col("lang_pred").isin(keepLangs: _*))
        .select(col("doc_id").as(id))
      df.join(keep, Seq(id), "left_semi")
    case "decontaminate" =>
      // drop docs sharing >= min_shared shingles with the eval set —
      // the pre-training split-leakage screen; eval side broadcasts,
      // the corpus streams (Dedup.contamination's contract)
      val sp = spark.getOrElse(df.sparkSession)
      val evalSet = Readers.read(sp,
        JobSpec(source = st.need("eval_source"), target = "eval"))
      val id = st.str("id", "doc_id")
      val flagged = graft.operators.Dedup.contamination(df, evalSet,
          k = st.int("k", 3), minShared = st.long("min_shared", 2L))
        .select(col("doc_id").as(id)).distinct()
      df.join(flagged, Seq(id), "left_anti")
    case "sample" =>
      val rates = st.params.get("rates") match {
        case Some(m: java.util.Map[_, _]) =>
          import scala.jdk.CollectionConverters._
          m.asInstanceOf[java.util.Map[String, Object]].asScala
            .map { case (k, v) => k -> v.toString.toInt }.toMap
        case _ => Map.empty[String, Int]
      }
      graft.operators.Sampling.stratifiedSample(df,
        col(st.str("key", "doc_id")), col(st.str("stratum", "lang")),
        rates, defaultNum = st.int("default_num", 1),
        den = st.int("den", 1))
    case "pack" =>
      // terminal stage: emits the loader manifest, not documents
      val tokens = st.params.get("tokens_col").map(c => col(c.toString))
        .getOrElse(size(split(col("text"), " ")).cast("long"))
      graft.operators.Curation.packShards(df, col(st.str("id", "doc_id")),
        tokens, shards = st.int("shards", 8),
        budget = st.long("budget", 4096L))
    case other =>
      throw new IllegalArgumentException(
        s"unknown pipeline op '$other' — known: ${KnownOps.mkString(", ")}")
  }
}
