package graft.engine

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

class PipelineSpec extends SparkSpec with TimeLimits {
  // interrupt a stuck test thread (e.g. blocked on an Observation that
  // never completes) instead of only reporting the overrun afterwards
  implicit val signaler: Signaler = ThreadSignaler

  test("end-to-end job: read -> align -> parquet sink, rows counted") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val cfg = EngineConfig(
      jobs = Seq(JobSpec(
        source = sf() + "/region.parquet",
        target = "region_t",
        targetSchemaDdl = Some("r_regionkey INT, r_name STRING, missing_col DOUBLE"))),
      sink = SinkConfig(format = "parquet", path = Some(out), mode = "overwrite"))
    val results = Pipeline.run(spark, cfg)
    assert(results.forall(_.ok))
    assert(results.head.rows.contains(5L))
    val back = spark.read.parquet(s"$out/region_t")
    assert(back.columns.toSeq == Seq("r_regionkey", "r_name", "missing_col"))
    assert(back.count() == 5)
    assert(back.filter(back("missing_col").isNotNull).count() == 0)
  }

  test("observe-based null audit rides the sink pass: the null-filled " +
       "missing column is censused without a second scan") {
    val out = java.nio.file.Files.createTempDirectory("graft_audit").toString
    val cfg = EngineConfig(
      jobs = Seq(JobSpec(
        source = sf() + "/nation.parquet",
        target = "nation_a",
        targetSchemaDdl =
          Some("n_nationkey INT, n_name STRING, absent_col DOUBLE"))),
      sink = SinkConfig(format = "parquet", path = Some(out),
        mode = "overwrite"))
    val r = Pipeline.run(spark, cfg).head
    assert(r.ok && r.rows.contains(25L))
    // every row's absent_col is NULL; populated columns don't report
    assert(r.nullCounts == Map("absent_col" -> 25L))
  }

  test("per-table failure isolation: one bad job doesn't kill the run") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val cfg = EngineConfig(
      jobs = Seq(
        JobSpec(source = "/nonexistent/nope.parquet", target = "bad"),
        JobSpec(source = sf() + "/nation.parquet", target = "nation_t")),
      sink = SinkConfig(format = "parquet", path = Some(out), mode = "overwrite"))
    val results = Pipeline.run(spark, cfg)
    assert(!results.head.ok)
    assert(results(1).ok && results(1).rows.contains(25L))
  }

  test("inter-table parallelism overlaps jobs and preserves per-job results") {
    val out = java.nio.file.Files.createTempDirectory("graft_par").toString
    val cfg = EngineConfig(
      jobs = Seq("region", "nation", "supplier", "customer").map(t =>
        JobSpec(source = sf() + s"/$t.parquet", target = s"${t}_t")),
      sink = SinkConfig(format = "parquet", path = Some(out), mode = "overwrite"))
    val results = Pipeline.run(spark, cfg, parallelism = 3)
    assert(results.forall(_.ok))
    assert(results.map(_.rows.get).sorted == Seq(5L, 10L, 25L, 150L))
  }

  test("concurrent jobs on one target each report their own row count " +
       "and null census") {
    val bigRows = spark.read.parquet(sf() + "/orders.parquet").count()
    val cfg = EngineConfig(
      jobs = Seq(
        JobSpec(source = sf() + "/region.parquet", target = "same",
          targetSchemaDdl = Some("r_regionkey INT, absent DOUBLE")),
        JobSpec(source = sf() + "/orders.parquet", target = "same",
          targetSchemaDdl = Some("o_orderkey BIGINT, absent DOUBLE"))),
      sink = SinkConfig(format = "noop"))
    for (_ <- 1 to 5) {
      val Seq(small, big) = Pipeline.run(spark, cfg, parallelism = 2)
      assert(small.rows.contains(5L), small)
      assert(small.nullCounts == Map("absent" -> 5L), small)
      assert(big.rows.contains(bigRows), big)
      assert(big.nullCounts == Map("absent" -> bigRows), big)
    }
  }

  test("row-count law: every sink reports the exact source row count and " +
       "null census") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val tmp = java.nio.file.Files.createTempDirectory("graft_rowlaw").toString
    val n = 1000
    spark.range(0, n, 1, 3).select(col("id"), (col("id") % 4).cast("int").as("g"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id")).as("v"),
        when(col("id") % 3 === 0, lit(null))
          .otherwise(col("id").cast("string")).as("s"))
      .write.parquet(s"$tmp/src")
    val census = Map("v" -> (0 until n).count(_ % 7 == 0).toLong,
      "s" -> (0 until n).count(_ % 3 == 0).toLong, "absent" -> n.toLong)
    val out = Some(s"$tmp/out")
    GraftMemJdbc.register()
    GraftMemJdbc.reset()
    val sinks = Seq(
      "parquet" -> SinkConfig(format = "parquet", path = out, mode = "overwrite"),
      "bucketed" -> SinkConfig(format = "parquet", mode = "overwrite",
        bucketBy = Seq("id"), numBuckets = 4),
      "iceberg" -> SinkConfig(format = "iceberg", path = out,
        partitionBy = Seq("g")),
      "avro" -> SinkConfig(format = "avro", path = out, mode = "overwrite"),
      "pgcopy" -> SinkConfig(format = "pgcopy", path = out, mode = "overwrite"),
      "jdbc" -> SinkConfig(format = "jdbc", url = Some("jdbc:graft:mem")),
      "noop" -> SinkConfig(format = "noop"))
    for ((name, sink) <- sinks) failAfter(120.seconds) {
      val r = Pipeline.run(spark, EngineConfig(Seq(JobSpec(
        source = s"$tmp/src", target = s"rowlaw_$name",
        format = Some(SourceFormat.Parquet),
        targetSchemaDdl = Some("id BIGINT, g INT, v BIGINT, s STRING, absent DOUBLE"))),
        sink)).head
      assert(r.error.isEmpty, s"$name: ${r.error}")
      assert(r.rows.contains(n.toLong), name)
      assert(r.nullCounts == census, name)
    }
    assert(GraftMemJdbc.insertedRows.size == n)
  }

  test("Spread lifts under-split inputs and passes through the rest") {
    val docs = spark.read.parquet(sf("sf0.1") + "/documents.parquet")
    assert(docs.rdd.getNumPartitions <
      spark.sparkContext.defaultParallelism)
    val spreadDocs = Spread(docs)
    assert(spreadDocs.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // already-parallel input: unchanged plan (no extra exchange)
    val wide = docs.repartition(spark.sparkContext.defaultParallelism + 2)
    assert(Spread(wide) eq wide)
    // tiny input (below the byte threshold): unchanged
    val tiny = spark.read.parquet(sf() + "/region.parquet")
    assert(Spread(tiny) eq tiny)
  }

  test("partitioned sink layout enables partition pruning") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    val cfg = EngineConfig(
      jobs = Seq(JobSpec(source = sf() + "/orders.parquet", target = "orders_p")),
      sink = SinkConfig(format = "parquet", path = Some(out),
        mode = "overwrite", partitionBy = Seq("o_orderstatus")))
    assert(Pipeline.run(spark, cfg).forall(_.ok))
    val back = spark.read.parquet(s"$out/orders_p")
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(back.count() > 0)
    // layout on disk is hive-style
    assert(new java.io.File(s"$out/orders_p/o_orderstatus=F").isDirectory)
  }

  test("csv, json, and orc round-trip through the reader facade") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val nation = spark.read.parquet(sf() + "/nation.parquet")
    nation.write.option("header", "true").csv(s"$tmp/nation_csv")
    nation.write.json(s"$tmp/nation_json")
    nation.write.orc(s"$tmp/nation_orc")
    val fromOrc = Readers.read(spark,
      JobSpec(source = s"$tmp/nation_orc", target = "n",
        format = Some(SourceFormat.Orc)))
    assert(fromOrc.count() == 25)
    assert(fromOrc.schema == nation.schema)
    val fromCsv = Readers.read(spark,
      JobSpec(source = s"$tmp/nation_csv", target = "n",
        format = Some(SourceFormat.Csv)))
    val fromJson = Readers.read(spark,
      JobSpec(source = s"$tmp/nation_json", target = "n",
        format = Some(SourceFormat.Json)))
    assert(fromCsv.count() == 25 && fromJson.count() == 25)
    assert(fromCsv.schema("n_nationkey").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("avro round-trips through the reader facade AND a full YAML job " +
       "(format: avro -> graft-avro DSv2 -> align -> sink)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_avrofmt").toString
    val nation = spark.read.parquet(sf() + "/nation.parquet")
    nation.write.format("graft-avro").mode("append").save(s"$tmp/nation_avro")
    // facade path: SourceFormat.Avro routes to the in-repo connector
    val fromAvro = Readers.read(spark,
      JobSpec(source = s"$tmp/nation_avro", target = "n",
        format = Some(SourceFormat.Avro)))
    assert(fromAvro.count() == 25)
    assert(fromAvro.schema == nation.schema)
    // full pipeline: the reference config shape with an avro source
    val res = Pipeline.run(spark, EngineConfig(
      jobs = Seq(JobSpec(source = s"$tmp/nation_avro", target = "nation_out",
        format = Some(SourceFormat.Avro),
        targetSchemaDdl = Some("n_nationkey BIGINT, n_name STRING"))),
      sink = SinkConfig(path = Some(s"$tmp/out"))))
    assert(res.forall(_.error.isEmpty), res.mkString("; "))
    val out = spark.read.parquet(s"$tmp/out/nation_out")
    assert(out.count() == 25)
    assert(out.schema("n_nationkey").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("one YAML config drives the WHOLE format matrix: csv + json + " +
       "orc + iceberg jobs align to the declared schema and land in the " +
       "parquet sink (the reference's multi-file config shape)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmtmtx").toString
    val nation = spark.read.parquet(sf() + "/nation.parquet")
    nation.write.option("header", "true").csv(s"$tmp/nation_csv")
    nation.write.json(s"$tmp/nation_json")
    nation.write.orc(s"$tmp/nation_orc")
    graft.sources.Iceberg.writeTable(nation, s"$tmp/nation_ice",
      "n_regionkey")
    val yaml =
      s"""jobs:
         |  - source: $tmp/nation_csv
         |    target: n_csv
         |    format: csv
         |    target_schema: "n_nationkey BIGINT, n_name STRING"
         |  - source: $tmp/nation_json
         |    target: n_json
         |    format: json
         |    target_schema: "n_nationkey BIGINT, n_name STRING"
         |  - source: $tmp/nation_orc
         |    target: n_orc
         |    format: orc
         |    target_schema: "n_nationkey BIGINT, n_name STRING"
         |  - source: $tmp/nation_ice
         |    target: n_ice
         |    format: iceberg
         |    target_schema: "n_nationkey BIGINT, n_name STRING"
         |sink:
         |  path: $tmp/out
         |""".stripMargin
    val res = Pipeline.run(spark, EngineConfig.fromAnyYaml(yaml))
    assert(res.forall(_.error.isEmpty), res.mkString("; "))
    for (t <- Seq("n_csv", "n_json", "n_orc", "n_ice")) {
      val out = spark.read.parquet(s"$tmp/out/$t")
      assert(out.count() === 25, s"$t row count")
      assert(out.columns.toSeq === Seq("n_nationkey", "n_name"), t)
      assert(out.schema("n_nationkey").dataType ==
        org.apache.spark.sql.types.LongType, s"$t align cast")
    }
  }

  test("YAML curation pipeline == hand-composed q_corpus_pipeline " +
       "stages (config adds zero semantics: same operators, same rows)") {
    import org.apache.spark.sql.functions._
    val yaml =
      s"""pipeline:
         |  source: ${sf()}/documents.parquet
         |  stages:
         |    - op: dedup
         |      tau: 0.3
         |    - op: quality_gate
         |      min_tokens: 20
         |      max_tokens: 200
         |    - op: sample
         |      rates: {en: 5}
         |      default_num: 8
         |      den: 10
         |""".stripMargin
    val cfg = EngineConfig.fromAnyYaml(yaml)
    assert(cfg.pipeline.isDefined && cfg.jobs.isEmpty)
    assert(cfg.pipeline.get.stages.map(_.op) ==
      Seq("dedup", "quality_gate", "sample"))
    val got = CurationPipeline.run(spark, cfg.pipeline.get)
      .select("doc_id", "lang", "n_tok").orderBy("doc_id")
      .collect().toSeq
    // hand-composed: the q_corpus_pipeline body (SparkEntry) with its
    // dedup spelled as the distributed keepCanonical(jaccardPairs), so
    // the config's driver-tier dedup stage is checked against it
    import graft.operators.{Dedup, Sampling, TextAnalysis}
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val deduped = Dedup.keepCanonical(docs,
      Dedup.jaccardPairs(docs, tau = 0.3))
    val gated = deduped
      .withColumn("norm_text", TextAnalysis.normalize(col("text")))
      .withColumn("n_tok",
        size(split(col("norm_text"), " ")).cast("long"))
      .filter(col("n_tok").between(20, 200))
    val want = Sampling.stratifiedSample(gated, col("doc_id"), col("lang"),
        rates = Map("en" -> 5), defaultNum = 8, den = 10)
      .select(col("doc_id"), col("lang"), col("n_tok"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("pipeline stages: exact_dedup / blocklist / quantile_filter / " +
       "pack each match their operator called directly") {
    import org.apache.spark.sql.functions._
    import graft.engine.CurationPipeline.{Stage, applyStage}
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    // exact_dedup keeps the min-id copy per distinct text
    val ed = applyStage(docs, Stage("exact_dedup", Map.empty))
    val wantIds = graft.operators.Dedup.exact(docs, "text", "doc_id")
      .select(col("keep_id")).orderBy("keep_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ed.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq == wantIds)
    // blocklist drops every doc containing a pattern
    val pats = new java.util.ArrayList[String]()
    pats.add("table"); pats.add("spark")
    val bl = applyStage(docs,
      Stage("blocklist", Map("patterns" -> pats)))
    assert(bl.filter(col("text").contains("table") ||
      col("text").contains("spark")).count() == 0)
    assert(bl.count() > 0 && bl.count() < docs.count())
    // quantile_filter == topFractionByGroup directly
    val qf = applyStage(docs, Stage("quantile_filter",
      Map("score" -> "n_chars", "num" -> "7", "den" -> "10")))
    val wantQf = graft.operators.Sampling.topFractionByGroup(docs,
        col("lang"), col("n_chars"), col("doc_id"), num = 7, den = 10)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(qf.select("doc_id").orderBy("doc_id")
      .collect().toSeq == wantQf)
    // pack emits the packShards manifest
    val pk = applyStage(docs, Stage("pack",
      Map("shards" -> "4", "budget" -> "1024")))
    val wantPk = graft.operators.Curation.packShards(docs, col("doc_id"),
        size(split(col("text"), " ")).cast("long"), 4, 1024L)
      .orderBy("doc_id").collect().toSeq
    assert(pk.orderBy("doc_id").collect().toSeq == wantPk)
    // comp_ratio_gate == the compressionRatio operator's threshold cut
    val cg = applyStage(docs, Stage("comp_ratio_gate",
      Map("max_ratio_micro" -> "600000")))
    val wantCg = graft.operators.TextAnalysis.compressionRatio(docs)
      .filter(col("ratio_micro") <= 600000L)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(cg.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq == wantCg)
    assert(cg.count() > 0 && cg.count() < docs.count())
    // unknown op fails loud with the known-op list
    val e = intercept[IllegalArgumentException] {
      applyStage(docs, Stage("nope", Map.empty))
    }
    assert(e.getMessage.contains("known:"))
  }

  test("pipeline stages: langid_filter and decontaminate match their " +
       "operators called directly") {
    import org.apache.spark.sql.functions._
    import graft.engine.CurationPipeline.{Stage, applyStage}
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    // langid_filter: keep docs predicted en or de (inline corpus with
    // unambiguous stopword signatures — the sf corpus predicts en
    // everywhere, which would make the screen a no-op)
    import spark.implicits._
    val mixed = Seq(
      (1L, "the cat of the hat and a bat"),
      (2L, "el perro de la casa y que"),
      (3L, "der hund und die katze das ist"),
      (4L, "le chien et la maison de un")).toDF("doc_id", "text")
    val langs = new java.util.ArrayList[String]()
    langs.add("en"); langs.add("de")
    val lf = applyStage(mixed, Stage("langid_filter", Map("keep" -> langs)))
    assert(lf.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // decontaminate: a doc-slice eval set flags its own docs out
    val evalDir = java.nio.file.Files
      .createTempDirectory("graft_evalset").toString + "/eval.parquet"
    docs.filter(col("doc_id") < 25).write.parquet(evalDir)
    val dc = applyStage(docs, Stage("decontaminate",
      Map("eval_source" -> evalDir, "min_shared" -> "20")),
      Some(spark))
    val wantDc = {
      val flagged = graft.operators.Dedup.contamination(docs,
          spark.read.parquet(evalDir), minShared = 20)
        .select("doc_id").distinct()
      docs.join(flagged, Seq("doc_id"), "left_anti")
    }
    assert(dc.select("doc_id").orderBy("doc_id").collect().toSeq ==
      wantDc.select("doc_id").orderBy("doc_id").collect().toSeq)
    assert(dc.count() > 0 && dc.count() < docs.count())
  }

  test("pipeline stage nfc_normalize: a decomposed and a precomposed " +
       "spelling collapse to one doc under a following exact_dedup") {
    import graft.engine.CurationPipeline.{Stage, applyStage}
    import spark.implicits._
    // doc 1 decomposed (e + U+0301), doc 2 precomposed (U+00E9)
    val docs = Seq(
      (1L, "resum\u0065\u0301 text"),
      (2L, "resum\u00e9 text"),
      (3L, "other text")).toDF("doc_id", "text")
    // without normalization exact_dedup keeps all three
    val rawDedup = applyStage(docs, Stage("exact_dedup", Map.empty))
    assert(rawDedup.count() == 3L)
    // with the nfc stage first, 1 and 2 key identically -> min-id wins
    val piped = applyStage(
      applyStage(docs, Stage("nfc_normalize", Map.empty)),
      Stage("exact_dedup", Map.empty))
    assert(piped.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("streaming YAML pipeline: narrow stages over a growing file " +
       "stream equal the batch pipeline over the union; stateful " +
       "stages reject with the DocStream pointer") {
    import org.apache.spark.sql.functions._
    import graft.engine.CurationPipeline.{Config, Stage}
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .localCheckpoint(true)
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_streampipe_src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_streampipe").toString + "/out"
    docs.filter(col("doc_id") < 250).write.mode("append").parquet(srcDir)
    val pats = new java.util.ArrayList[String]()
    pats.add("dup"); pats.add("slow")
    val stages = Seq(
      Stage("nfkc_normalize", Map.empty),
      Stage("quality_gate", Map("min_tokens" -> "20",
        "max_tokens" -> "200")),
      Stage("blocklist", Map("patterns" -> pats, "max_hits" -> "3")),
      Stage("comp_ratio_gate", Map("max_ratio_micro" -> "700000")))
    val cfg = Config(source = srcDir,
      format = Some(graft.engine.SourceFormat.Parquet), stages = stages,
      target = outDir, stream = true)
    val q = graft.engine.CurationPipeline.runStream(spark, cfg)
    q.processAllAvailable()
    // second shard lands mid-stream
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val want = graft.engine.CurationPipeline
      .run(spark, cfg.copy(source = srcDir, stream = false))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == want && got.nonEmpty && got.size < 500)
    // stateful stages reject loudly
    val e = intercept[IllegalArgumentException] {
      graft.engine.CurationPipeline.runStream(spark,
        cfg.copy(stages = Seq(Stage("dedup", Map.empty))))
    }
    assert(e.getMessage.contains("DocStream"))
  }
}
