package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.storage.StorageLevel

import graft.engine.{CurationPipeline, EngineConfig, JobSpec, Pipeline, Readers,
  SchemaAlign, Sink, SinkConfig, SourceFormat}
import graft.operators.{Dedup, Similarity}

/** One workload: seeded set-up, a closed-loop op, a traced op, and the
  * output checks. An op throws when it fails or its output is wrong.
  */
trait Workload {
  /** Ops per round; timed phases run whole rounds, so every op kind
    * is sampled equally often.
    */
  def roundSize: Int = 1
  /** Ops run before timing starts (JIT and codegen warm-up). */
  def warmupOps: Int
  /** Ops in the traced phase: a fixed count, so counters repeat exactly. */
  def tracedOps: Int

  def setup(): Unit
  /** Runs op `i`; returns the work units it completed. */
  def op(i: Int): Long
  /** Runs traced op `i` (0 until tracedOps) with `trace` counting;
    * returns (op nanoseconds, units).
    * Module timings, and any replay they need, go to `timers` outside
    * the counted block.
    */
  def tracedOp(i: Int, trace: Trace, timers: Timers): (Long, Long)
  /** Per-layer values this workload measures, after the traced phase. */
  def layers(timers: Timers, trace: Trace, ops: Int): Seq[(String, Double)]
  /** Checks the outputs; returns the failures found. */
  def check(): Seq[String]
  /** Share of the reference results the program returned (see NOTES.md). */
  def recall: Double
}

object Workload {
  def timeNs[T](body: => T): (Long, T) = {
    val t0 = System.nanoTime()
    val r = body
    (System.nanoTime() - t0, r)
  }

  def fail(msg: String): Nothing = throw new IllegalStateException(msg)

  /** Distinct files the engine's read of `df` plans to open: the file
    * index of a file source, plus the files named by a DSv2 scan's input
    * partitions. A file partition lists its files; any other partition
    * (such as graft-avro's per-file split range) is taken to name its
    * file in its first string field.
    */
  def plannedFiles(df: DataFrame): Int = {
    val v2 = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputPartitions.flatMap {
        case f: FilePartition => f.files.map(_.filePath.toString).toSeq
        case p: Product => p.productIterator.collectFirst { case s: String => s }.toSeq
        case _ => Nil
      }
    }.flatten
    (df.inputFiles.toSet ++ v2).size
  }
}

import Workload._

// ------------------------------------------------------------------- load

/** The engine's config path, as `graft.Run` executes a config: each round
  * loads the four lake tables one by one through `Pipeline.run` into the
  * pgcopy sink (overwrite), then runs the curation pipeline over the
  * lake's document corpus. Each op is one table job or one pipeline run.
  */
final class LoadWorkload(spark: SparkSession, work: String, seed: Long,
                         lakeSize: Gen.LakeSize, corpusSize: Gen.CorpusSize)
    extends Workload {
  val tableCount = 4
  override def roundSize: Int = tableCount + 1
  val warmupOps = 5 * roundSize
  val tracedOps = roundSize

  private[perfbench] val out = s"$work/sink"
  private val sink = SinkConfig(format = "pgcopy", path = Some(out),
    mode = "overwrite")
  private[perfbench] var tables: Seq[Gen.LoadTable] = Nil
  private[perfbench] val curation = new Curation(spark, s"$work/lake/documents", seed, corpusSize)

  private def job(t: Gen.LoadTable): JobSpec =
    JobSpec(source = t.source, target = t.name,
      format = Some(SourceFormat.fromName(t.format)),
      targetSchemaDdl = Some(t.targetDdl))

  def setup(): Unit = {
    tables = Gen.lake(spark, s"$work/lake", seed, lakeSize)
    require(tables.size == tableCount)
    curation.setup()
  }

  private def runTable(t: Gen.LoadTable): Long = {
    val r = Pipeline.run(spark, EngineConfig(Seq(job(t)), sink)).head
    r.error.foreach(e => throw e)
    if (!r.rows.contains(t.rows))
      fail(s"load ${t.name}: pipeline reported ${r.rows} rows, source has ${t.rows}")
    if (r.nullCounts != t.nulls)
      fail(s"load ${t.name}: pipeline null census ${r.nullCounts}, expected ${t.nulls}")
    t.rows
  }

  def op(i: Int): Long =
    if (i % roundSize < tableCount) runTable(tables(i % roundSize))
    else curation.run()

  def tracedOp(i: Int, trace: Trace, timers: Timers): (Long, Long) =
    if (i % roundSize == tableCount) curation.traced(trace, timers)
    else {
      val t = tables(i % roundSize)
      val (ns, rows) = trace.measure(timeNs(runTable(t)))
      timers.add("engine.Pipeline.runJob_ms", ns)
      // replay the job's three steps to time each module on its own
      trace.exclude {
        val j = job(t)
        val src = timers.time("engine.Readers.read_ms")(Readers.read(spark, j))
        val aligned = timers.time("engine.SchemaAlign.align_ms")(
          SchemaAlign.align(src, j.targetSchema.get))
        timers.time("engine.Sink.write_ms")(Sink.write(aligned, t.name, sink))
        timers.add("sources.files", plannedFiles(src))
      }
      (ns, rows)
    }

  def layers(timers: Timers, trace: Trace, ops: Int): Seq[(String, Double)] = {
    val tableOps = ops / roundSize * tableCount
    val per = Seq("engine.Readers.read_ms", "engine.SchemaAlign.align_ms",
      "engine.Sink.write_ms", "engine.Pipeline.runJob_ms")
      .map(k => k -> timers.ms(k) / tableOps)
    val overhead = per(3)._2 - per(0)._2 - per(1)._2 - per(2)._2
    per ++ Seq("engine.Pipeline.overhead_ms" -> overhead,
      "sources.files_per_op" -> timers.raw("sources.files").toDouble / tableOps) ++
      curation.layers(timers, ops / roundSize)
  }

  /** The payload of the last op on each table, read back from disk, and
    * the curation checks.
    */
  def check(): Seq[String] = tables.flatMap(checkTable) ++ curation.check()

  private var landedRows = 0L

  /** Line count, per-column `\N` census and `\COPY` manifest of one
    * table's payload.
    */
  def checkTable(t: Gen.LoadTable): Seq[String] = {
    val dir = new File(s"$out/${t.name}")
    val parts = Option(dir.listFiles).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("part-")).sorted
    val cols = t.targetColumns
    val nullCount = Array.fill(cols.size)(0L)
    var lines = 0L
    var errors = Vector.empty[String]
    for (p <- parts) {
      val text = new String(Files.readAllBytes(new File(dir, p).toPath), UTF_8)
      for (line <- text.split("\n", -1).dropRight(1)) {
        lines += 1
        val fields = line.split("\t", -1)
        if (fields.length != cols.size) {
          if (errors.size < 3)
            errors :+= s"load ${t.name}: line with ${fields.length} fields, want ${cols.size}"
        } else for (c <- fields.indices if fields(c) == "\\N") nullCount(c) += 1
      }
      if (!text.isEmpty && !text.endsWith("\n"))
        errors :+= s"load ${t.name}: $p does not end with a newline"
    }
    if (parts.isEmpty) errors :+= s"load ${t.name}: no payload files"
    landedRows += math.min(lines, t.rows)
    if (lines != t.rows)
      errors :+= s"load ${t.name}: payload has $lines lines, source has ${t.rows} rows"
    val census = cols.zip(nullCount).filter(_._2 > 0).toMap
    if (census != t.nulls)
      errors :+= s"load ${t.name}: payload null census $census, expected ${t.nulls}"
    val manifest = new File(s"$out/${t.name}.copy.sql")
    val listed =
      if (!manifest.exists) { errors :+= s"load ${t.name}: no manifest"; Nil }
      else {
        val colList = cols.map(c => "\"" + c + "\"").mkString(", ")
        val Line = ("""\\COPY "(.*)" \((.*)\) FROM '(.*)' WITH \(FORMAT text\)""").r
        Files.readAllLines(manifest.toPath, UTF_8).asScala.toSeq
          .filter(_.nonEmpty).flatMap {
            case Line(tab, cl, file) if tab == t.name && cl == colList => Some(file)
            case other =>
              errors :+= s"load ${t.name}: malformed manifest line: $other"
              None
          }
      }
    if (listed.sorted != parts.map(p => s"${t.name}/$p"))
      errors :+= s"load ${t.name}: manifest lists ${listed.size} files, " +
        s"the sink wrote ${parts.size}"
    errors
  }

  /** Share of source rows found in the payload times the share of
    * injected duplicate groups reduced to exactly one document.
    */
  def recall: Double =
    landedRows.toDouble / tables.map(_.rows).sum * curation.groupRecall
}

// --------------------------------------------------------------- curation

/** The curation pipeline of the load workload: exact_dedup -> dedup ->
  * quality_gate -> blocklist -> sample over a corpus with injected
  * duplicates, run with `CurationPipeline.run`; its surviving ids are
  * collected.
  */
final class Curation(spark: SparkSession, path: String, seed: Long,
                     size: Gen.CorpusSize) {
  val tau = 0.5
  private val stages = Seq(
    CurationPipeline.Stage("exact_dedup", Map.empty),
    CurationPipeline.Stage("dedup", Map("tau" -> Double.box(tau), "k" -> Int.box(3))),
    CurationPipeline.Stage("quality_gate",
      Map("min_tokens" -> Int.box(8), "max_tokens" -> Int.box(200))),
    CurationPipeline.Stage("blocklist",
      Map("patterns" -> java.util.List.of(Gen.BlockedWord))),
    CurationPipeline.Stage("sample", Map(
      "rates" -> java.util.Map.of("en", Int.box(7)),
      "default_num" -> Int.box(5), "den" -> Int.box(10))))

  private[perfbench] var corpus: Gen.Corpus = _
  private var cfg: CurationPipeline.Config = _
  private[perfbench] var reference: Array[Long] = _
  private var pairs = 0L
  var groupRecall = Double.NaN

  def setup(): Unit = {
    corpus = Gen.corpus(spark, path, seed, size, minJaccard = tau + 0.1)
    cfg = CurationPipeline.Config(source = corpus.path,
      format = Some(SourceFormat.Parquet), stages = stages, target = "curated")
  }

  private def ids(df: DataFrame): Array[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).sorted

  /** One pipeline run; its output must equal every other run's. */
  def run(): Long = {
    val out = ids(CurationPipeline.run(spark, cfg))
    if (reference == null) reference = out
    else if (!out.sameElements(reference))
      fail(s"curate: output differs between ops (${out.length} vs ${reference.length} ids)")
    corpus.ids.length
  }

  def traced(trace: Trace, timers: Timers): (Long, Long) = {
    val (ns, docs) = trace.measure(timeNs(run()))
    // replay stage by stage, materialising each stage's output
    trace.exclude {
      var df = Readers.read(spark, JobSpec(source = cfg.source,
        target = cfg.target, format = cfg.format))
      val kept = stages.map { st =>
        timers.time(s"curate.stage.${st.op}_ms") {
          df = CurationPipeline.applyStage(df, st, Some(spark))
            .persist(StorageLevel.MEMORY_AND_DISK)
          timers.add(s"curate.stage.${st.op}_rows_out", df.count())
        }
        if (st.op == "exact_dedup")
          pairs = Dedup.jaccardPairs(df, tau = tau, k = 3).count()
        df
      }
      kept.foreach(_.unpersist(blocking = true))
    }
    (ns, docs)
  }

  def layers(timers: Timers, runs: Int): Seq[(String, Double)] =
    stages.flatMap { st =>
      Seq(s"curate.stage.${st.op}_ms" -> timers.ms(s"curate.stage.${st.op}_ms") / runs,
        s"curate.stage.${st.op}_rows_out" ->
          timers.raw(s"curate.stage.${st.op}_rows_out").toDouble / runs)
    } :+ ("operators.Dedup.pairs" -> pairs.toDouble)

  /** Exactly one member of every injected duplicate group survives the
    * two dedup stages, nothing else is dropped by them, and the final
    * output is a subset of the survivors without any short or blocked
    * document.
    */
  def check(): Seq[String] =
    checkOutputs(survivors(), Option(reference).getOrElse(Array.empty[Long]))

  /** Ids left by the two dedup stages alone. */
  def survivors(): Set[Long] =
    ids(CurationPipeline.run(spark, cfg.copy(stages = stages.take(2)))).toSet

  def checkOutputs(survivors: Set[Long], finalIds: Array[Long]): Seq[String] = {
    val bad = corpus.groups.filter(g => g.count(survivors) != 1)
    groupRecall = 1 - bad.size.toDouble / corpus.groups.size
    val expected = corpus.ids.length - corpus.groups.map(_.size - 1).sum
    Seq(
      Option.when(bad.nonEmpty)(s"curate: ${bad.size} of ${corpus.groups.size} " +
        s"duplicate groups do not keep exactly one member, e.g. ${bad.head} " +
        s"keeps ${bad.head.filter(survivors)}"),
      Option.when(survivors.size != expected)(
        s"curate: dedup kept ${survivors.size} documents, expected $expected"),
      Option.when(finalIds.isEmpty)("curate: empty output"),
      Option.when(!finalIds.forall(survivors))(
        "curate: output holds documents dedup removed"),
      Option.when(finalIds.exists(corpus.shortIds))(
        "curate: output holds documents below the token minimum"),
      Option.when(finalIds.exists(corpus.blockedIds))(
        "curate: output holds blocklisted documents")).flatten
  }
}

// ------------------------------------------------------------------ serve

/** Each op sends one batch of query vectors to `ivfTopKIndexed` against
  * an IVF index built at set-up (one build plus appended generations);
  * nothing is written while ops run.
  */
final class ServeWorkload(spark: SparkSession, work: String, seed: Long,
                          size: Gen.VectorSize, batch: Int) extends Workload {
  val warmupOps = 30
  val tracedOps = 16

  val k = 10
  val nlist = 16
  val nprobe = 8
  private val index = s"$work/index"
  private var vecs: Gen.Vectors = _
  private var truth: Map[Long, Seq[Long]] = Map.empty
  private var batches: Array[java.util.List[org.apache.spark.sql.Row]] = _
  private[perfbench] val served = scala.collection.mutable.HashMap.empty[Long, Seq[Long]]
  private var buildNs, appendNs = 0L
  private var recallValue = Double.NaN

  private def generation(g: Int): DataFrame =
    spark.createDataFrame(Gen.vectorRows(vecs.generations(g).toSeq), Gen.VectorSchema)

  def setup(): Unit = {
    vecs = Gen.vectors(seed, size)
    buildNs = timeNs(Similarity.buildIvfIndex(generation(0), index, nlist = nlist))._1
    appendNs = (1 until vecs.generations.size).map(g => timeNs(
      Similarity.appendToIvfIndex(generation(g), index))._1).sum
    truth = Gen.bruteForceTopK(vecs.generations.flatten, vecs.queries.toSeq, k)
    batches = vecs.queries.grouped(batch).map(b => Gen.vectorRows(b.toSeq)).toArray
  }

  private def results(rows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("cid")).toSeq
    }

  private def record(b: Int, rows: Array[org.apache.spark.sql.Row]): Long = {
    val res = results(rows)
    val want = batches(b).asScala.map(_.getLong(0))
    for (q <- want) {
      val got = res.getOrElse(q, Nil)
      if (got.size != k) fail(s"serve: query $q got ${got.size} results, want $k")
      served.get(q).foreach(prev =>
        if (prev != got) fail(s"serve: query $q results changed between ops"))
      served(q) = got
    }
    want.size.toLong
  }

  private def queries(b: Int): DataFrame =
    spark.createDataFrame(batches(b), Gen.VectorSchema)

  def op(i: Int): Long = {
    val b = i % batches.length
    record(b, Similarity.ivfTopKIndexed(queries(b), index, k, nprobe).collect())
  }

  def tracedOp(i: Int, trace: Trace, timers: Timers): (Long, Long) = {
    val b = i % batches.length
    val (ns, rows) = trace.measure(timeNs {
      val df = timers.time("operators.Similarity.open_ms")(
        Similarity.ivfTopKIndexed(queries(b), index, k, nprobe))
      timers.time("operators.Similarity.exec_ms")(df.collect())
    })
    (ns, record(b, rows))
  }

  def layers(timers: Timers, trace: Trace, ops: Int): Seq[(String, Double)] = Seq(
    "operators.Similarity.open_ms" -> timers.ms("operators.Similarity.open_ms") / ops,
    "operators.Similarity.exec_ms" -> timers.ms("operators.Similarity.exec_ms") / ops,
    "operators.Similarity.rows_scanned_per_query" ->
      trace.inputRecords.get.toDouble / (ops.toLong * batch),
    "operators.Similarity.index_files" -> indexFiles.toDouble,
    "operators.Similarity.build_s" -> buildNs / 1e9,
    "operators.Similarity.append_s" -> appendNs / 1e9)

  def indexFiles: Long =
    Files.walk(new File(index).toPath).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet")).toLong

  /** Indexed results equal the inline IVF search over every generation
    * with the stored centroids; ops served those same results; recall
    * is measured against the brute-force top-k.
    */
  def check(): Seq[String] = {
    val (indexed, inline) = answers()
    recallValue = vecs.queries.map { case (q, _) =>
      indexed.getOrElse(q, Nil).count(truth(q).toSet).toDouble / k
    }.sum / vecs.queries.length
    checkOutputs(indexed, inline, served.toMap)
  }

  /** Every query's top-k from the index and from the inline search. */
  def answers(): (Map[Long, Seq[Long]], Map[Long, Seq[Long]]) = {
    val all = spark.createDataFrame(Gen.vectorRows(vecs.queries.toSeq), Gen.VectorSchema)
    (results(Similarity.ivfTopKIndexed(all, index, k, nprobe).collect()),
      results(Similarity.ivfTopK(all,
        vecs.generations.indices.map(generation).reduce(_ union _), k,
        nlist = nlist, nprobe = nprobe,
        centroids = Some(spark.read.parquet(s"$index/centroids"))).collect()))
  }

  def checkOutputs(indexed: Map[Long, Seq[Long]], inline: Map[Long, Seq[Long]],
                   servedRes: Map[Long, Seq[Long]]): Seq[String] = {
    val diff = vecs.queries.map(_._1).filter(q => indexed.get(q) != inline.get(q))
    val stale = servedRes.keys.filter(q => indexed.get(q) != servedRes.get(q))
    Seq(
      Option.when(diff.nonEmpty)(s"serve: ${diff.length} queries differ between " +
        s"the index and the inline search, e.g. ${diff.head}"),
      Option.when(servedRes.isEmpty)("serve: no query was served"),
      Option.when(stale.nonEmpty)(s"serve: ${stale.size} served results differ " +
        "from the index's answer")).flatten
  }

  def recall: Double = recallValue
}
