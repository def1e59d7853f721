package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The harness: one JVM, one `SparkSession` on `local[nproc]`, one
  * closed-loop client. Set-up (session, seeded inputs, index build,
  * warm-up ops) is timed as `setup_s`; then ops run back to back for
  * `--seconds`. With `--trace 1` the timed phase is split: half untraced,
  * then a fixed number of traced ops that yield the per-layer numbers.
  *
  * {{{
  * Main --workload load|serve --seed N --seconds S --trace 0|1
  *      --work DIR --result FILE
  * }}}
  *
  * Every op's latency is printed to stderr, which shows the warm-up curve.
  */
object Main {

  /** (name, unit) of every end-to-end metric, printed with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms", "peak_rss_mb" -> "MB", "recall" -> "ratio")

  /** (name, unit) of every per-layer metric, printed with `--trace 1`.
    * A layer the workload does not call reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_busy_share" -> "ratio",
    "spark.task_cpu_ms_per_op" -> "ms", "jvm.gc_ms_per_op" -> "ms",
    "spark.shuffle_write_bytes_per_op" -> "bytes",
    "spark.spill_bytes_per_op" -> "bytes",
    "spark.input_bytes_per_op" -> "bytes",
    "spark.output_bytes_per_op" -> "bytes",
    "driver.plan_ms" -> "ms",
    "trace.untraced_op_p50_ms" -> "ms", "trace.traced_op_p50_ms" -> "ms",
    "trace.overhead_ms" -> "ms",
    "steady.first_half_p50_ms" -> "ms", "steady.second_half_p50_ms" -> "ms",
    "host.calibration_ms" -> "ms",
    "engine.Readers.read_ms" -> "ms", "engine.SchemaAlign.align_ms" -> "ms",
    "engine.Sink.write_ms" -> "ms", "engine.Pipeline.runJob_ms" -> "ms",
    "engine.Pipeline.overhead_ms" -> "ms", "sources.files_per_op" -> "count") ++
    Seq("exact_dedup", "dedup", "quality_gate", "blocklist", "sample").flatMap(op =>
      Seq(s"curate.stage.${op}_ms" -> "ms", s"curate.stage.${op}_rows_out" -> "count")) ++
    Seq("operators.Dedup.pairs" -> "count",
      "operators.Similarity.open_ms" -> "ms", "operators.Similarity.exec_ms" -> "ms",
      "operators.Similarity.rows_scanned_per_query" -> "count",
      "operators.Similarity.index_files" -> "count",
      "operators.Similarity.build_s" -> "s", "operators.Similarity.append_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, result: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("result"))
  }

  def workload(name: String, spark: SparkSession, work: String,
               seed: Long): Workload = name match {
    case "load" => new LoadWorkload(spark, work, seed,
      Gen.LakeSize(orders = 16000, customers = 12000, events = 8000,
        payments = 12000),
      Gen.CorpusSize(docs = 1000, exactGroups = 25, nearGroups = 25,
        shortDocs = 20, blockedDocs = 20))
    case "serve" => new ServeWorkload(spark, work, seed,
      Gen.VectorSize(dim = 32, clusters = 8, base = 5000, appends = 2,
        perAppend = 1000, queries = 128), batch = 4)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The op-latency percentile reported as `op_tail_ms`. */
  val TailPercentile = 90.0

  /** Linear-interpolated percentile of sorted samples. */
  def percentile(sorted: Seq[Double], p: Double): Double = {
    val pos = p / 100 * (sorted.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted, 50)

  /** The typical op latency: the median of each op kind, combined by
    * geometric mean across kinds (as TPC-H's power metric combines its
    * queries). With one kind (serve) this is the plain median. With
    * several (load's four tables and the curation run) the median of the
    * pooled ops would fall between the kinds' clusters and jump with
    * their order; this moves smoothly with each kind's latency.
    */
  def typical(kindMs: Seq[(Int, Double)]): Double = {
    val kinds = kindMs.groupMap(_._1)(_._2).values
    math.exp(kinds.map(k => math.log(median(k.toSeq))).sum / kinds.size)
  }

  private def peakRssMb: Double = {
    val line = Files.readAllLines(new File("/proc/self/status").toPath, UTF_8)
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(argv)
    Calibrate.warm()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.engine.GraftSession.build("perfbench", cpus.toString,
      Map("spark.local.dir" -> s"${a.work}/spark-local"))
    try run(spark, a, cpus, () => jvmStartS + (System.nanoTime() - t0) / 1e9)
    finally spark.stop()
  }

  private def say(s: String): Unit = { println(s"[perfbench] $s"); Console.flush() }

  def run(spark: SparkSession, a: Args, cpus: Int, uptime: () => Double): Unit = {
    val w = workload(a.workload, spark, a.work, a.seed)
    require(w.warmupOps % w.roundSize == 0)
    val sessionS = uptime()
    var attempted, failed = 0L
    val failures = ArrayBuffer.empty[String]
    var next = 0
    // one op, recorded: duration in ms (None when it failed) and units
    def attempt(body: Int => (Long, Long)): Option[(Double, Long)] = {
      val i = next
      next += 1
      attempted += 1
      try {
        val (ns, units) = body(i)
        Some((ns / 1e6, units))
      } catch {
        case e: Exception =>
          failed += 1
          if (failures.size < 5) failures += s"op $i: $e"
          None
      }
    }
    def plain(i: Int): (Long, Long) = Workload.timeNs(w.op(i))
    // one op, then the calibration slices; both go to stderr, which shows
    // the warm-up curve and the host's speed
    def step(): (Option[(Double, Long)], Seq[Double]) = {
      val i = next
      val r = attempt(plain)
      val sl = Seq.fill(Calibrate.SlicesPerOp)(Calibrate.slice())
      System.err.println(f"[perfbench] op $i ${r.fold("failed")(x => f"${x._1}%.1f ms")}; " +
        sl.map(x => f"$x%.2f").mkString("slices ", " ", " ms"))
      (r, sl)
    }

    w.setup()
    val inputsS = uptime()
    val setupSlices = ArrayBuffer.empty[Double]
    for (_ <- 0 until w.warmupOps) setupSlices ++= step()._2
    val setupS = uptime()
    say(f"${a.workload}: set-up $setupS%.2f s: session $sessionS%.2f s, " +
      f"inputs ${inputsS - sessionS}%.2f s, ${w.warmupOps} warm-up ops " +
      f"${setupS - inputsS}%.2f s")

    // ops, and the calibration slices after each, for `seconds` of op
    // time, in whole rounds and at least two; stops early only to keep
    // the run inside its time limit
    // returns (op kind, ms) of every op that succeeded, the units they
    // completed, and every slice
    def timed(seconds: Double): (Seq[(Int, Double)], Long, Seq[Double]) = {
      val kindMs = ArrayBuffer.empty[(Int, Double)]
      val slices = ArrayBuffer.empty[Double]
      var units = 0L
      var ops = 0
      while ((kindMs.map(_._2).sum < seconds * 1e3 || ops % w.roundSize != 0 ||
              ops < 2 * w.roundSize) && uptime() < 150) {
        val (r, sl) = step()
        slices ++= sl
        r.foreach { case (d, u) => kindMs += (ops % w.roundSize -> d); units += u }
        ops += 1
      }
      (kindMs.toSeq, units, slices.toSeq)
    }

    val (kindMs, units, timedSlices) =
      timed(if (a.trace) a.seconds / 2.0 else a.seconds.toDouble)
    require(kindMs.nonEmpty, s"no timed op succeeded: ${failures.mkString("; ")}")
    val ms = kindMs.map(_._2)
    val opS = ms.sum / 1e3
    // how much slower than the reference this core ran while setting up
    // and while timing
    val setupSlow = median(setupSlices.toSeq) / Calibrate.ReferenceMs
    val timedSlow = median(timedSlices) / Calibrate.ReferenceMs
    say(f"${a.workload}: calibration slices: median ${median(setupSlices.toSeq)}%.2f ms " +
      f"during warm-up, ${median(timedSlices)}%.2f ms during the timed phase " +
      f"(reference ${Calibrate.ReferenceMs}%.0f ms)")
    val sorted = ms.sorted
    val n = ms.size
    // halves in whole rounds where there are two or more, so both
    // halves hold the same op mix
    val half = if (n >= 2 * w.roundSize) n / w.roundSize / 2 * w.roundSize else n / 2
    // both halves at the reference speed of the whole timed phase, like
    // `op_p50_ms`: the slices of one half are too few to scale it alone
    val (firstHalf, secondHalf) =
      (typical(kindMs.take(half)) / timedSlow, typical(kindMs.drop(half)) / timedSlow)
    val p50 = typical(kindMs)
    val tailP = TailPercentile
    val tail = percentile(sorted, tailP)
    say(f"${a.workload}: ${n} timed ops in $opS%.2f s; op p50 $p50%.2f ms " +
      f"(n=$n, ${w.roundSize} kind(s); pooled median ${median(ms)}%.2f ms); " +
      f"op p$tailP%.0f $tail%.2f ms (n=$n, ${n - math.ceil(n * tailP / 100).toInt} beyond)")
    say(f"${a.workload}: steadiness: first-half p50 $firstHalf%.2f ms " +
      f"(n=$half), second-half p50 $secondHalf%.2f ms (n=${n - half}), " +
      f"drift ${(secondHalf / firstHalf - 1) * 100}%+.1f%%")

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      val trace = new Trace(spark)
      val timers = new Timers
      trace.start()
      // (op kind, ms) of every traced op, as `timed` records them, so the
      // traced and untraced p50 use the same estimator
      val traced = ArrayBuffer.empty[(Int, Double)]
      for (j <- 0 until w.tracedOps)
        attempt(_ => w.tracedOp(j, trace, timers))
          .foreach(r => traced += (j % w.roundSize -> r._1))
      trace.stop()
      require(traced.nonEmpty, s"no traced op succeeded: ${failures.mkString("; ")}")
      val ops = traced.size
      val tracedWallMs = traced.map(_._2).sum
      val tracedP50 = typical(traced.toSeq)
      layer ++= Seq(
        "spark.jobs_per_op" -> trace.jobs.get.toDouble / ops,
        "spark.stages_per_op" -> trace.stages.get.toDouble / ops,
        "spark.tasks_per_op" -> trace.tasks.get.toDouble / ops,
        "spark.task_busy_share" -> trace.taskRunMs.get / (cpus * tracedWallMs),
        "spark.task_cpu_ms_per_op" -> trace.taskCpuNs.get / 1e6 / ops,
        "jvm.gc_ms_per_op" -> trace.gcMsMeasured.toDouble / ops,
        "spark.shuffle_write_bytes_per_op" -> trace.shuffleWriteBytes.get.toDouble / ops,
        "spark.spill_bytes_per_op" -> trace.spillBytes.get.toDouble / ops,
        "spark.input_bytes_per_op" -> trace.inputBytes.get.toDouble / ops,
        "spark.output_bytes_per_op" -> trace.outputBytes.get.toDouble / ops,
        "driver.plan_ms" -> trace.planNs.get / 1e6 / ops,
        "trace.untraced_op_p50_ms" -> p50,
        "trace.traced_op_p50_ms" -> tracedP50,
        "trace.overhead_ms" -> (tracedP50 - p50),
        "steady.first_half_p50_ms" -> firstHalf,
        "steady.second_half_p50_ms" -> secondHalf,
        "host.calibration_ms" -> median(timedSlices))
      layer ++= w.layers(timers, trace, ops)
      say(f"${a.workload}: traced p50 $tracedP50%.2f ms (n=${traced.size}); " +
        f"tracing overhead ${tracedP50 - p50}%+.2f ms")
    }

    val errors =
      try w.check()
      catch { case e: Exception => Seq(s"check failed: $e") }
    (failures ++ errors).foreach(e => say(s"${a.workload}: FAIL $e"))
    val correct = failed == 0 && errors.isEmpty
    say(f"${a.workload}: outputs ${if (correct) "correct" else "WRONG"}; " +
      f"$attempted ops attempted, $failed failed; done at ${uptime()}%.2f s")

    val metrics: Seq[(String, String, Double)] =
      if (a.trace) PerLayer.map { case (k, u) => (k, u, layer.getOrElse(k, 0.0)) }
      else {
        // times at the reference core speed; the raw values are printed above
        val values = Map("setup_s" -> setupS / setupSlow,
          "throughput_per_s" -> units / opS * timedSlow,
          "op_p50_ms" -> p50 / timedSlow, "op_tail_ms" -> tail / timedSlow,
          "peak_rss_mb" -> peakRssMb, "recall" -> w.recall)
        EndToEnd.map { case (k, u) => (k, u, values(k)) }
      }
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val json = metrics.map { case (k, u, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {""", ", ", "}}")
    Files.write(new File(a.result).toPath, json.getBytes(UTF_8))
  }
}
