package graft.engine

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** Pipeline orchestrator — the engine's `TransferData` (GCS2Postgres
  * `src/db/db.go:188-220`). Differences by design:
  *
  *   - Per-table failure isolation instead of process-fatal `log.Fatalf`
  *     (db.go:41,63,86,182): one bad table doesn't kill the run.
  *   - Optional inter-table parallelism: the reference's `concurrent_jobs`
  *     only sizes a channel buffer (config.yaml:18, db.go:193) and tables
  *     actually run sequentially (db.go:192-203); here `parallelism > 1`
  *     genuinely overlaps table jobs on the shared SparkContext, which is
  *     how a 1000-executor cluster keeps busy on many small tables.
  *   - Intra-table parallelism is Spark's partitioning — no user code.
  */
object Pipeline {

  /** `rows` is the exact landed count, `None` only when `error` is set. */
  final case class JobResult(job: JobSpec, rows: Option[Long],
                             error: Option[Throwable],
                             nullCounts: Map[String, Long] = Map.empty) {
    def ok: Boolean = error.isEmpty
  }

  /** Run one job: read → align to target schema (when declared) → sink.
    * Returns row count written (the reference logs `copyCount`, db.go:184)
    * plus a per-column null census. Both come from an `Observation` on
    * the frame the sink writes — ONE pass over the data; at 100 TB a
    * separate data-quality scan would double the ingest cost. The
    * observation is private to this call (concurrent jobs never mix),
    * and is read only after `Sink.write` returns, so a failed write never
    * waits; a sink that skipped the write completes it empty: 0 rows.
    */
  def runJob(spark: SparkSession, job: JobSpec,
             sink: SinkConfig): (Long, Map[String, Long]) = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val src = Readers.read(spark, job)
    val aligned = job.targetSchema.map(SchemaAlign.align(src, _)).getOrElse(src)
    val auditCols = aligned.columns.toSeq.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    val observation = Observation()
    Sink.write(aligned.observe(observation, count(lit(1)).as("rows"),
      auditCols: _*), job.target, sink)
    // a null sum (no rows) unboxes to 0 like a missing metric
    val metrics = observation.get.withDefaultValue(0L)
    val nulls = aligned.columns.toSeq.map(c =>
      c -> metrics(s"nulls_$c").asInstanceOf[Long]).filter(_._2 > 0).toMap
    (metrics("rows").asInstanceOf[Long], nulls)
  }

  def run(spark: SparkSession, config: EngineConfig,
          parallelism: Int = 1): Seq[JobResult] = {
    def one(job: JobSpec): JobResult =
      Try(runJob(spark, job, config.sink)) match {
        case Success((n, nulls)) => JobResult(job, Some(n), None, nulls)
        case Failure(e) => JobResult(job, None, Some(e))
      }
    if (parallelism <= 1) config.jobs.map(one)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fs = config.jobs.map(j => Future(one(j)))
        Await.result(Future.sequence(fs), Duration.Inf)
      } finally pool.shutdown() // non-daemon threads would pin the JVM
    }
  }

  /** Align-only transform, exposed for query-level use and testing.
    * Deliberately NO `Spread` here: align/cast is a codegen'd projection
    * (~ns/row), so lifting an under-split input costs a full shuffle to
    * parallelize work cheaper than the shuffle itself — and any
    * downstream sort/aggregate re-distributes anyway. Spread is reserved
    * for genuinely CPU-bound per-row kernels (shingling, hashing,
    * quantization).
    */
  def ingest(spark: SparkSession, job: JobSpec): DataFrame = {
    val src = Readers.read(spark, job)
    job.targetSchema.map(SchemaAlign.align(src, _)).getOrElse(src)
  }
}
