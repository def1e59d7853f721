package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for the traced run, registered from outside the engine: a
  * `SparkListener` for scheduler and task metrics, a
  * `QueryExecutionListener` for driver-side planning time, and JVM GC
  * beans. Events count only inside [[measure]]; the listener bus is
  * drained at both ends of every measured and excluded block, so work
  * the harness does between ops (stage replays, checks) is never
  * attributed to an op.
  */
final class Trace(spark: SparkSession) {
  private val on = new AtomicBoolean(false)
  val jobs, stages, tasks, taskRunMs, taskCpuNs, shuffleWriteBytes,
    spillBytes, inputBytes, inputRecords, outputBytes, planNs = new AtomicLong()

  private def count(a: AtomicLong, v: Long): Unit = if (on.get) a.addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = count(jobs, 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      count(stages, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        count(tasks, 1)
        count(taskRunMs, m.executorRunTime)
        count(taskCpuNs, m.executorCpuTime)
        count(shuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
        count(spillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
        count(inputBytes, m.inputMetrics.bytesRead)
        count(inputRecords, m.inputMetrics.recordsRead)
        count(outputBytes, m.outputMetrics.bytesWritten)
      }
  }

  /** Time of `queryExecution.executedPlan` — the optimization and
    * physical-planning phases Spark's planning tracker records — summed
    * over every query an op runs.
    */
  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      count(planNs, Seq("optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum * 1000000L)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  private var gcMsCounted = 0L

  private def drain(): Unit =
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    drain()
  }

  /** Run `body` with every listener event and GC pause it causes counted. */
  def measure[T](body: => T): T = {
    val gc0 = gcMs
    on.set(true)
    try body finally {
      drain()
      on.set(false)
      gcMsCounted += gcMs - gc0
    }
  }

  /** Run `body` without counting it. */
  def exclude[T](body: => T): T = try body finally drain()

  /** GC milliseconds inside [[measure]] blocks. */
  def gcMsMeasured: Long = gcMsCounted

  def stop(): Unit = {
    drain()
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(listener)
  }
}

/** Wall-clock timers for calls into the engine's modules, keyed by
  * metric name.
  */
final class Timers {
  private val ns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  def time[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ns(key) = ns.getOrElse(key, 0L) + (System.nanoTime() - t0)
  }
  def add(key: String, v: Long): Unit = ns(key) = ns.getOrElse(key, 0L) + v
  def ms(key: String): Double = ns.getOrElse(key, 0L) / 1e6
  def raw(key: String): Long = ns.getOrElse(key, 0L)
}
