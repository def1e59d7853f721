package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession (getOrCreate),
  * local[4], UTC, small shuffle fan-out.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `f`'s result with the description (`spark.job.description`, empty
    * when unset) of every Spark job that started while it ran.
    */
  def withJobLabels[A](f: => A): (A, Seq[String]) = {
    val (out, jobs) = withJobs(f)
    (out, jobs.map(_.label))
  }

  /** `f`'s result with every Spark job that started while it ran, in
    * start order.
    */
  def withJobs[A](f: => A): (A, Seq[SparkSpec.Job]) = {
    import org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    val ran = new java.util.concurrent.ConcurrentHashMap[Int, Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("") -> j.stageIds)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        ran.put(s.stageInfo.stageId,
          s.stageInfo.rddInfos.flatMap(_.scope.map(_.name)).toSet)
    }
    waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    val out =
      try f
      finally {
        waitUntilEmpty(sc)
        sc.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    (out, started.asScala.toSeq.map { case (label, ids) =>
      SparkSpec.Job(label, ids.flatMap(id => Option(ran.get(id)).map(id -> _)).toMap)
    })
  }
}

object SparkSpec {
  /** A started job: its description, and each of its stages that ran
    * (skipped ones left out) by id, with the operator scopes of the
    * stage's RDDs (`Scan parquet …`, `Exchange`, `BroadcastExchange`,
    * `Window`, …).
    */
  final case class Job(label: String, stages: Map[Int, Set[String]])

  /** The distinct stages that ran in `jobs`, in id order, as operator
    * scopes.
    */
  def stages(jobs: Seq[Job]): Seq[Set[String]] =
    jobs.flatMap(_.stages).toMap.toSeq.sortBy(_._1).map(_._2)

  lazy val session: SparkSession = {
    // catalog state (bucketed saveAsTable) goes to temp dirs, not the repo
    val tmp = java.nio.file.Files.createTempDirectory("graft_spark").toString
    System.setProperty("derby.system.home", tmp)
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
