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
    import org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
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
    (out, jobs.asScala.toSeq)
  }
}

object SparkSpec {
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
