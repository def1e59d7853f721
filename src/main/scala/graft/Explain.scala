package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection CLI — the ONE entry point for plan-shape iteration
  * (the former `graft.tools.Explain` extended-mode twin is folded in
  * here behind a flag). Prints the physical plan for the given queries
  * without running the plan itself. Building a query's frame still
  * runs the jobs of its eager operators (the similarity top-k sites,
  * index builds, checkpoints and driver-side collects), so the plan
  * printed for those is the plan over their results. Expression, plan
  * and RDD ids differ between runs; mask them before diffing plans.
  * Usage:
  *   graft.Explain [-extended] [sfDir] [query ...]
  * Default mode is `formatted` (the PLANS.md captures); `-extended`
  * prints the parsed/analyzed/optimized/physical chain.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val extended = args.contains("-extended")
    val rest = args.filterNot(_ == "-extended")
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else Seq("q_filter", "q1_agg", "q_join_star", "q_topk",
        "ingest_lineitem", "q_join_range", "q_event_sliding",
        "q_dedup_lsh", "q_topk_agg")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      val df = SparkEntry.queries(n)(spark, dir)
      if (extended)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExtendedMode))
      else df.explain("formatted")
    }
    spark.stop()
  }
}
