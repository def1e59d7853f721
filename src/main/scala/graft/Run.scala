package graft

import graft.engine.{EngineConfig, Pipeline}

/** CLI entry point — the engine's `main.go` (GCS2Postgres src/main.go:11-44):
  * load YAML config, run the pipeline, report per-table results.
  * Usage: graft.Run <config.yaml> [parallelism]
  */
object Run {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Run <config.yaml> [parallelism]")
    // accepts the reference's own config format unchanged (gcs:/bq:
    // sections, GCS2Postgres config.yaml:1-25) as well as the native
    // jobs:/sink: dialect — detection lives in EngineConfig
    val config = EngineConfig.fromAnyYamlFile(args(0))
    val parallelism = if (args.length > 1) args(1).toInt else 1
    val spark = graft.engine.GraftSession.build("graft")
    val results = Pipeline.run(spark, config, parallelism)
    results.foreach { r =>
      if (r.ok) {
        val audit = if (r.nullCounts.isEmpty) ""
          else r.nullCounts.toSeq.sortBy(_._1)
            .map { case (c, n) => s"$c=$n" }
            .mkString(" (null audit: ", ", ", ")")
        println(s"[graft] ${r.job.source} -> ${r.job.target}: " +
          s"${r.rows.get} rows$audit")
      }
      else
        println(s"[graft] ${r.job.source} -> ${r.job.target}: FAILED: ${r.error.get.getMessage}")
    }
    // the curation pipeline (pipeline: section) runs after ELT jobs so
    // a config can land a table and immediately curate it
    val pipelineFailed = config.pipeline.exists { p =>
      scala.util.Try {
        if (p.stream) {
          // stream: true — drain every file currently in the source
          // (one-shot semantics for a CLI run; a service would leave
          // the query running for continuous curation)
          val q = graft.engine.CurationPipeline.runStream(spark, p)
          q.processAllAvailable()
          q.stop()
          val drained = spark.read.parquet(p.target)
          // route the drained frame through the configured sink like
          // the batch branch — a jdbc/pgcopy sink must not silently
          // degrade to the local parquet landing dir. A stream's
          // target is a real DIRECTORY (the parquet landing), so the
          // sink-side table name is its basename — passing the path
          // itself would become an invalid jdbc dbtable / a nested
          // parquet path
          if (config.sink.path.isDefined || config.sink.url.isDefined) {
            val table = new java.io.File(p.target).getName
            graft.engine.Sink.write(drained, table, config.sink)
            println(s"[graft] stream pipeline ${p.source} -> ${p.target}: " +
              s"${p.stages.map(_.op).mkString(" -> ")} (drained, written)")
          } else {
            println(s"[graft] stream pipeline ${p.source} -> ${p.target}: " +
              s"${p.stages.map(_.op).mkString(" -> ")}: " +
              s"${drained.count()} rows drained")
          }
        } else {
        val out = graft.engine.CurationPipeline.run(spark, p)
        if (config.sink.path.isDefined || config.sink.url.isDefined) {
          graft.engine.Sink.write(out, p.target, config.sink)
          println(s"[graft] pipeline ${p.source} -> ${p.target}: " +
            s"${p.stages.map(_.op).mkString(" -> ")} (written)")
        } else {
          println(s"[graft] pipeline ${p.source} -> ${p.target}: " +
            s"${p.stages.map(_.op).mkString(" -> ")}: ${out.count()} rows")
        }
        }
      } match {
        case scala.util.Success(_) => false
        case scala.util.Failure(e) =>
          println(s"[graft] pipeline ${p.source}: FAILED: ${e.getMessage}")
          true
      }
    }
    // lakehouse maintenance runs LAST: a config lands the day's
    // shards, curates, then compacts/publishes/trims the tables it
    // just fed (ordered, per-entry isolation in Maintenance.run)
    val maintenanceResults =
      graft.engine.Maintenance.run(spark, config.maintenance)
    maintenanceResults.foreach { r =>
      if (r.ok)
        println(s"[graft] maintenance ${r.spec.op} ${r.spec.table}: ok")
      else
        println(s"[graft] maintenance ${r.spec.op} ${r.spec.table}: " +
          s"FAILED: ${r.error.get.getMessage}")
    }
    spark.stop()
    if (results.exists(!_.ok) || pipelineFailed ||
      maintenanceResults.exists(!_.ok)) sys.exit(1)
  }
}
