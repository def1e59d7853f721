package graft.engine

import org.apache.spark.sql.DataFrame

/** Sink facade — the engine's analogue of the reference's bulk PG COPY
  * (GCS2Postgres `src/db/db.go:175-180`). Where the reference buffers every
  * row in driver memory and pushes one COPY over a single connection
  * (db.go:160-180, db.go:151-155), Spark's JDBC writer opens one connection
  * PER PARTITION and streams `batchsize`-row batches — the shape that
  * survives 100 TB: sink parallelism scales with partition count and no
  * executor ever materializes more than its partition.
  *
  * Every case is a Spark write of `df` itself, so an `Observation` on
  * `df` ([[Pipeline.runJob]]'s counts) completes with the write.
  */
object Sink {

  def write(df: DataFrame, target: String, cfg: SinkConfig): Unit =
    cfg.format match {
      case "parquet" if cfg.bucketBy.nonEmpty =>
        // bucketed layout: both sides of a join bucketed on the join key
        // with the same bucket count read back pre-partitioned — the join
        // plans with NO exchange. The 100 TB co-location tool for
        // repeatedly-joined fact tables. Bucketing requires a catalog
        // table (saveAsTable), not a bare path.
        require(cfg.numBuckets > 0, "bucketBy needs numBuckets > 0")
        df.write
          .bucketBy(cfg.numBuckets, cfg.bucketBy.head, cfg.bucketBy.tail: _*)
          .sortBy(cfg.bucketBy.head, cfg.bucketBy.tail: _*)
          .mode(cfg.mode)
          .format("parquet")
          .saveAsTable(target)
      case "parquet" =>
        val root = cfg.path.getOrElse(
          throw new IllegalArgumentException("parquet sink needs sink.path"))
        // hive-style partition layout: downstream filters on these
        // columns prune whole directories at planning time
        val writer =
          if (cfg.partitionBy.nonEmpty)
            df.write.partitionBy(cfg.partitionBy: _*)
          else df.write
        writer.mode(cfg.mode).parquet(s"$root/$target")
      case "iceberg" =>
        // table-format landing through the in-repo composer: first
        // write BUILDS the table (one partitionBy job + one
        // distributed footer-stats job), later appends COMMIT
        // snapshots that reuse prior manifests — the lakehouse ELT
        // target the `maintenance:` section then compacts/publishes/
        // trims. `partition_by` entries are `col` (identity) or
        // `col:transform` with the full composer transform surface
        // (bucket[N], truncate[W], year/month/day/hour).
        val root = cfg.path.getOrElse(
          throw new IllegalArgumentException("iceberg sink needs sink.path"))
        require(cfg.partitionBy.nonEmpty,
          "iceberg sink needs sink.partition_by " +
            "(entries: col or col:transform)")
        val specs = cfg.partitionBy.map { e =>
          e.split(":") match {
            case Array(src)     => (src.trim, "identity")
            case Array(src, tr) => (src.trim, tr.trim)
            case _ => throw new IllegalArgumentException(
              s"iceberg sink: bad partition_by entry '$e' " +
                "(want col or col:transform)")
          }
        }
        val dir = s"$root/$target"
        if (!graft.sources.Iceberg.tableExists(dir))
          graft.sources.Iceberg.writeTableTransformed(df, dir, specs)
        else cfg.mode match {
          case "append" => graft.sources.Iceberg.appendToTable(df, dir)
          case other => throw new IllegalArgumentException(
            s"iceberg sink: table $dir exists and mode '$other' is not " +
              "append — refusing (drop the table directory to rebuild, " +
              "or use deleteWhere/upsertTable for row-level changes)")
        }
      case "avro" | "pgcopy" =>
        // path-based DSv2 landings. avro (sources/AvroSource): one
        // deflate-coded container file per partition, splittable on sync
        // markers for whoever reads it next. pgcopy (PgCopySource): the
        // reference's landing step (db.go:175-180, pgx.CopyFrom) as one
        // COPY TEXT file per partition plus a `<target>.copy.sql`
        // manifest of `\COPY` commands, landed all-or-nothing at commit;
        // loading needs only psql, one invocation per file.
        val root = cfg.path.getOrElse(throw new IllegalArgumentException(
          s"${cfg.format} sink needs sink.path"))
        // DSv2 path sinks have no catalog, so only append/overwrite;
        // anything else (error/errorifexists/ignore) must fail loudly
        // before writing — silently coercing to overwrite would truncate
        // data the job spec asked us to protect
        require(cfg.mode == "append" || cfg.mode == "overwrite",
          s"${cfg.format} sink supports mode append/overwrite, got '${cfg.mode}'")
        df.write.format(if (cfg.format == "avro") "graft-avro" else "pgcopy")
          .mode(cfg.mode).option("table", target).save(s"$root/$target")
      case "jdbc" =>
        // Production wiring (driver jar absent in this environment):
        // one connection per partition, batched inserts. `numPartitions`
        // caps sink-side connections when the upstream plan is very wide.
        df.write.format("jdbc")
          // secret://NAME placeholders resolve here (reference R14:
          // utils.go:70-87 fetched the PG password at startup)
          .option("url", Secrets.resolve(cfg.url.getOrElse(
            throw new IllegalArgumentException("jdbc sink needs sink.url"))))
          .option("dbtable", target)
          .option("batchsize", cfg.batchSize.toString)
          .option("isolationLevel", "NONE") // COPY-like throughput
          .mode(cfg.mode)
          .save()
      case other =>
        df.write.mode(cfg.mode).format(other)
          .save(cfg.path.map(p => s"$p/$target").getOrElse(target))
    }
}
