package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source facade — the engine's analogue of the reference's external-table
  * registration + schema inference (GCS2Postgres `src/db/db.go:25-56`).
  * Spark *is* the external-table engine: Parquet/ORC are self-describing,
  * CSV/JSON get `inferSchema`. Registration-as-view mirrors the reference's
  * idempotent table-id derivation from the file basename (db.go:23).
  */
object Readers {

  /** Table id = file basename minus extension (reference db.go:23). */
  def tableIdFor(source: String): String = {
    val base = source.split('/').last
    val dot = base.lastIndexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  def read(spark: SparkSession, job: JobSpec): DataFrame = {
    val fmt = job.resolvedFormat
    val reader = spark.read.options(job.options)
    fmt match {
      case SourceFormat.Parquet => readParquet(spark, job.source, job.options)
      case SourceFormat.Orc     => reader.orc(job.source)
      case SourceFormat.Csv =>
        reader.option("header", job.options.getOrElse("header", "true"))
          .option("inferSchema", job.options.getOrElse("inferSchema", "true"))
          .csv(job.source)
      case SourceFormat.Json    => reader.json(job.source)
      case SourceFormat.Text    => reader.text(job.source)
      case SourceFormat.Avro =>
        // the in-repo DSv2 connector (sync-split ranges + reader-schema
        // pruning) — no spark-avro module on this classpath
        reader.format("graft-avro").load(job.source)
      case SourceFormat.Iceberg =>
        // the in-repo table-format reader (graft.sources.Iceberg):
        // version-hint → metadata JSON → manifest list → manifests →
        // pruned parquet data files (merge-on-read when delete files
        // exist), all public Iceberg spec — no connector jar needed.
        // The full pruning surface rides the option map so YAML
        // pipelines drive it: `iceberg.partitionEq` (first-field
        // sugar), `iceberg.partitionEqs` ("k=v,k=v" conjunction),
        // `iceberg.asOf` (snapshot id — time travel),
        // `iceberg.colRange` ("col:lo:hi" long-column stats skip),
        // `iceberg.sourceRange` ("col:lo:hi" source-value window
        // pruned through order-preserving partition transforms —
        // day/month/year/truncate tables), `iceberg.ref` (named
        // tag/branch state by ref name).
        val eqs = job.options.get("iceberg.partitionEqs")
          .map(_.split(",").map { kv =>
            val Array(k, v) = kv.split("=", 2)
            k.trim -> v.trim
          }.toMap).getOrElse(Map.empty[String, String])
        val range = job.options.get("iceberg.colRange").map { s =>
          val Array(c, lo, hi) = s.split(":")
          (c.trim, lo.trim.toLong, hi.trim.toLong)
        }
        val srcRange = job.options.get("iceberg.sourceRange").map { s =>
          val Array(c, lo, hi) = s.split(":")
          (c.trim, lo.trim, hi.trim)
        }
        // `iceberg.ref` reads a NAMED state — a tag's pinned snapshot
        // or a branch's (possibly unpublished) head
        val refAsOf = job.options.get("iceberg.ref").map { r =>
          val m = graft.sources.Iceberg.currentMetadata(job.source)
          m.refs.getOrElse(r.trim, throw new IllegalArgumentException(
            s"iceberg: no ref '${r.trim}' on ${job.source} " +
              s"(have: ${m.refs.keys.toSeq.sorted.mkString(", ")})"))
        }
        graft.sources.Iceberg.scan(spark, job.source,
          partitionEq = job.options.get("iceberg.partitionEq"),
          asOf = job.options.get("iceberg.asOf").map(_.trim.toLong)
            .orElse(refAsOf),
          colRange = range,
          partitionEqs = eqs,
          sourceRange = srcRange)
      case SourceFormat.Bigquery =>
        // Connector jar absent in this environment (offline coursier);
        // the call shape is the production wiring (`load` takes the
        // project.dataset.table id the reference-config parser emits).
        reader.format(fmt.sparkFormat).load(job.source)
      case SourceFormat.Jdbc =>
        reader.format("jdbc").load()
    }
  }

  /** Register-and-read: the full reference producer semantics — create the
    * "external table" (temp view named after the file stem) if absent, and
    * hand back the lazily-scanned relation (db.go:17-56).
    */
  def register(spark: SparkSession, job: JobSpec): DataFrame = {
    val df = read(spark, job)
    df.createOrReplaceTempView(tableIdFor(job.source))
    df
  }

  /** Load every TPC-H-ish testdata table under `sfDir` as a temp view. */
  val testTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Resolved-plan cache for the immutable testdata tables: every
    * `spark.read.parquet` call re-lists the path and re-reads the footer
    * schema on the driver (~10-30 ms), and a 270-query bench calls
    * `table` thousands of times on the same ten paths. The cache holds
    * the LAZY analyzed DataFrame only — no rows; every action still
    * scans the parquet from disk. Keyed by session (tests build many
    * short-lived sessions whose catalogs must not leak into each other);
    * testdata dirs are immutable by contract, so staleness cannot arise.
    */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      DataFrame]()

  /** Drop cache entries owned by stopped sessions — a cached DataFrame
    * strongly references its session, so without this a long-lived JVM
    * churning short-lived sessions (the test suite) would pin every
    * stopped session's state forever. Purge-on-access keeps the maps
    * bounded by the number of LIVE sessions with no listener wiring.
    */
  private def purgeStopped(): Unit = {
    tableCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    registeredDir.keySet.removeIf(s => s.sparkContext.isStopped)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    purgeStopped()
    tableCache.computeIfAbsent((spark, s"$sfDir/$name.parquet"),
      k => readParquet(spark, k._2))
  }

  /** Parquet reader resilient to TIMESTAMP(NANOS) columns, which Spark 4
    * rejects outright (PARQUET_TYPE_ILLEGAL). The footer of the file
    * Spark's inference reads names the nanos columns; those are read as
    * raw longs (`nanosAsLong`) and truncated to Spark's native
    * microsecond timestamps — same behavior as DuckDB's
    * `CAST(ts AS TIMESTAMP)`, so oracle comparisons line up. The same
    * footer, opened once per call, gives the schema as Spark's inference
    * converts it, so the read runs no inference job; Spark still infers
    * when the options merge schemas or filter the listing.
    */
  def readParquet(spark: SparkSession, path: String,
                  options: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit,
      TimestampLogicalTypeAnnotation => Ts}
    import org.apache.spark.sql.execution.datasources.parquet._
    import scala.jdk.CollectionConverters._
    val footer = firstFooter(spark, path, options)
    val nanos = footer.toSeq.flatMap(_.getParquetMetadata.getFileMetaData
      .getSchema.getFields.asScala.collect {
        case f if f.isPrimitive && (f.getLogicalTypeAnnotation match {
          case t: Ts => t.getUnit == TimeUnit.NANOS
          case _ => false
        }) => f.getName
      })
    // CONTRACT NOTE: the flag is set session-wide and never restored.
    // Spark re-reads it at every physical planning of the lazy frame, so
    // a set-and-restore would make the returned frame throw
    // PARQUET_TYPE_ILLEGAL on its first action. It only changes how
    // TIMESTAMP(NANOS) columns read (raw long instead of an error): a
    // later direct spark.read.parquet of another nanos file gets raw
    // longs instead of Spark 4's error, never different values.
    if (nanos.nonEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val reader = spark.read.options(options)
    val listing = Seq("pathglobfilter", "recursivefilelookup",
      "modifiedbefore", "modifiedafter").exists(k => options.keys.exists(
        _.equalsIgnoreCase(k)))
    if (footer.nonEmpty && !listing &&
        !new ParquetOptions(options, spark.sessionState.conf).mergeSchema)
      reader.schema(ParquetFileFormat.readSchemaFromFooter(footer.get,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    val raw = reader.parquet(path)
    val denanosed = nanos.foldLeft(raw) { (df, c) =>
      // integer `div`, not `/` — double division would lose µs precision
      // on ~1.7e18 nanosecond values (> 2^53)
      df.withColumn(c, org.apache.spark.sql.functions
        .timestamp_micros(org.apache.spark.sql.functions.expr(s"`$c` div 1000")))
    }
    normalizeNtz(denanosed)
  }

  /** Normalize every TIMESTAMP_NTZ column (top-level or nested) to the
    * session-local TimestampType. Parquet writers flip `isAdjustedToUTC`
    * freely (pandas/pyarrow default to naive timestamps); the reference
    * passes source-type drift through untouched
    * (GCS2Postgres `src/utils/utils.go:136-166`), and downstream
    * operators here (`unix_micros`, typed `java.sql.Timestamp` encoders)
    * want one canonical timestamp type. The session timezone is pinned
    * to UTC (build.sbt), so the NTZ wall-clock reading and the instant
    * reading coincide — the cast is value-preserving and matches DuckDB,
    * whose TIMESTAMP is naive.
    */
  def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    def strip(dt: DataType): DataType = dt match {
      case TimestampNTZType      => TimestampType
      case s: StructType         =>
        StructType(s.fields.map(f => f.copy(dataType = strip(f.dataType))))
      case a: ArrayType          => a.copy(elementType = strip(a.elementType))
      case m: MapType            =>
        m.copy(keyType = strip(m.keyType), valueType = strip(m.valueType))
      case other                 => other
    }
    val needed = df.schema.fields.filter(f => strip(f.dataType) != f.dataType)
    if (needed.isEmpty) df
    else needed.foldLeft(df) { (d, f) =>
      d.withColumn(f.name, d.col(s"`${f.name}`").cast(strip(f.dataType)))
    }
  }

  /** The footer of the file Spark's schema inference reads: `path`
    * itself, or a directory's first data file by path; `None` for a
    * directory with subdirectories or summary files (a hive-partitioned
    * table), a glob, or a path that cannot be read.
    */
  private def firstFooter(spark: SparkSession, path: String,
      options: Map[String, String]): Option[org.apache.parquet.hadoop.Footer] =
    try {
      val hconf = spark.sessionState.newHadoopConfWithOptions(options)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hconf)
      // Spark's listing skips '_' and '.' names and in-flight copies, but
      // keeps the summary files
      val listed =
        if (!fs.getFileStatus(p).isDirectory) Array(fs.getFileStatus(p))
        else fs.listStatus(p).filter { st =>
          val n = st.getPath.getName
          !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".") &&
            !n.endsWith("._COPYING_") || n.startsWith("_metadata") ||
            n.startsWith("_common_metadata")
        }
      if (listed.exists(st => st.isDirectory ||
          st.getPath.getName.startsWith("_"))) None
      else listed.map(_.getPath).sortBy(_.toString).headOption.map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
        try new org.apache.parquet.hadoop.Footer(f, reader.getFooter)
        finally reader.close()
      }
    } catch { case _: Exception => None }

  /** The events table (TIMESTAMP(NANOS) `ts` handled by readParquet). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    readParquet(spark, s"$sfDir/events.parquet")

  /** Last directory registered per session: re-registering the same ten
    * views before every SQL query costs a catalog round-trip each — the
    * gate makes repeat calls (every SQL-family query in a bench pass)
    * free while a genuine dir switch still re-points every view.
    */
  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Invariant the gate relies on (r15, advisor note): nothing else may
    * createOrReplaceTempView/dropTempView one of the ten table names on
    * a session this gate has seen — the skip would silently keep the
    * foreign view for every later SQL query (the pre-gate loop
    * re-registered on every call and so self-healed). No in-repo writer
    * does; the sentinel probe below catches an external drop cheaply
    * (one catalog lookup vs ten) and falls back to re-registering.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    if (registeredDir.get(spark) != sfDir ||
        !spark.catalog.tableExists(testTables.head)) {
      testTables.foreach { t =>
        table(spark, sfDir, t).createOrReplaceTempView(t)
      }
      // recorded only AFTER every view registered: a mid-loop failure
      // must leave the gate open so the next call self-heals (the
      // pre-gate loop's behavior)
      registeredDir.put(spark, sfDir)
    }
}
