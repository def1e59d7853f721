package graft.engine

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types.{DataType, StructType}

/** Source formats the engine recognizes. Mirrors the reference's
  * extension-derived `SourceFormat` (GCS2Postgres `src/db/db.go:27` — file
  * extension, uppercased). Avro and Iceberg are served by in-repo readers
  * (sources/AvroSource, sources/Iceberg); BigQuery and JDBC — whose
  * connector jars are absent in this environment — stay first-class enum
  * members so the prod wiring is one jar away; reads fail fast with a
  * clear message.
  */
sealed abstract class SourceFormat(val sparkFormat: String)
object SourceFormat {
  case object Parquet extends SourceFormat("parquet")
  case object Csv     extends SourceFormat("csv")
  case object Json    extends SourceFormat("json")
  case object Orc     extends SourceFormat("orc")
  case object Text    extends SourceFormat("text")
  case object Avro    extends SourceFormat("avro")     // served by graft.sources.AvroSource
  case object Iceberg extends SourceFormat("iceberg")  // served by graft.sources.Iceberg (v1 spec reader)
  case object Jdbc    extends SourceFormat("jdbc")     // needs driver jar
  case object Bigquery extends SourceFormat("bigquery") // needs spark-bigquery

  val all: Seq[SourceFormat] =
    Seq(Parquet, Csv, Json, Orc, Text, Avro, Iceberg, Jdbc, Bigquery)

  /** Reference behavior: format = file extension, case-insensitive
    * (db.go:27 uppercases the extension for BigQuery; Spark wants lower).
    */
  def fromExtension(path: String): SourceFormat = {
    val ext = path.reverse.takeWhile(_ != '.').reverse.toLowerCase
    fromName(ext)
  }

  def fromName(name: String): SourceFormat =
    all.find(_.sparkFormat == name.toLowerCase).getOrElse(
      throw new IllegalArgumentException(
        s"unsupported source format '$name' (know: ${all.map(_.sparkFormat).mkString(", ")})"))
}

/** One unit of work: load `source` (format-inferred from extension when not
  * given), align to the target table's schema, append to `target`.
  * Mirrors the reference's `File{Name, Table}` / `Table{Name, Table}`
  * config units (utils.go:41-49).
  *
  * @param targetSchemaDdl target schema as DDL ("a INT, b STRING"); in prod
  *   this comes from the sink catalog (JDBC metadata — the reference reads
  *   `information_schema.columns`, utils.go:104); declared here because the
  *   environment has no live Postgres.
  */
final case class JobSpec(
    source: String,
    target: String,
    format: Option[SourceFormat] = None,
    targetSchemaDdl: Option[String] = None,
    options: Map[String, String] = Map.empty) {
  def resolvedFormat: SourceFormat =
    format.getOrElse(SourceFormat.fromExtension(source))
  def targetSchema: Option[StructType] =
    targetSchemaDdl.map(ddl => DataType.fromDDL(ddl).asInstanceOf[StructType])
}

/** Engine config: list of jobs plus sink settings. Shape mirrors the
  * reference's YAML (`config.yaml:1-25`: gcs.files[], bq.tables[],
  * postgres.*), minus cloud credentials (env/manual in this environment).
  */
final case class EngineConfig(
    jobs: Seq[JobSpec],
    sink: SinkConfig = SinkConfig(),
    pipeline: Option[CurationPipeline.Config] = None,
    maintenance: Seq[MaintenanceSpec] = Nil)

/** One lakehouse maintenance action (the `maintenance:` YAML list,
  * run by [[Maintenance]] after ELT jobs so a config can land a
  * day's shards and immediately compact/publish/trim the table it
  * fed). `op` ∈ compact | expire | evolve_spec | create_branch |
  * fast_forward | tag; `args` carries the op's keys (retain_last,
  * spec, name, from, snapshot, sort_by).
  */
final case class MaintenanceSpec(
    table: String,
    op: String,
    args: Map[String, String] = Map.empty)

final case class SinkConfig(
    format: String = "parquet",         // "jdbc" in prod
    path: Option[String] = None,        // parquet sink root
    url: Option[String] = None,         // jdbc url in prod
    batchSize: Int = 10000,             // jdbc batchsize per partition
    mode: String = "append",
    partitionBy: Seq[String] = Nil,     // layout for partition pruning
    bucketBy: Seq[String] = Nil,        // co-located join layout
    numBuckets: Int = 0)                // required when bucketBy set

object EngineConfig {
  /** Parse the YAML config (snakeyaml is on Spark's classpath). Accepts:
    * {{{
    * jobs:
    *   - source: /data/lineitem.parquet
    *     target: lineitem
    *     format: parquet            # optional, else from extension
    *     target_schema: "a INT, b STRING"   # optional
    * sink:
    *   format: parquet
    *   path: /tmp/out
    * }}}
    */
  def fromYaml(yaml: String): EngineConfig = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"engine config: $msg")
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](yaml).asScala
    val jobs = root.get("jobs").toSeq.flatMap {
      case l: java.util.List[_] => l.asScala.toSeq.map {
        case m: java.util.Map[_, _] =>
          val j = m.asInstanceOf[java.util.Map[String, Object]].asScala
          def needj(key: String): String = j.get(key) match {
            case Some(v) if v != null => v.toString
            case _ => fail(s"'jobs' entry is missing required key '$key'")
          }
          JobSpec(
            source = needj("source"),
            target = needj("target"),
            format = j.get("format").map(f => SourceFormat.fromName(f.toString)),
            targetSchemaDdl = j.get("target_schema").map(_.toString),
            options = j.get("options").map(_.asInstanceOf[java.util.Map[String, Object]]
              .asScala.map { case (k, v) => k -> v.toString }.toMap)
              .getOrElse(Map.empty))
        case other =>
          fail("'jobs' entries must be mappings with source/target, got " +
            other.getClass.getSimpleName)
      }
      case other =>
        fail(s"'jobs' must be a list, got ${other.getClass.getSimpleName}")
    }
    val sink = root.get("sink").map {
      case m: java.util.Map[_, _] =>
      val s = m.asInstanceOf[java.util.Map[String, Object]].asScala
      SinkConfig(
        format = s.get("format").map(_.toString).getOrElse("parquet"),
        path = s.get("path").map(_.toString),
        url = s.get("url").map(_.toString),
        batchSize = s.get("batch_size").map(_.toString.toInt).getOrElse(10000),
        mode = s.get("mode").map(_.toString).getOrElse("append"),
        partitionBy = s.get("partition_by").toSeq.flatMap {
          case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
          case one => Seq(one.toString)
        },
        bucketBy = s.get("bucket_by").toSeq.flatMap {
          case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
          case one => Seq(one.toString)
        },
        numBuckets = s.get("num_buckets").map(_.toString.toInt).getOrElse(0))
      case other =>
        fail(s"'sink' must be a mapping, got ${other.getClass.getSimpleName}")
    }.getOrElse(SinkConfig())
    val pipeline = root.get("pipeline").map {
      case m: java.util.Map[_, _] =>
        val p = m.asInstanceOf[java.util.Map[String, Object]].asScala
        def needp(key: String): String = p.get(key) match {
          case Some(v) if v != null => v.toString
          case _ => fail(s"'pipeline' is missing required key '$key'")
        }
        val stages = p.get("stages") match {
          case Some(l: java.util.List[_]) => l.asScala.toSeq.map {
            case sm: java.util.Map[_, _] =>
              val s = sm.asInstanceOf[java.util.Map[String, Object]]
                .asScala
              val op = s.get("op") match {
                case Some(v) if v != null => v.toString
                case _ => fail("'pipeline.stages' entry is missing 'op'")
              }
              CurationPipeline.Stage(op, s.toMap - "op")
            case other =>
              fail("'pipeline.stages' entries must be mappings, got " +
                other.getClass.getSimpleName)
          }
          case _ => fail("'pipeline' needs a 'stages' list")
        }
        CurationPipeline.Config(
          source = needp("source"),
          format = p.get("format")
            .map(f => SourceFormat.fromName(f.toString)),
          stages = stages,
          target = p.get("target").map(_.toString)
            .getOrElse("pipeline_out"),
          stream = p.get("stream").exists(_.toString.toBoolean))
      case other =>
        fail(s"'pipeline' must be a mapping, got " +
          other.getClass.getSimpleName)
    }
    val maintenance = root.get("maintenance").toSeq.flatMap {
      case l: java.util.List[_] => l.asScala.toSeq.map {
        case m: java.util.Map[_, _] =>
          val mm = m.asInstanceOf[java.util.Map[String, Object]].asScala
          def needm(key: String): String = mm.get(key) match {
            case Some(v) if v != null => v.toString
            case _ =>
              fail(s"'maintenance' entry is missing required key '$key'")
          }
          MaintenanceSpec(
            table = needm("table"),
            op = needm("op"),
            args = (mm.toMap - "table" - "op").collect {
              case (k, v) if v != null => k -> v.toString
            })
        case other =>
          fail("'maintenance' entries must be mappings with table/op, " +
            s"got ${other.getClass.getSimpleName}")
      }
      case other =>
        fail(s"'maintenance' must be a list, got " +
          other.getClass.getSimpleName)
    }
    EngineConfig(jobs, sink, pipeline, maintenance)
  }

  /** Parse the REFERENCE'S OWN config format unchanged (GCS2Postgres
    * `config.yaml:1-25`: `postgres.*`, `gcs.{bucket_name, files[]}`,
    * `bq.{project_id, dataset, tables[]}`) — the drop-in migration path:
    * a reference user points this engine at their existing file and gets
    * the same (source, target) job list and a JDBC sink bound to the
    * same Postgres, with the reference's semantics preserved:
    *   - GCS entries become `gs://bucket/name` sources with the format
    *     derived from the file extension (db.go:22, db.go:27);
    *   - BQ entries become `project.dataset.name` sources in the
    *     Bigquery source format (connector jar in prod; db.go:95-147);
    *   - `postgres.secret_name` becomes a `secret://...` placeholder in
    *     the JDBC url, resolved at write time by the pluggable secret
    *     provider (utils.go:70-87 fetched it from GCP Secret Manager);
    *   - `concurrent_jobs` is accepted and ignored — in the reference it
    *     only sized a channel buffer (db.go:193), never actual
    *     concurrency; here inter-table parallelism is a Pipeline option
    *     and intra-table parallelism is Spark's.
    */
  def fromReferenceYaml(yaml: String): EngineConfig = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"reference config: $msg")
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](yaml).asScala
    def section(name: String): Map[String, Object] =
      root.get(name) match {
        case None | Some(null) => Map.empty
        case Some(m: java.util.Map[_, _]) =>
          m.asInstanceOf[java.util.Map[String, Object]].asScala.toMap
        case Some(other) =>
          fail(s"section '$name' must be a mapping, got " +
            other.getClass.getSimpleName)
      }
    def need(sec: Map[String, Object], secName: String,
             key: String): String =
      sec.get(key) match {
        case Some(v) if v != null => v.toString
        case _ => fail(s"section '$secName' is missing required key '$key'")
      }
    def units(sec: Map[String, Object], secName: String,
              key: String): Seq[(String, String)] =
      sec.get(key) match {
        case None | Some(null) => Nil
        case Some(l: java.util.List[_]) => l.asScala.toSeq.map {
          case m: java.util.Map[_, _] =>
            val u = m.asInstanceOf[java.util.Map[String, Object]].asScala
              .toMap
            (need(u, s"$secName.$key[]", "name"),
              need(u, s"$secName.$key[]", "table"))
          case other =>
            fail(s"'$secName.$key' entries must be mappings with " +
              s"name/table, got ${other.getClass.getSimpleName}")
        }
        case Some(other) =>
          fail(s"'$secName.$key' must be a list, got " +
            other.getClass.getSimpleName)
      }
    val gcs = section("gcs")
    val gcsJobs = units(gcs, "gcs", "files").map { case (name, table) =>
      JobSpec(source = s"gs://${need(gcs, "gcs", "bucket_name")}/$name",
        target = table)
    }
    val bq = section("bq")
    val bqJobs = units(bq, "bq", "tables").map { case (name, table) =>
      JobSpec(source = s"${need(bq, "bq", "project_id")}." +
          s"${need(bq, "bq", "dataset")}.$name",
        target = table, format = Some(SourceFormat.Bigquery))
    }
    val pg = section("postgres")
    val sink =
      if (pg.isEmpty) SinkConfig()
      else {
        val pwd = pg.get("secret_name").filter(_ != null)
          .map(s => s"&password=secret://$s").getOrElse("")
        SinkConfig(format = "jdbc", url = Some(
          s"jdbc:postgresql://${need(pg, "postgres", "host")}:" +
            s"${need(pg, "postgres", "port")}/" +
            s"${need(pg, "postgres", "dbname")}" +
            s"?user=${need(pg, "postgres", "user")}" +
            s"&sslmode=${need(pg, "postgres", "sslmode")}$pwd"))
      }
    EngineConfig(gcsJobs ++ bqJobs, sink)
  }

  /** Parse either config dialect: reference-format files (any `gcs:` or
    * `bq:` top-level section) route to [[fromReferenceYaml]], everything
    * else to the native [[fromYaml]]. This lives at the config layer so
    * every entry point (CLI, tests, library use) gets the drop-in
    * migration path, not just one particular main.
    */
  def fromAnyYaml(yaml: String): EngineConfig = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](yaml)
    val keys = Option(root).map(_.asScala.keySet).getOrElse(Set.empty)
    if (keys("gcs") || keys("bq")) fromReferenceYaml(yaml)
    else fromYaml(yaml)
  }

  def fromAnyYamlFile(path: String): EngineConfig =
    fromAnyYaml(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))
}
