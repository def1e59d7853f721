package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{approx_count_distinct, col, concat, lit, regexp_replace, struct, substring, when}

/** In-repo Apache Iceberg TABLE-FORMAT reader/writer — the last
  * reference source format (GCS2Postgres `README.md:11` "Iceberg")
  * previously served by a parquet-backed double. Everything here is
  * the PUBLIC Iceberg table spec (https://iceberg.apache.org/spec/):
  * JSON table metadata, Avro manifest lists and manifests, parquet
  * data files, v2 position-delete files. No connector jar — the
  * repo's own Avro machinery ([[AvroConv]]'s core-library sibling
  * usage) reads the metadata tree.
  *
  * Read path (the scale story):
  *  - `metadata/version-hint.text` (or max `vN.metadata.json`) names
  *    the current metadata — ONE tiny file read;
  *  - the metadata JSON names the current snapshot and its MANIFEST
  *    LIST — one small Avro file whose rows carry per-manifest
  *    partition-bound summaries (`field_summary.lower_bound/
  *    upper_bound`, the spec's single-value binary serialization);
  *  - a partition predicate prunes MANIFESTS against those bounds
  *    before any manifest is opened, then prunes FILES against each
  *    entry's own partition value — at 100 TB a point query reads the
  *    manifests of one partition, not the table's (this is the same
  *    story as the persisted IVF index's probed-cell scan, done at the
  *    table-format layer);
  *  - only the surviving parquet data files enter the Spark scan
  *    (`spark.read.parquet(files…)` — self-describing, column-pruned,
  *    filter-pushed like any parquet scan); with v2 position deletes
  *    present, the scan is MERGE-ON-READ: one distributed anti-join
  *    of (file, row position) against the delete files — deletes are
  *    never applied on the driver.
  *
  * Write path (the scale story, fixed this round): composing a
  * snapshot is ONE `partitionBy` Spark write job regardless of how
  * many partition tuples the data carries, followed by ONE
  * distributed job that reads every data file's parquet FOOTER on the
  * executors (row counts + per-column bounds). The driver touches
  * only metadata: a directory listing of the committed write and the
  * manifest/manifest-list composition (KBs per partition tuple). At
  * date×tenant scale — thousands of tuples — the job count stays
  * O(1), never O(|tuples|).
  *
  * Manifest reading happens at PLANNING time on the driver —
  * deliberately: that is where Iceberg itself reads manifests, they
  * are metadata (KBs–MBs each), and after manifest-list pruning the
  * driver touches only the survivors. The DATA path is fully
  * distributed.
  *
  * Column resolution is by FIELD ID, not name (the spec's rename
  * story): the composer records a `schema.name-mapping.default`
  * property (field id → the column name physically written into the
  * data files) and [[renameColumn]] is a metadata-only commit — scans
  * select the mapped physical column and alias it to the current
  * display name, so files written before a rename keep reading.
  *
  * Scope (spec subset, honest about it): format-versions 1 and 2,
  * N partition fields of the spec transforms (identity on string/long
  * plus bucket[N] / truncate[W] / year / month / day / hour —
  * conjunctive pruning through the transform), parquet data files,
  * append + position-delete + EQUALITY-delete snapshots (merge-on-read
  * for both), upsert, compaction, schema evolution (rename, add, drop,
  * type promotion). Equality deletes apply with the spec's sequence
  * rule: explicit v2 `sequence_number` fields (entry-level, or
  * inherited from the manifest-list row) are honored when present;
  * tables without them fall back to snapshot-id-as-sequence, which is
  * guarded by a strictly-monotone-history check so a foreign v2 table
  * with random snapshot ids fails loudly instead of merging deletes in
  * the wrong order. Position deletes need no sequence machinery (a
  * delete names exact (file, pos) targets, so later-appended files are
  * untouched by construction).
  */
object Iceberg {

  private def om = new ObjectMapper()
  // the session's Hadoop configuration: `spark.hadoop.*` and session
  // `fs.*` settings reach every metadata read and write
  private def hconf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  // ---------------------------------------------------------------
  // spec Avro schemas (field-id props as the spec requires)
  // ---------------------------------------------------------------

  /** manifest_entry with identity partition fields of the given
    * (name, type) pairs — types "string" | "long". `content`
    * (field-id 134) distinguishes data files (0) from position-delete
    * files (1); absent in pre-v2 manifests and read as 0.
    */
  private[sources] def manifestEntrySchema(
      partFields: Seq[PartField]): Schema = {
    val pf = partFields.zipWithIndex.map { case (f, i) =>
      s"""{"name":"${f.name}","type":["null","${f.resType}"],
         |           "default":null,"field-id":${1000 + i}}""".stripMargin
    }.mkString(",\n          ")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int","field-id":0},
         |  {"name":"snapshot_id","type":["null","long"],"default":null,
         |   "field-id":1},
         |  {"name":"data_file","field-id":2,"type":{
         |    "type":"record","name":"r2","fields":[
         |      {"name":"content","type":"int","default":0,"field-id":134},
         |      {"name":"equality_ids","default":null,"field-id":135,
         |       "type":["null",{"type":"array","items":"int"}]},
         |      {"name":"file_path","type":"string","field-id":100},
         |      {"name":"file_format","type":"string","field-id":101},
         |      {"name":"partition","field-id":102,"type":{
         |        "type":"record","name":"r102","fields":[
         |          $pf]}},
         |      {"name":"record_count","type":"long","field-id":103},
         |      {"name":"file_size_in_bytes","type":"long","field-id":104},
         |      {"name":"lower_bounds","field-id":125,"default":null,
         |       "type":["null",{"type":"array","items":{
         |         "type":"record","name":"k126_v127","fields":[
         |           {"name":"key","type":"int","field-id":126},
         |           {"name":"value","type":"bytes","field-id":127}]}}]},
         |      {"name":"upper_bounds","field-id":128,"default":null,
         |       "type":["null",{"type":"array","items":{
         |         "type":"record","name":"k129_v130","fields":[
         |           {"name":"key","type":"int","field-id":129},
         |           {"name":"value","type":"bytes","field-id":130}]}}]}
         |  ]}}
         |]}""".stripMargin)
  }

  /** manifest_file (one manifest-list row), with the partition
    * field_summary array carrying the spec's binary bounds and the v2
    * `content` discriminator (field-id 517: 0 = data manifests,
    * 1 = delete manifests; absent in v1 lists and read as 0).
    */
  private[sources] val manifestFileSchema: Schema =
    new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |  {"name":"manifest_path","type":"string","field-id":500},
        |  {"name":"manifest_length","type":"long","field-id":501},
        |  {"name":"partition_spec_id","type":"int","field-id":502},
        |  {"name":"content","type":"int","default":0,"field-id":517},
        |  {"name":"added_snapshot_id","type":["null","long"],
        |   "default":null,"field-id":503},
        |  {"name":"partitions","field-id":507,"default":null,
        |   "type":["null",{"type":"array","items":{
        |     "type":"record","name":"r508","fields":[
        |       {"name":"contains_null","type":"boolean","field-id":509},
        |       {"name":"lower_bound","type":["null","bytes"],
        |        "default":null,"field-id":510},
        |       {"name":"upper_bound","type":["null","bytes"],
        |        "default":null,"field-id":511}
        |  ]}}]}
        |]}""".stripMargin)

  // ---------------------------------------------------------------
  // single-value binary serialization (spec appendix D)
  // ---------------------------------------------------------------

  private[sources] def boundBytes(v: Any): Array[Byte] = v match {
    case s: String => s.getBytes(UTF_8)
    case l: Long =>
      java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array()
    case i: Int =>
      java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
    case other => throw new IllegalArgumentException(
      s"unsupported partition bound type ${other.getClass.getSimpleName}")
  }

  private[sources] def boundValue(b: Array[Byte], ptype: String): Any =
    ptype match {
      case "string" => new String(b, UTF_8)
      case "long" => java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      case "int" => java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      case other => throw new IllegalArgumentException(
        s"unsupported partition type $other")
    }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
    case (x: Int, y: Int)       => java.lang.Integer.compare(x, y)
    case _ => throw new IllegalArgumentException(s"uncomparable: $a vs $b")
  }

  // ---------------------------------------------------------------
  // partition transforms (spec Partitioning section)
  // ---------------------------------------------------------------

  /** One partition-spec field: `name` is the manifest/record field
    * name (identity fields keep the source column's name, derived
    * fields get `src_transform` names), `sourceCol` the source column,
    * `transform` the spec transform string, `srcType`/`resType` the
    * Iceberg source and RESULT types ("int" for bucket and the time
    * transforms, the source type for identity/truncate).
    */
  final case class PartField(name: String, sourceCol: String,
                             transform: String, srcType: String,
                             resType: String) {
    def isIdentity: Boolean = transform == "identity"
    /** Every supported transform except bucket is order-preserving
      * (v1 <= v2 implies t(v1) <= t(v2)), so source RANGES prune
      * through it; bucket scatters and only point probes prune.
      */
    def orderPreserving: Boolean = !transform.startsWith("bucket[")
  }

  object PartField {
    private val BucketRe = """bucket\[(\d+)\]""".r
    private val TruncRe = """truncate\[(\d+)\]""".r

    /** Validate and resolve a spec transform against its source type;
      * unsupported transforms fail loudly (never half-read).
      */
    def of(name: String, sourceCol: String, transform: String,
           srcTypeRaw: String): PartField = {
      val temporal = Set("date", "timestamp", "timestamptz")
      val resType = transform match {
        case "identity" => srcTypeRaw match {
          case "string" => "string"
          case "long" | "int" => "long"
          case other => throw new IllegalArgumentException(
            s"iceberg: unsupported identity partition type $other")
        }
        case BucketRe(n) =>
          require(n.toInt >= 1, s"iceberg: bucket[$n] needs N >= 1")
          require(srcTypeRaw == "string" || srcTypeRaw == "long" ||
            srcTypeRaw == "int" || temporal(srcTypeRaw),
            s"iceberg: bucket over $srcTypeRaw not supported")
          "int"
        case TruncRe(w) =>
          require(w.toInt >= 1, s"iceberg: truncate[$w] needs W >= 1")
          srcTypeRaw match {
            case "string" => "string"
            case "long" | "int" => "long"
            case other => throw new IllegalArgumentException(
              s"iceberg: truncate over $other not supported")
          }
        case "year" | "month" | "day" =>
          require(temporal(srcTypeRaw),
            s"iceberg: $transform needs a date/timestamp source, " +
              s"got $srcTypeRaw")
          "int"
        case "hour" =>
          require(srcTypeRaw == "timestamp" || srcTypeRaw == "timestamptz",
            s"iceberg: hour needs a timestamp source, got $srcTypeRaw")
          "int"
        case other => throw new IllegalArgumentException(
          s"iceberg: unsupported partition transform $other")
      }
      PartField(name, sourceCol, transform, srcTypeRaw, resType)
    }
  }

  /** The transform as a CODEGEN'D column over the source — the write
    * side (one value per row inside whole-stage codegen: the layout
    * column of the composer's single partitionBy job). Bucket uses the
    * spec-exact murmur3 expression ([[graft.plans.IcebergBucket]],
    * vector-pinned); the time transforms are ordinal arithmetic on the
    * session-UTC clock (this engine runs UTC end to end).
    */
  private[sources] def transformColumn(f: PartField, c: Column): Column = {
    import org.apache.spark.sql.functions.{datediff, floor, month, to_date, unix_micros, year}
    f.transform match {
      case "identity" => c
      case t if t.startsWith("bucket[") =>
        val n = t.stripPrefix("bucket[").stripSuffix("]").toInt
        f.srcType match {
          // NTZ micros == TZ micros under the UTC session clock; the
          // cast makes unix_micros accept both timestamp flavors
          case "timestamp" | "timestamptz" =>
            graft.plans.IcebergBucket(unix_micros(c.cast("timestamp")), n)
          case _ => graft.plans.IcebergBucket(c, n)
        }
      case t if t.startsWith("truncate[") =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toLong
        if (f.resType == "string") substring(c, 1, w.toInt)
        else (c.cast("long") - ((c.cast("long") % w + w) % w))
      case "year" => (year(c) - 1970).cast("int")
      case "month" =>
        ((year(c) - 1970) * 12 + month(c) - 1).cast("int")
      case "day" =>
        datediff(to_date(c), to_date(lit("1970-01-01"))).cast("int")
      case "hour" =>
        floor(unix_micros(c.cast("timestamp")) / 3600000000L).cast("int")
    }
  }

  /** The transform applied to ONE probe value (string form, as the
    * pruning options carry it) — the READ side's driver-twin of
    * [[transformColumn]]: both must agree bit-for-bit, which the
    * shared [[graft.plans.IcebergBucketHash]] and the UTC ordinal
    * arithmetic guarantee (IcebergTransformSpec pins write==probe
    * equality per transform). Temporal probe values parse as
    * `yyyy-MM-dd[ HH:mm:ss]`.
    */
  private[sources] def transformValue(f: PartField, s: String): Any = {
    import graft.plans.IcebergBucketHash
    def epochDay: Long =
      java.time.LocalDate.parse(s.take(10)).toEpochDay
    def micros: Long = {
      val norm = if (s.length == 10) s + " 00:00:00" else s
      java.time.LocalDateTime
        .parse(norm.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC)
        .getEpochSecond * 1000000L
    }
    f.transform match {
      case "identity" => if (f.resType == "long") s.toLong else s
      case t if t.startsWith("bucket[") =>
        val n = t.stripPrefix("bucket[").stripSuffix("]").toInt
        f.srcType match {
          case "string" => IcebergBucketHash.bucketBytes(s.getBytes(UTF_8), n)
          case "long" | "int" => IcebergBucketHash.bucketLong(s.toLong, n)
          case "date" => IcebergBucketHash.bucketLong(epochDay, n)
          case _ => IcebergBucketHash.bucketLong(micros, n)
        }
      case t if t.startsWith("truncate[") =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
        if (f.resType == "string") s.take(w)
        else { val v = s.toLong; v - ((v % w + w) % w) }
      case "year" =>
        java.time.LocalDate.parse(s.take(10)).getYear - 1970
      case "month" =>
        val d = java.time.LocalDate.parse(s.take(10))
        (d.getYear - 1970) * 12 + d.getMonthValue - 1
      case "day" => epochDay.toInt
      case "hour" => (micros / 3600000000L).toInt
    }
  }

  // ---------------------------------------------------------------
  // reader
  // ---------------------------------------------------------------

  final case class TableMeta(
      formatVersion: Int,
      version: Int,                   // metadata file number (vN)
      location: String,               // location recorded in metadata
      root: String,                   // where the table actually sits
      columns: Seq[String],           // schema field names, spec order
      colTypes: Map[String, String],  // column name -> iceberg type
      fieldIds: Map[String, Int],     // column name -> spec field id
      nameMapping: Map[Int, String],  // field id -> DATA-FILE column name
      partFields: Seq[PartField],     // DEFAULT partition spec, order
      specs: Map[Int, Seq[PartField]], // EVERY spec by id (evolution:
                                      // old manifests keep old specs)
      defaultSpecId: Int,
      currentSnapshotId: Long,
      snapshots: Seq[(Long, String)], // (snapshot-id, manifest-list)
      snapshotOps: Map[Long, String], // snapshot-id -> summary.operation
      refs: Map[String, Long],        // ref name -> snapshot id
      refTypes: Map[String, String],  // ref name -> "tag" | "branch"
      parents: Map[Long, Long],       // snapshot id -> parent id
      manifestList: String) {         // SELECTED snapshot's manifest list
    /** Relocation support: the spec records absolute file URIs, so a
      * table moved wholesale (the annIndex stage→publish rename, a
      * bucket migration) carries stale prefixes — any recorded path
      * under the metadata `location` is rebased onto the actual root.
      */
    def rebase(p: String): String = {
      // compare scheme-free: composers record hadoop URIs ("file:/x"),
      // the location/table root are often bare paths
      val (q, loc, r) = (barePath(p), barePath(location), barePath(root))
      if (loc.nonEmpty && loc != r && q.startsWith(loc))
        r + q.substring(loc.length)
      else p
    }
    /** The column name physically written into data files for display
      * column `c` — the `schema.name-mapping.default` resolution (a
      * renamed column keeps its file name; appends rename back to it
      * so every data file of the table agrees).
      */
    def fileColumn(c: String): String =
      fieldIds.get(c).flatMap(nameMapping.get).getOrElse(c)
    /** The partition fields a given manifest's tuples were written
      * under — spec EVOLUTION means manifests of different vintages
      * decode by different specs (the list row's partition_spec_id).
      * Unknown ids (foreign lists predating their metadata) fall back
      * to the default spec, matching the pre-evolution behavior.
      */
    def specFields(specId: Int): Seq[PartField] =
      specs.getOrElse(specId, partFields)
  }

  private def barePath(s: String): String =
    if (s.startsWith("file:")) s.substring(5).replaceFirst("^/+", "/")
    else s

  /** True when `tableDir` holds a readable Iceberg table: a
    * version-hint or at least one vN.metadata.json under metadata/ —
    * probed through the Hadoop FileSystem (works on any scheme), and
    * NOT satisfied by a bare metadata/ directory left by a crashed
    * first build.
    */
  def tableExists(tableDir: String): Boolean = {
    val metaDir = new HPath(s"$tableDir/metadata")
    val fs = metaDir.getFileSystem(hconf)
    fs.exists(metaDir) && (
      fs.exists(new HPath(metaDir, "version-hint.text")) ||
      fs.listStatus(metaDir).exists(st =>
        st.getPath.getName.matches("v\\d+\\.metadata\\.json")))
  }

  /** One field_summary: inclusive [lower, upper] for a partition
    * field (None = no bound recorded — conservatively unprunable).
    */
  final case class FieldBounds(lower: Option[Any], upper: Option[Any],
                               containsNull: Boolean)

  final case class ManifestInfo(
      path: String,
      content: Int,             // 0 = data manifest, 1 = delete manifest
      seq: Option[Long],        // v2 list-row sequence_number (if any)
      specId: Int,              // the spec this manifest's tuples use
      bounds: Seq[FieldBounds]) // per partition field, THAT spec's order

  /** Resolve and parse the CURRENT table metadata: version-hint.text
    * when present (the spec's file-system-catalog convention), else
    * the max-numbered `vN.metadata.json`; an unparsable hint (crash
    * mid-write before this round's atomic rename) also falls back to
    * the max-vN scan instead of bricking the table. Pass `asOf` to
    * select a historical snapshot (TIME TRAVEL — every snapshot's
    * manifest list stays addressable in the metadata, so reading
    * yesterday's table is picking yesterday's snapshot id, no data
    * movement).
    */
  def currentMetadata(tableDir: String,
                      asOf: Option[Long] = None): TableMeta = {
    val metaDir = new HPath(s"$tableDir/metadata")
    val fs = metaDir.getFileSystem(hconf)
    val hint = new HPath(metaDir, "version-hint.text")
    def maxVersion: Int = {
      val vs = fs.listStatus(metaDir).map(_.getPath.getName)
        .flatMap { n =>
          val m = "v(\\d+)\\.metadata\\.json".r.findFirstMatchIn(n)
          m.map(_.group(1).toInt)
        }
      require(vs.nonEmpty, s"no vN.metadata.json under $metaDir")
      vs.max
    }
    val version =
      if (fs.exists(hint)) {
        val in = fs.open(hint)
        val txt = try new String(in.readAllBytes(), UTF_8).trim
        finally in.close()
        // empty/garbled hint (pre-atomic-write crash) -> max-vN scan
        txt.toIntOption.getOrElse(maxVersion)
      } else maxVersion
    val mf = new HPath(metaDir, s"v$version.metadata.json")
    val in = fs.open(mf)
    val root = try om.readTree(in.readAllBytes()) finally in.close()

    val fv = root.path("format-version").asInt(-1)
    require(fv == 1 || fv == 2,
      s"iceberg: format-version $fv not supported (v1/v2 subset reader)")
    // v1 writes a top-level `schema`; v2 writers publish `schemas` +
    // `current-schema-id` — accept either
    val schema =
      if (root.has("schema")) root.path("schema")
      else {
        val sid = root.path("current-schema-id").asInt()
        root.path("schemas").elements().asScala
          .find(_.path("schema-id").asInt() == sid)
          .getOrElse(throw new IllegalArgumentException(
            s"iceberg: current-schema-id $sid not in schemas"))
      }
    val columns = schema.path("fields").elements().asScala
      .map(_.path("name").asText()).toSeq
    val colTypes = schema.path("fields").elements().asScala
      .map(f => f.path("name").asText() -> f.path("type").asText()).toMap
    val types = schema.path("fields").elements().asScala
      .map(f => f.path("id").asInt() ->
        (f.path("name").asText(), f.path("type").asText())).toMap

    // EVERY partition spec, keyed by id — spec EVOLUTION keeps old
    // manifests decodable under the spec they were written with.
    // v2 (and this repo's v1) publish `partition-specs` +
    // `default-spec-id`; bare-v1 foreign tables may carry only the
    // deprecated top-level `partition-spec` (spec 0).
    def parseSpecFields(fieldsNode: com.fasterxml.jackson.databind
        .JsonNode): Seq[PartField] = {
      require(fieldsNode.isArray && fieldsNode.size() >= 1,
        "iceberg: need at least one partition field per spec")
      fieldsNode.elements().asScala.map { pf =>
        val sid = pf.path("source-id").asInt()
        require(types.contains(sid),
          s"iceberg: partition source field id $sid is not in the " +
            "current schema (a dropped partition source cannot be " +
            "decoded — refusing to misread old manifests)")
        val (srcName, srcTypeRaw) = types(sid)
        PartField.of(pf.path("name").asText(srcName), srcName,
          pf.path("transform").asText(), srcTypeRaw)
      }.toSeq
    }
    val (allSpecs, defaultSpecId) =
      if (root.has("partition-specs")) {
        val m = root.path("partition-specs").elements().asScala.map {
          sp => sp.path("spec-id").asInt() ->
            parseSpecFields(sp.path("fields"))
        }.toMap
        val did = root.path("default-spec-id").asInt(0)
        require(m.contains(did),
          s"iceberg: default-spec-id $did not in partition-specs " +
            s"(have: ${m.keys.toSeq.sorted.mkString(", ")})")
        (m, did)
      } else (Map(0 -> parseSpecFields(root.path("partition-spec"))), 0)
    val partFields = allSpecs(defaultSpecId)

    val currentId = root.path("current-snapshot-id").asLong()
    val snaps = root.path("snapshots").elements().asScala.map(s =>
      (s.path("snapshot-id").asLong(),
        s.path("manifest-list").asText())).toSeq
    val snapOps = root.path("snapshots").elements().asScala.map(s =>
      s.path("snapshot-id").asLong() ->
        s.path("summary").path("operation").asText("append")).toMap
    val snapId = asOf.getOrElse(currentId)
    val list = snaps.collectFirst { case (id, l) if id == snapId => l }
      .getOrElse(throw new IllegalArgumentException(
        s"iceberg: snapshot $snapId not in snapshots list " +
          s"(have: ${snaps.map(_._1).mkString(", ")})"))
    val fieldIds = schema.path("fields").elements().asScala
      .map(f => f.path("name").asText() -> f.path("id").asInt()).toMap
    // spec name-mapping property: field id -> the name written into
    // data files (rename survival); absent -> identity resolution
    val nmNode = root.path("properties").path("schema.name-mapping.default")
    val nameMapping: Map[Int, String] =
      if (nmNode.isTextual)
        om.readTree(nmNode.asText()).elements().asScala.map(e =>
          e.path("field-id").asInt() ->
            e.path("names").elements().asScala.next().asText()).toMap
      else Map.empty
    // v2 refs: named snapshot pointers (tags/branches); readable on
    // foreign tables, writable here as TAGS via tagSnapshot
    val refs: Map[String, Long] =
      if (root.has("refs"))
        root.path("refs").properties().asScala.map { e =>
          e.getKey -> e.getValue.path("snapshot-id").asLong()
        }.toMap
      else Map.empty
    val refTypes: Map[String, String] =
      if (root.has("refs"))
        root.path("refs").properties().asScala.map { e =>
          e.getKey -> e.getValue.path("type").asText("tag")
        }.toMap
      else Map.empty
    // parent links (recorded by branch-aware commits; foreign writers
    // record them too) — the ancestry walk fastForward checks
    val parents: Map[Long, Long] =
      root.path("snapshots").elements().asScala.flatMap { sn =>
        val p = sn.path("parent-snapshot-id")
        if (p.isNumber)
          Some(sn.path("snapshot-id").asLong() -> p.asLong())
        else None
      }.toMap
    TableMeta(fv, version, root.path("location").asText(tableDir),
      tableDir, columns, colTypes, fieldIds, nameMapping, partFields,
      allSpecs, defaultSpecId, currentId, snaps, snapOps, refs,
      refTypes, parents, list)
  }

  /** TAG a snapshot (v2 refs): a metadata-only named pointer —
    * `scan(asOf = Some(meta.refs(name)))` time-travels by name, and
    * [[expireSnapshots]] RETAINS tagged snapshots regardless of the
    * retain-last window (the spec's refs-pin-expiry rule) — how a
    * training-data pipeline pins "the exact table state run X trained
    * on" while routine retention trims everything else.
    */
  def tagSnapshot(tableDir: String, name: String,
                  snapshotId: Option[Long] = None): Unit = {
    val meta = currentMetadata(tableDir)
    val id = snapshotId.getOrElse(meta.currentSnapshotId)
    require(meta.snapshots.exists(_._1 == id),
      s"iceberg tag: snapshot $id not in " +
        s"${meta.snapshots.map(_._1).mkString(", ")}")
    bumpMetadata(tableDir, meta) { root =>
      val ref = root.withObject("/refs").putObject(name)
      ref.put("snapshot-id", id)
      ref.put("type", "tag")
    }
  }

  /** Create a BRANCH (v2 refs, type `branch`): a named MOVABLE head
    * starting at `from` (default: the current snapshot).
    * `appendToTable(branch = ...)` stacks commits on it without
    * touching main, [[fastForward]] publishes it — the spec's
    * write-audit-publish staging pattern: ingest lands on a branch,
    * gets audited by scanning the branch head, and becomes visible to
    * every main-line reader in one atomic metadata flip. Branch heads
    * pin retention exactly like tags ([[expireSnapshots]]).
    */
  def createBranch(tableDir: String, name: String,
                   from: Option[Long] = None): Unit = {
    val meta = currentMetadata(tableDir)
    require(!meta.refs.contains(name),
      s"iceberg branch: ref '$name' already exists " +
        s"(a ${meta.refTypes.getOrElse(name, "tag")})")
    val id = from.getOrElse(meta.currentSnapshotId)
    require(meta.snapshots.exists(_._1 == id),
      s"iceberg branch: snapshot $id not in " +
        s"${meta.snapshots.map(_._1).mkString(", ")}")
    bumpMetadata(tableDir, meta) { root =>
      val ref = root.withObject("/refs").putObject(name)
      ref.put("snapshot-id", id)
      ref.put("type", "branch")
    }
  }

  /** FAST-FORWARD main to a branch head (the WAP publish step):
    * requires main to be an ANCESTOR of the head through the recorded
    * `parent-snapshot-id` chain — a diverged main (committed to since
    * the branch forked) refuses loudly instead of silently dropping
    * its commits (that would need a real merge, out of scope). The
    * flip is one metadata commit: every main-line reader sees the
    * audited branch state atomically; the branch ref stays for the
    * next staging round.
    */
  def fastForward(tableDir: String, branch: String): Unit = {
    val meta = currentMetadata(tableDir)
    require(meta.refs.contains(branch),
      s"iceberg fastForward: no ref '$branch'")
    require(meta.refTypes.getOrElse(branch, "tag") == "branch",
      s"iceberg fastForward: ref '$branch' is a tag, not a branch")
    val head = meta.refs(branch)
    var cur = head
    val seen = scala.collection.mutable.Set.empty[Long]
    var ok = cur == meta.currentSnapshotId
    while (!ok && meta.parents.contains(cur) && seen.add(cur)) {
      cur = meta.parents(cur)
      ok = cur == meta.currentSnapshotId
    }
    require(ok,
      s"iceberg fastForward: main (${meta.currentSnapshotId}) is not " +
        s"an ancestor of '$branch' head ($head) — the histories " +
        "diverged; a merge is required and this subset refuses rather " +
        "than dropping main's commits")
    if (head != meta.currentSnapshotId)
      bumpMetadata(tableDir, meta)(_.put("current-snapshot-id", head))
  }

  /** The manifest list: per-manifest paths + partition-bound
    * summaries, read driver-side (one small Avro file).
    */
  def manifestList(meta: TableMeta): Seq[ManifestInfo] =
    readAvro(meta.rebase(meta.manifestList)).map { r =>
      val parts = Option(r.get("partitions"))
        .map(_.asInstanceOf[java.util.List[GenericRecord]].asScala.toSeq)
        .getOrElse(Seq.empty)
      val specId = Option(r.get("partition_spec_id"))
        .map(_.asInstanceOf[Int]).getOrElse(meta.defaultSpecId)
      // one field_summary per partition field in THE MANIFEST'S OWN
      // spec's order (evolution: old manifests decode under old
      // specs); a list shorter than the spec leaves the tail
      // unprunable
      val bounds = meta.specFields(specId).zipWithIndex.map {
        case (f, i) =>
        val summary = parts.lift(i)
        def bound(name: String): Option[Any] = summary.flatMap(s =>
          Option(s.get(name)).map(bb => boundValue(
            bufBytes(bb.asInstanceOf[java.nio.ByteBuffer]), f.resType)))
        FieldBounds(bound("lower_bound"), bound("upper_bound"),
          summary.exists(_.get("contains_null").asInstanceOf[Boolean]))
      }
      val content = Option(r.get("content"))
        .map(_.asInstanceOf[Int]).getOrElse(0)
      // v2 manifest lists carry the manifest's data sequence number
      // (field-id 515) — entries with a null sequence_number INHERIT
      // it (the spec's inheritance rule); absent in v1 lists and in
      // this repo's own composer output
      val seq = Option(r.getSchema.getField("sequence_number"))
        .flatMap(_ => Option(r.get("sequence_number")))
        .map(_.asInstanceOf[Long])
      ManifestInfo(r.get("manifest_path").toString, content, seq,
        specId, bounds)
    }

  final case class FileEntry(
      path: String,
      content: Int,                 // 0 = data, 1 = pos del, 2 = eq del
      seq: Long,                    // data sequence number
      seqExplicit: Boolean,         // true: from a v2 sequence_number
                                    // field (entry or inherited); false:
                                    // snapshot-id fallback (self tables)
      eqIds: Seq[Int],              // equality-delete key field ids
      partition: Map[String, Any],        // partition field -> value
      longBounds: Map[Int, (Long, Long)]) // field id -> (lower, upper)

  /** Live (status != DELETED) file entries of one manifest, with the
    * per-file column bound maps (spec fields 125/128) decoded for
    * long columns — the file-skipping statistics. Bounds whose binary
    * value is not exactly 8 bytes are SKIPPED, not misdecoded: spec-
    * compliant manifests record bounds for every column type, and a
    * 4-byte int bound must neither crash the scan nor decode into a
    * garbage long that silently skips live files.
    */
  def manifestEntries(manifestPath: String,
                      meta: TableMeta,
                      inheritSeq: Option[Long] = None,
                      specId: Option[Int] = None): Seq[FileEntry] =
    readAvro(meta.rebase(manifestPath))
      .filter(_.get("status").asInstanceOf[Int] != 2) // 2 = DELETED
      .map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        require(df.get("file_format").toString
          .equalsIgnoreCase("PARQUET"),
          s"iceberg: only parquet data files supported")
        val pRec = df.get("partition").asInstanceOf[GenericRecord]
        // partition values decode under the MANIFEST'S spec (the
        // list row's partition_spec_id) — evolution keeps old layouts
        // readable
        val pv = meta.specFields(specId.getOrElse(meta.defaultSpecId))
          .flatMap { f =>
          val n = f.name
          Option(pRec.getSchema.getField(n)).flatMap(_ =>
            Option(pRec.get(n))).map {
            case u: org.apache.avro.util.Utf8 => n -> (u.toString: Any)
            case other => n -> other
          }
        }.toMap
        def kv(name: String): Map[Int, Long] =
          (df.getSchema.getField(name), df.get(name)) match {
            case (f, l) if f != null && l != null =>
              l.asInstanceOf[java.util.List[GenericRecord]].asScala
                .flatMap { r =>
                  val raw = bufBytes(r.get("value")
                    .asInstanceOf[java.nio.ByteBuffer])
                  if (raw.length == 8)
                    Some(r.get("key").asInstanceOf[Int] ->
                      boundValue(raw, "long").asInstanceOf[Long])
                  else None // non-long bound: skip, never misdecode
                }.toMap
            case _ => Map.empty
          }
        val lo = kv("lower_bounds"); val hi = kv("upper_bounds")
        val bounds = lo.keySet.intersect(hi.keySet)
          .map(k => k -> (lo(k), hi(k))).toMap
        val content = Option(df.getSchema.getField("content"))
          .flatMap(_ => Option(df.get("content")))
          .map(_.asInstanceOf[Int]).getOrElse(0)
        // data sequence number: reused manifests keep their original
        // entries' sequence, so appended files never inherit a newer
        // one.
        // v2 priority: the entry's own `sequence_number` field when
        // present and non-null; else the manifest-list row's sequence
        // (the spec's INHERITANCE rule); else the snapshot-id fallback
        // below (valid only for monotone self-composed histories —
        // plannedFiles guards that before trusting it for eq deletes)
        val explicitSeq = Option(e.getSchema.getField("sequence_number"))
          .flatMap(_ => Option(e.get("sequence_number")))
          .map(_.asInstanceOf[Long])
          .orElse(inheritSeq)
        val seq = explicitSeq
          .orElse(Option(e.get("snapshot_id")).map(_.asInstanceOf[Long]))
          .getOrElse(0L)
        val eqIds = Option(df.getSchema.getField("equality_ids"))
          .flatMap(_ => Option(df.get("equality_ids")))
          .map(_.asInstanceOf[java.util.List[Int]].asScala.toSeq)
          .getOrElse(Seq.empty)
        FileEntry(meta.rebase(df.get("file_path").toString), content,
          seq, explicitSeq.isDefined, eqIds, pv, bounds)
      }

  /** Data files surviving an optional identity-partition equality
    * predicate, plus the pruning census for the plan-shape law:
    * (files, manifestsRead, manifestsTotal). Position-delete files
    * are NOT in this list — [[currentDeleteFiles]] serves those.
    */
  def prunedDataFiles(tableDir: String,
                      partitionEq: Option[String],
                      asOf: Option[Long] = None,
                      colRange: Option[(String, Long, Long)] = None,
                      partitionEqs: Map[String, String] = Map.empty,
                      sourceRange: Option[(String, String, String)] = None)
      : (Seq[String], Int, Int) = {
    val meta = currentMetadata(tableDir, asOf)
    val p = plannedFiles(meta, partitionEq, colRange, partitionEqs,
      sourceRange)
    (p.dataFiles.map(_._1), p.manifestsRead, p.manifestsTotal)
  }

  /** The delete files (position + equality) reachable from the
    * selected snapshot (empty for append-only tables).
    */
  def currentDeleteFiles(tableDir: String,
                         asOf: Option[Long] = None): Seq[String] = {
    val meta = currentMetadata(tableDir, asOf)
    val p = plannedFiles(meta, None, None, Map.empty)
    p.posDeletes ++ p.eqDeletes.map(_._1)
  }

  /** One planned snapshot read: surviving data files with their data
    * SEQUENCE (= adding snapshot id), plus the delete files that may
    * apply to them.
    */
  private final case class PlannedScan(
      dataFiles: Seq[(String, Long)],           // (path, seq)
      posDeletes: Seq[String],
      eqDeletes: Seq[(String, Long, Seq[Int])], // (path, seq, key ids)
      manifestsRead: Int,
      manifestsTotal: Int)

  /** Shared planner. Partition/stats pruning applies to DATA files;
    * delete manifests are always read (they are few and tiny, and a
    * delete may target any surviving file).
    */
  private def plannedFiles(meta: TableMeta,
                           partitionEq: Option[String],
                           colRange: Option[(String, Long, Long)],
                           partitionEqs: Map[String, String],
                           sourceRange: Option[(String, String, String)] =
                             None)
      : PlannedScan = {
    val mans = manifestList(meta)
    val (delMans, dataMans) = mans.partition(_.content == 1)
    // `partitionEq` is single-value sugar for the FIRST partition
    // field's SOURCE column; `partitionEqs` is the general multi-field
    // predicate, keyed by SOURCE column. A probe value maps through
    // each matching field's TRANSFORM before comparing to partition
    // values — `o_orderdate = X` prunes a day(o_orderdate) table, a
    // key probe prunes a bucket[N] table (equality is transform-safe
    // for every spec transform: v1 = v2 implies t(v1) = t(v2))
    val wants0 = partitionEqs ++
      partitionEq.map(v => meta.partFields.head.sourceCol -> v).toMap
    // a probed source must be a partition source SOMEWHERE in the
    // table's spec history (else it's a typo, not a coarse probe);
    // manifests whose OWN spec lacks the field are simply kept
    // unpruned and the scan's residual row filter makes them exact
    wants0.keys.foreach { src =>
      require(meta.specs.values.exists(_.exists(_.sourceCol == src)),
        s"iceberg: '$src' is not a partition source column of any " +
          s"spec (have: ${meta.specs.values.flatten
            .map(_.sourceCol).toSeq.distinct.mkString(", ")})")
    }
    // a source RANGE prunes through order-preserving transforms only
    // (identity, truncate, year/month/day/hour — bucket scatters):
    // [lo, hi] on the source maps to [t(lo), t(hi)] on the partition
    sourceRange.foreach { case (src, _, _) =>
      require(meta.specs.values.exists(_.exists(f =>
        f.sourceCol == src && f.orderPreserving)),
        s"iceberg: '$src' is not an order-preserving partition " +
          s"source of any spec (have: ${meta.specs.values.flatten
            .map(_.sourceCol).toSeq.distinct.mkString(", ")})")
    }
    // probes are SPEC-RELATIVE: each manifest prunes under the spec
    // its tuples were written with (partition evolution), so the
    // probe value maps through THAT spec's transforms
    val probeMemo = scala.collection.mutable.Map
      .empty[Int, (Seq[(Int, Any)], Seq[(Int, Any, Any)])]
    def probeFor(specId: Int) = probeMemo.getOrElseUpdate(specId, {
      val fields = meta.specFields(specId)
      val eq = wants0.toSeq.flatMap { case (src, v) =>
        fields.zipWithIndex.filter(_._1.sourceCol == src)
          .map { case (f, i) => i -> transformValue(f, v) }
      }
      val rg = sourceRange.toSeq.flatMap { case (src, lo, hi) =>
        fields.zipWithIndex
          .filter { case (f, _) => f.sourceCol == src && f.orderPreserving }
          .map { case (f, i) =>
            (i, transformValue(f, lo), transformValue(f, hi))
          }
      }
      (eq, rg)
    })
    // manifest pruning: spec bounds are inclusive; a manifest whose
    // [lower, upper] window excludes a wanted value (or misses the
    // wanted window) on ANY predicated field is never opened (missing
    // bounds — or a spec without the probed field — keep it,
    // conservatively)
    val survivors =
      if (wants0.isEmpty && sourceRange.isEmpty) dataMans
      else dataMans.filter { m =>
        val (eq, rg) = probeFor(m.specId)
        eq.forall { case (i, v) =>
          m.bounds.lift(i).forall(b =>
            b.lower.forall(cmp(_, v) <= 0) &&
            b.upper.forall(cmp(v, _) <= 0))
        } &&
        rg.forall { case (i, lo, hi) =>
          m.bounds.lift(i).forall(b =>
            b.lower.forall(cmp(_, hi) <= 0) &&
            b.upper.forall(cmp(lo, _) <= 0))
        }
      }
    // file-level: partition equality on every predicated field, then
    // COLUMN-STATS skipping — a file whose recorded [lower, upper]
    // window for the predicate column misses the wanted range is never
    // opened (files without stats are conservatively kept). The range
    // column must be an integer type: string/double bounds share the
    // manifest stats maps but must never be compared as longs.
    val rangeId = colRange.map { case (name, _, _) =>
      val t = meta.colTypes.getOrElse(name,
        throw new IllegalArgumentException(
          s"iceberg: no column '$name' in table schema"))
      require(t == "long" || t == "int",
        s"iceberg: colRange needs a long/int column, '$name' is $t")
      meta.fieldIds(name)
    }
    val kept = survivors.flatMap { m =>
      val fields = meta.specFields(m.specId)
      val (eq, rg) = probeFor(m.specId)
      manifestEntries(m.path, meta, m.seq, Some(m.specId)).filter { e =>
        e.content == 0 &&
          // a recorded partition value prunes exactly; a field the
          // entry does not carry keeps the file (conservative — the
          // scan's row filter recovers exactness)
          eq.forall { case (i, v) =>
            e.partition.get(fields(i).name).forall(_ == v)
          } &&
          rg.forall { case (i, lo, hi) =>
            e.partition.get(fields(i).name)
              .forall(p => cmp(lo, p) <= 0 && cmp(p, hi) <= 0)
          } &&
          colRange.forall { case (_, lo, hi) =>
            e.longBounds.get(rangeId.get)
              .forall { case (fLo, fHi) => fHi >= lo && fLo <= hi }
          }
      }
    }
    val delEntries = delMans.flatMap(m =>
      manifestEntries(m.path, meta, m.seq, Some(m.specId)))
    val posDeletes = delEntries.filter(_.content == 1).map(_.path)
    val eqDeletes = delEntries.filter(_.content == 2)
      .map(e => (e.path, e.seq, e.eqIds))
    // the snapshot-id-as-sequence fallback is only sound when snapshot
    // ids ARE the commit order (self-composed tables: 1, 2, 3 …).
    // Foreign v2 writers use random ids and record real sequence
    // numbers — if equality deletes are present, any entry resolved
    // through the fallback demands a strictly-monotone history, or the
    // deletes could merge in the wrong order: fail loudly, never
    // return silently wrong rows.
    if (eqDeletes.nonEmpty &&
      (kept ++ delEntries).exists(!_.seqExplicit)) {
      val ids = meta.snapshots.map(_._1)
      require(ids.zip(ids.drop(1)).forall { case (a, b) => a < b },
        "iceberg: equality deletes present but manifest entries carry " +
          "no sequence_number and the snapshot history is not strictly " +
          "increasing — the snapshot-id-as-sequence fallback would " +
          "apply deletes in the wrong order on this (foreign) table")
    }
    PlannedScan(kept.map(e => (e.path, e.seq)), posDeletes, eqDeletes,
      survivors.size, mans.size)
  }

  /** Scan the table's selected snapshot as a DataFrame, optionally
    * pruned by identity-partition equalities (manifest-level AND
    * file-level pruning from metadata alone — no data file of another
    * partition is ever opened) and/or a long-column range against the
    * per-file stats. Columns resolve by FIELD ID through the name
    * mapping (renames are transparent) and follow the table schema's
    * order; v2 position deletes apply as a distributed merge-on-read
    * anti-join on (file path, row position).
    */
  def scan(spark: SparkSession, tableDir: String,
           partitionEq: Option[String] = None,
           asOf: Option[Long] = None,
           colRange: Option[(String, Long, Long)] = None,
           partitionEqs: Map[String, String] = Map.empty,
           sourceRange: Option[(String, String, String)] = None)
      : DataFrame = {
    val meta = currentMetadata(tableDir, asOf)
    val planned = plannedFiles(meta, partitionEq, colRange, partitionEqs,
      sourceRange)
    if (planned.dataFiles.isEmpty)
      // a fully-pruned probe (or an empty table) is an EMPTY RESULT,
      // not an error — schema comes from the table metadata, exactly
      // what a catalog-backed reader would plan
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        sparkSchema(meta))
    else {
      val base = applyDeletes(
        spark.read.schema(fileSchema(meta))
          .parquet(planned.dataFiles.map(_._1): _*),
        planned, meta, spark)
        .select(displayColumns(meta): _*)
      // the metadata prune skips MANIFESTS and FILES; row-level
      // filters (pushed into the surviving parquet scans) make the
      // result exact where partitions are COARSER than the predicate:
      //  - colRange's stats skip,
      //  - an equality probe through a non-identity transform (the
      //    probe keeps the whole bucket/day file; only rows matching
      //    the source value belong in the result),
      //  - a sourceRange window (same coarseness argument).
      // Identity equality probes stay filter-free: partition value ==
      // source value, so every surviving row already matches.
      val eqFiltered = (partitionEqs ++ partitionEq.map(v =>
        meta.partFields.head.sourceCol -> v).toMap).foldLeft(base) {
        case (d, (src, v)) =>
          // filter-free only when EVERY spec in the table's history
          // identity-partitions on the probe column (then partition
          // value == source value for every surviving file); any
          // spec that transforms it — or lacks it (pre/post-evolution
          // manifests) — needs the row filter for exactness
          val filterFree = meta.specs.values.forall(_.exists(f =>
            f.sourceCol == src && f.isIdentity))
          if (filterFree) d
          else d.filter(col(s"`$src`") ===
            lit(v).cast(toSparkType(meta.colTypes(src))))
      }
      val ranged = sourceRange.foldLeft(eqFiltered) {
        case (d, (src, lo, hi)) =>
          val dt = toSparkType(meta.colTypes(src))
          d.filter(col(s"`$src`")
            .between(lit(lo).cast(dt), lit(hi).cast(dt)))
      }
      colRange.map { case (name, lo, hi) =>
        ranged.filter(col(s"`$name`").between(lo, hi))
      }.getOrElse(ranged)
    }
  }

  /** Field-id column resolution: each display column selected from
    * its name-mapped physical column in the data files.
    */
  private def displayColumns(meta: TableMeta): Seq[Column] =
    meta.columns.map(c => col(s"`${meta.fileColumn(c)}`").as(c))

  /** Merge-on-read, fully distributed (the driver never touches a
    * delete row):
    *
    *  - POSITION deletes anti-join on (normalized file path,
    *    `_metadata.row_index`) — Spark's per-file row position, stable
    *    under pushdown/page skipping (it exists for exactly this use);
    *    recorded paths rebase in-plan when the table relocated.
    *  - EQUALITY deletes anti-join on the null-safe key columns with
    *    the spec's SEQUENCE rule: a delete applies only to data files
    *    whose sequence (= adding snapshot id, attached via a
    *    broadcast |files|-row map) is STRICTLY LESS than the
    *    delete's — an upsert's own rows survive its delete and
    *    post-delete appends are untouched. Delete files are grouped
    *    by (sequence, key set), one anti-join per group (groups are
    *    bounded by delete snapshots; compaction folds them away).
    */
  private def applyDeletes(raw: DataFrame, planned: PlannedScan,
                           meta: TableMeta,
                           spark: SparkSession,
                           keepTags: Boolean = false): DataFrame = {
    if (!keepTags && planned.posDeletes.isEmpty &&
      planned.eqDeletes.isEmpty) return raw
    var tagged = raw
      .withColumn("__gfp", normPath(col("_metadata.file_path")))
      .withColumn("__gpos", col("_metadata.row_index"))
    if (planned.posDeletes.nonEmpty) {
      val dels = spark.read.parquet(planned.posDeletes: _*)
        .select(rebasePath(normPath(col("file_path")), meta).as("__gfp"),
          col("pos").as("__gpos"))
      tagged = tagged.join(dels, Seq("__gfp", "__gpos"), "left_anti")
    }
    if (planned.eqDeletes.nonEmpty) {
      import org.apache.spark.sql.functions.broadcast
      // file -> sequence: |files| rows, broadcast onto the scan
      val seqRows = planned.dataFiles.map { case (p, s) =>
        org.apache.spark.sql.Row(barePath(p), s)
      }
      val seqDf = broadcast(spark.createDataFrame(
        seqRows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__gfp",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("__gseq",
            org.apache.spark.sql.types.LongType)))))
      tagged = tagged.join(seqDf, Seq("__gfp"), "left")
      for (((seq, ids), group) <-
             planned.eqDeletes.groupBy(t => (t._2, t._3)).toSeq
               .sortBy(_._1._1)) {
        val keyCols = ids.map { id =>
          val disp = meta.fieldIds.collectFirst {
            case (n, i) if i == id => n
          }.getOrElse(throw new IllegalArgumentException(
            s"iceberg: equality-delete field id $id not in schema"))
          (meta.fileColumn(disp), toSparkType(meta.colTypes(disp)))
        }
        val keySchema = org.apache.spark.sql.types.StructType(
          keyCols.map { case (n, t) =>
            org.apache.spark.sql.types.StructField(n, t, nullable = true)
          })
        val keys = spark.read.schema(keySchema)
          .parquet(group.map(_._1): _*)
        val left = tagged
        val cond = keyCols.map(_._1)
          .map(n => left(s"`$n`") <=> keys(s"`$n`"))
          .reduce(_ && _) && (lit(seq) > left("__gseq"))
        tagged = left.join(keys, cond, "left_anti")
      }
      tagged = tagged.drop("__gseq")
    }
    // keepTags: deleteWhere's row hunt needs the (file, pos) identity
    // of each SURVIVING row — same merge, tags retained
    if (keepTags) tagged else tagged.drop("__gpos").drop("__gfp")
  }

  /** Scheme-free path form shared by both sides of the delete join
    * ("file:///x", "file:/x", "/x" all compare equal).
    */
  private def normPath(p: Column): Column =
    regexp_replace(p, "^file:/+", "/")

  /** In-plan relocation rebase of a recorded (normalized) path — the
    * columnar twin of [[TableMeta.rebase]], codegen'd string ops.
    */
  private def rebasePath(p: Column, meta: TableMeta): Column = {
    val loc = barePath(meta.location); val r = barePath(meta.root)
    if (loc.isEmpty || loc == r) p
    else when(p.startsWith(loc),
      concat(lit(r), substring(p, loc.length + 1, Int.MaxValue)))
      .otherwise(p)
  }

  /** Spark type -> Iceberg type string (composer direction). */
  private def icebergTypeName(
      dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.LongType      => "long"
    case org.apache.spark.sql.types.IntegerType   => "int"
    case org.apache.spark.sql.types.DoubleType    => "double"
    case org.apache.spark.sql.types.FloatType     => "float"
    case org.apache.spark.sql.types.StringType    => "string"
    case org.apache.spark.sql.types.BooleanType   => "boolean"
    case org.apache.spark.sql.types.DateType      => "date"
    case org.apache.spark.sql.types.TimestampType => "timestamptz"
    case org.apache.spark.sql.types.TimestampNTZType => "timestamp"
    case d: org.apache.spark.sql.types.DecimalType =>
      s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"iceberg composer: unsupported column type $other")
  }

  private def toSparkType(t: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case "long"        => LongType
      case "int"         => IntegerType
      case "double"      => DoubleType
      case "float"       => FloatType
      case "string"      => StringType
      case "boolean"     => BooleanType
      case "date"        => DateType
      case "timestamptz" => TimestampType
      case "timestamp"   => TimestampNTZType
      case d if d.startsWith("decimal(") =>
        val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other => throw new IllegalArgumentException(
        s"iceberg: unsupported column type $other")
    }
  }

  /** Spark schema from the table metadata's Iceberg types (display
    * names) — used when no data file survives pruning and the scan
    * must still carry the table's shape.
    */
  private def sparkSchema(meta: TableMeta)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(meta.columns.map(c =>
      org.apache.spark.sql.types.StructField(c,
        toSparkType(meta.colTypes(c)), nullable = true)))

  /** The schema data files are READ with: name-mapped physical column
    * names, metadata types. Passing this explicitly (instead of
    * inferring from a sample file) is what makes ADD-COLUMN evolution
    * work — files written before the column was added simply surface
    * NULLs, Spark's missing-column contract under a supplied schema.
    */
  private def fileSchema(meta: TableMeta)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(meta.columns.map(c =>
      org.apache.spark.sql.types.StructField(meta.fileColumn(c),
        toSparkType(meta.colTypes(c)), nullable = true)))

  /** Incremental (CDC-style) read: the rows ADDED between two
    * snapshots — the data files reachable from `toSnap` but not from
    * `fromSnap`. With append-only snapshots that is exactly the
    * appended rows, resolved from METADATA alone (two manifest-list
    * walks, no table scan), so a downstream consumer processes each
    * new snapshot at O(delta) — the read-side pairing of
    * [[graft.streaming.IcebergStream.appendIncremental]]'s
    * snapshot-per-batch sink. Position deletes recorded by `toSnap`
    * apply to the diff (a delete targeting an old file is a
    * retroactive removal, out of an append-only consumer's scope).
    */
  def incrementalScan(spark: SparkSession, tableDir: String,
                      fromSnap: Long, toSnap: Long): DataFrame = {
    require(fromSnap < toSnap,
      s"incrementalScan needs fromSnap < toSnap, got $fromSnap..$toSnap")
    val meta = currentMetadata(tableDir, Some(toSnap))
    // a REPLACE (compaction) snapshot rewrites existing rows into new
    // files — a file-level diff across it would re-emit the whole
    // table as "added". Refuse loudly; the consumer re-bootstraps.
    val crossed = meta.snapshots.map(_._1)
      .filter(id => id > fromSnap && id <= toSnap)
      .filter(id => meta.snapshotOps.getOrElse(id, "append") == "replace")
    require(crossed.isEmpty,
      s"iceberg: incremental read $fromSnap..$toSnap crosses replace " +
        s"(compaction) snapshot(s) ${crossed.mkString(", ")} — " +
        "re-bootstrap the consumer from a full scan")
    val fromFiles =
      prunedDataFiles(tableDir, None, Some(fromSnap))._1.toSet
    val planned = plannedFiles(meta, None, None, Map.empty)
    val newFiles = planned.dataFiles.filterNot(f => fromFiles(f._1))
    if (newFiles.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        sparkSchema(meta))
    else
      applyDeletes(
        spark.read.schema(fileSchema(meta))
          .parquet(newFiles.map(_._1): _*),
        planned.copy(dataFiles = newFiles), meta, spark)
        .select(displayColumns(meta): _*)
  }

  // ---------------------------------------------------------------
  // composer (the write side of the surface)
  // ---------------------------------------------------------------

  /** Compose an Iceberg table from `df`, identity-partitioned on
    * `partCol` (string or long): partition-tuple parquet data dirs,
    * one manifest per tuple (bounds = the partition value), a
    * manifest list with field summaries, `v1.metadata.json`, and
    * `version-hint.text`. Deterministic metadata throughout (fixed
    * timestamps, name-derived UUID) so fixture builds are hash-stable.
    *
    * Scale contract: ONE Spark write job + ONE distributed footer-
    * stats job regardless of the number of partition tuples; the
    * driver handles metadata only (directory listing + manifest
    * composition). See [[composeSnapshotManifests]].
    */
  def writeTable(df: DataFrame, tableDir: String, partCol: String,
                 sortBy: Option[String] = None): Unit =
    writeTablePartitioned(df, tableDir, Seq(partCol), sortBy)

  /** The general identity composer: N identity partition fields.
    * `fieldIdOf` assigns spec field ids (default: position + 1) —
    * non-contiguous ids exercise the id-based resolution path the way
    * externally-written tables do.
    */
  def writeTablePartitioned(df: DataFrame, tableDir: String,
                            partCols: Seq[String],
                            sortBy: Option[String] = None,
                            fieldIdOf: Map[String, Int] = Map.empty)
      : Unit =
    writeTableTransformed(df, tableDir, partCols.map(c => (c, "identity")),
      sortBy, fieldIdOf)

  /** The fully general composer: each spec entry is (source column,
    * spec transform string) — `identity`, `bucket[N]`, `truncate[W]`,
    * `year`, `month`, `day`, `hour`. Derived partition fields follow
    * the spec's naming convention (`src_bucket`, `src_day`, …); the
    * layout column is the transform computed INSIDE the one
    * `partitionBy` write job (codegen'd — bucket is the vector-pinned
    * murmur3 expression), so the O(1)-jobs composer contract holds for
    * every transform.
    */
  def writeTableTransformed(df: DataFrame, tableDir: String,
                            specs: Seq[(String, String)],
                            sortBy: Option[String] = None,
                            fieldIdOf: Map[String, Int] = Map.empty)
      : Unit = {
    require(specs.nonEmpty, "iceberg composer: need >= 1 partition field")
    val partFields = specs.map { case (src, tr) =>
      val srcType = icebergTypeName(df.schema(src).dataType)
      val name =
        if (tr == "identity") src
        else s"${src}_${tr.takeWhile(_ != '[')}"
      PartField.of(name, src, tr, srcType)
    }
    val ids: Map[String, Int] = df.schema.fieldNames.zipWithIndex.map {
      case (n, i) => n -> fieldIdOf.getOrElse(n, i + 1)
    }.toMap
    require(ids.values.toSet.size == ids.size,
      s"iceberg composer: duplicate field ids in $ids")
    val composed = composeSnapshotManifests(df, tableDir, partFields,
      snapId = 1L, dataRoot = s"$tableDir/data", sortBy = sortBy,
      fileFieldIds = ids)
    val listPath = s"$tableDir/metadata/snap-1-1.avro"
    writeAvro(listPath, manifestFileSchema, composed.listRows, Map.empty)

    // table metadata JSON (v1) + version hint
    val fieldsJson = df.schema.fields.map { f =>
      s"""{"id": ${ids(f.name)}, "name": "${f.name}", "required": false,
         | "type": "${icebergTypeName(f.dataType)}"}""".stripMargin
    }.mkString(",\n      ")
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"graft-iceberg:$tableDir".getBytes(UTF_8))
    val specJson = partFields.zipWithIndex.map { case (f, i) =>
      s"""{"name": "${f.name}", "transform": "${f.transform}",
         |  "source-id": ${ids(f.sourceCol)},
         |  "field-id": ${1000 + i}}""".stripMargin
    }.mkString("[", ",\n ", "]")
    // spec name-mapping: field id -> the name written into data files
    // (this build's names; renameColumn keeps it frozen so files keep
    // resolving after metadata-only renames)
    val nameMappingJson = df.schema.fieldNames.map(n =>
      s"""{"field-id":${ids(n)},"names":["$n"]}""").mkString("[", ",", "]")
    val metaJson =
      s"""{
         |  "format-version": 1,
         |  "table-uuid": "$uuid",
         |  "location": "$tableDir",
         |  "last-updated-ms": 1700000000000,
         |  "last-column-id": ${ids.values.max},
         |  "schema": {"type": "struct", "fields": [
         |      $fieldsJson
         |  ]},
         |  "partition-spec": $specJson,
         |  "partition-specs": [{"spec-id": 0, "fields": $specJson}],
         |  "default-spec-id": 0,
         |  "properties": {
         |    "schema.name-mapping.default":
         |      "${nameMappingJson.replace("\"", "\\\"")}"
         |  },
         |  "current-snapshot-id": 1,
         |  "snapshots": [{
         |    "snapshot-id": 1,
         |    "timestamp-ms": 1700000000000,
         |    "summary": {"operation": "append",
         |      "added-data-files": "${composed.addedFiles}",
         |      "added-records": "${composed.addedRecords}"},
         |    "manifest-list": "$listPath"
         |  }]
         |}""".stripMargin
    writeText(s"$tableDir/metadata/v1.metadata.json", metaJson)
    writeText(s"$tableDir/metadata/version-hint.text", "1")
  }

  /** Append a new SNAPSHOT to an existing table: the new shard's data
    * files land under `data/snap<id>/`, its manifests are written
    * fresh, and the new manifest list carries the PRIOR snapshot's
    * manifest entries (rebased if the table moved) plus the new
    * ones — the spec's append pattern: existing manifests are REUSED,
    * never rewritten. Metadata goes out as v(N+1) with both snapshots
    * addressable, so `scan(asOf = oldId)` time-travels to the
    * pre-append table for free. Incoming columns arrive under the
    * CURRENT display names and are renamed back to their name-mapped
    * file names before writing, so every data file of the table
    * agrees regardless of rename history.
    */
  def appendToTable(df: DataFrame, tableDir: String,
                    sortBy: Option[String] = None,
                    branch: Option[String] = None): Unit = {
    val meta0 = currentMetadata(tableDir)
    // a BRANCH append stacks on the branch HEAD's manifest list (the
    // write-audit-publish staging line); main appends on current
    val baseId = branch match {
      case Some(b) =>
        require(meta0.refs.contains(b),
          s"iceberg append: no ref '$b' " +
            s"(have: ${meta0.refs.keys.toSeq.sorted.mkString(", ")})")
        require(meta0.refTypes.getOrElse(b, "tag") == "branch",
          s"iceberg append: ref '$b' is a tag — tags are immutable " +
            "pins; create a branch to stage writes")
        meta0.refs(b)
      case None => meta0.currentSnapshotId
    }
    val meta =
      if (baseId == meta0.currentSnapshotId) meta0
      else currentMetadata(tableDir, asOf = Some(baseId))
    require(df.schema.fieldNames.toSeq == meta.columns,
      s"iceberg append: columns ${df.schema.fieldNames.toSeq} != " +
        s"table schema ${meta.columns}")
    val newId = meta0.snapshots.map(_._1).max + 1
    val fileDf = df.select(meta.columns.map(c =>
      col(s"`$c`").as(meta.fileColumn(c))): _*)
    val fileIds = meta.fieldIds.map { case (disp, id) =>
      meta.fileColumn(disp) -> id
    }
    val filePartFields = meta.partFields // partition renames forbidden
    val composed = composeSnapshotManifests(fileDf, tableDir,
      filePartFields, snapId = newId,
      dataRoot = s"$tableDir/data/snap$newId", sortBy = sortBy,
      fileFieldIds = fileIds, specId = meta.defaultSpecId)
    // prior snapshot's manifests ride into the new list unchanged
    // (paths rebased in case the table was relocated since the build)
    val listPath = s"$tableDir/metadata/snap-$newId-1.avro"
    writeAvro(listPath, manifestFileSchema,
      copyListRows(meta) ++ composed.listRows, Map.empty)
    commitSnapshot(tableDir, meta, newId, listPath, "append",
      summaryCounts = composed.counts, branch = branch,
      parentId = Some(baseId))
  }

  /** The current manifest list's rows, re-materialized for reuse in a
    * successor snapshot's list (paths rebased in case the table was
    * relocated since they were recorded) — the spec's append pattern:
    * existing manifests ride along, never rewritten.
    */
  private def copyListRows(meta: TableMeta): Seq[GenericRecord] =
    readAvro(meta.rebase(meta.manifestList)).map { r =>
      val c = new GenericData.Record(manifestFileSchema)
      c.put("manifest_path", meta.rebase(r.get("manifest_path").toString))
      c.put("manifest_length", r.get("manifest_length"))
      c.put("partition_spec_id", r.get("partition_spec_id"))
      c.put("content", Option(r.get("content")).getOrElse(0: Any))
      c.put("added_snapshot_id", r.get("added_snapshot_id"))
      c.put("partitions", r.get("partitions"))
      c
    }

  /** v2 ROW-LEVEL DELETE (position deletes + merge-on-read): find
    * every current row matching `predicate`, record its (file path,
    * row position) in spec position-delete parquet files, and commit
    * them as a new DELETE snapshot — no data file is rewritten (the
    * merge-on-read contract; a compaction rewrite is a separate
    * maintenance op). The table's format-version advances to 2 on the
    * first delete, the Iceberg-sanctioned v1→v2 upgrade.
    *
    * Scale: the row hunt is one distributed scan (predicate pushed
    * into parquet) emitting only (path, pos) pairs; delete files are
    * sorted by (path, pos) as the spec requires. Later-appended data
    * files are untouched by construction — a position delete names
    * exact targets — which is why this subset needs no sequence-
    * number machinery. Time travel to any pre-delete snapshot sees
    * the undeleted table (its manifest list has no delete manifests).
    */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  predicate: Column): Unit = {
    val meta = currentMetadata(tableDir)
    val planned = plannedFiles(meta, None, None, Map.empty)
    if (planned.dataFiles.isEmpty) return
    val newId = meta.snapshots.map(_._1).max + 1
    val raw = spark.read.schema(fileSchema(meta))
      .parquet(planned.dataFiles.map(_._1): _*)
    // the hunt runs over the LIVE view — applyDeletes drops rows
    // already retired by prior position AND equality deletes, so a
    // deleteWhere after an upsert never re-records positions for rows
    // the equality tier already removed (idempotence across both
    // delete kinds, one shared merge)
    val live = applyDeletes(raw, planned, meta, spark, keepTags = true)
      .select(displayColumns(meta) :+ col("__gfp") :+ col("__gpos"): _*)
    // localCheckpoint: materialize the distributed hunt ONCE — the
    // emptiness probe and the delete-file write share the result
    // instead of recomputing the scan
    val hits = live.filter(predicate)
      .select(col("__gfp").as("file_path"), col("__gpos").as("pos"))
      .localCheckpoint()
    if (hits.isEmpty) return // nothing new to delete -> no snapshot
    val delDir = s"$tableDir/data/deletes-snap$newId"
    // spec ordering: position-delete rows sorted by (file_path, pos);
    // no-arg repartitionByRange lets AQE size the output files
    hits.repartitionByRange(col("file_path"), col("pos"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .write.mode("overwrite").parquet(delDir)
    val fs = new HPath(tableDir).getFileSystem(hconf)
    val delFiles = fs.listStatus(new HPath(delDir))
      .filter(f => f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
    val counts = distributedFooterInfo(spark,
      delFiles.map(_.getPath.toString).toSeq)
    // one delete manifest (content=1); partition values null — the
    // deletes may span every partition
    val entrySchema = manifestEntrySchema(meta.partFields)
    val dataFileSch = entrySchema.getField("data_file").schema()
    val partSch = dataFileSch.getField("partition").schema()
    val entries = delFiles.map { f =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", newId)
      val d = new GenericData.Record(dataFileSch)
      d.put("content", 1) // POSITION_DELETES
      d.put("file_path", f.getPath.toString)
      d.put("file_format", "PARQUET")
      d.put("partition", new GenericData.Record(partSch))
      d.put("record_count", counts(f.getPath.toString)._1)
      d.put("file_size_in_bytes", f.getLen)
      e.put("data_file", d)
      e
    }
    val mPath = s"$tableDir/metadata/snap$newId-del0.avro"
    writeAvro(mPath, entrySchema, entries.toSeq,
      Map("partition-spec-id" -> "0", "content" -> "deletes"))
    val mLen = fs.getFileStatus(new HPath(mPath)).getLen
    val delRow = new GenericData.Record(manifestFileSchema)
    delRow.put("manifest_path", mPath)
    delRow.put("manifest_length", mLen)
    delRow.put("partition_spec_id", 0)
    delRow.put("content", 1)
    delRow.put("added_snapshot_id", newId)
    delRow.put("partitions", null)
    // prior manifests (data AND older delete manifests) ride along
    val listPath = s"$tableDir/metadata/snap-$newId-1.avro"
    writeAvro(listPath, manifestFileSchema, copyListRows(meta) :+ delRow,
      Map.empty)
    commitSnapshot(tableDir, meta, newId, listPath, "delete",
      formatVersion = Some(2), parentId = Some(meta.currentSnapshotId))
  }

  /** v2 EQUALITY DELETE: remove every row whose key columns match a
    * row of `keys` — the keyed (CDC) deletion flavor. The keys land in
    * spec equality-delete files (columns = the key columns,
    * `equality_ids` = their field ids) committed as a DELETE snapshot;
    * the scan applies them with the SEQUENCE rule (strictly-older data
    * files only), so rows appended after the delete with the same keys
    * survive — position deletes name exact (file, pos) targets,
    * equality deletes name VALUES as of a point in table history.
    * NULL key values match NULL (the spec's null-equals-null rule; the
    * scan joins null-safely). Keyed deletion is semantically
    * idempotent; each non-empty call commits one snapshot.
    */
  def deleteEquals(spark: SparkSession, tableDir: String,
                   keys: DataFrame): Unit = {
    val meta = currentMetadata(tableDir)
    if (keys.isEmpty) return
    val newId = meta.snapshots.map(_._1).max + 1
    val delRow = writeEqualityDeletes(spark, tableDir, meta, newId, keys)
    val listPath = s"$tableDir/metadata/snap-$newId-1.avro"
    writeAvro(listPath, manifestFileSchema, copyListRows(meta) :+ delRow,
      Map.empty)
    commitSnapshot(tableDir, meta, newId, listPath, "delete",
      formatVersion = Some(2), parentId = Some(meta.currentSnapshotId))
  }

  /** UPSERT (MERGE INTO) at the table-format layer: ONE snapshot that
    * both equality-deletes `df`'s keys and appends `df`'s rows. The
    * sequence rule does the merge: the delete (sequence = this
    * snapshot) applies to strictly-older data files, while the
    * appended files carry the same sequence and survive their own
    * delete — new versions of existing keys replace the old rows, new
    * keys insert, untouched keys persist. No data file is rewritten
    * (the merge-on-read CDC path; [[compactTable]] later folds the
    * deletes away). Commits with operation "overwrite", the spec's
    * row-level-change label.
    */
  def upsertTable(df: DataFrame, tableDir: String, keyCols: Seq[String],
                  sortBy: Option[String] = None): Unit = {
    val meta = currentMetadata(tableDir)
    require(df.schema.fieldNames.toSeq == meta.columns,
      s"iceberg upsert: columns ${df.schema.fieldNames.toSeq} != " +
        s"table schema ${meta.columns}")
    require(keyCols.nonEmpty && keyCols.forall(meta.columns.contains),
      s"iceberg upsert: key columns $keyCols must be table columns")
    if (df.isEmpty) return
    val newId = meta.snapshots.map(_._1).max + 1
    val fileDf = df.select(meta.columns.map(c =>
      col(s"`$c`").as(meta.fileColumn(c))): _*)
    val fileIds = meta.fieldIds.map { case (disp, id) =>
      meta.fileColumn(disp) -> id
    }
    val composed = composeSnapshotManifests(fileDf, tableDir,
      meta.partFields, snapId = newId,
      dataRoot = s"$tableDir/data/snap$newId", sortBy = sortBy,
      fileFieldIds = fileIds, specId = meta.defaultSpecId)
    val delRow = writeEqualityDeletes(spark = df.sparkSession,
      tableDir, meta, newId, df.select(keyCols.map(c => col(s"`$c`")): _*))
    val listPath = s"$tableDir/metadata/snap-$newId-1.avro"
    writeAvro(listPath, manifestFileSchema,
      (copyListRows(meta) :+ delRow) ++ composed.listRows, Map.empty)
    commitSnapshot(tableDir, meta, newId, listPath, "overwrite",
      formatVersion = Some(2), summaryCounts = composed.counts,
      parentId = Some(meta.currentSnapshotId))
  }

  /** Write one equality-delete commit's key files + manifest; returns
    * the manifest-list row (content = 1, deletes).
    */
  private def writeEqualityDeletes(spark: SparkSession, tableDir: String,
                                   meta: TableMeta, newId: Long,
                                   keys: DataFrame): GenericRecord = {
    val keyCols = keys.schema.fieldNames.toSeq
    require(keyCols.nonEmpty && keyCols.forall(meta.columns.contains),
      s"iceberg equality delete: key columns $keyCols must be table " +
        s"columns ${meta.columns}")
    val eqIds = keyCols.map(meta.fieldIds)
    val eqDir = s"$tableDir/data/eqdel-snap$newId"
    keys.select(keyCols.map(c =>
        col(s"`$c`").as(meta.fileColumn(c))): _*)
      .dropDuplicates()
      .write.mode("overwrite").parquet(eqDir)
    val fs = new HPath(tableDir).getFileSystem(hconf)
    val eqFiles = fs.listStatus(new HPath(eqDir))
      .filter(f => f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
    val counts = distributedFooterInfo(spark,
      eqFiles.map(_.getPath.toString).toSeq)
    val entrySchema = manifestEntrySchema(meta.partFields)
    val dataFileSch = entrySchema.getField("data_file").schema()
    val partSch = dataFileSch.getField("partition").schema()
    val entries = eqFiles.map { f =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", newId)
      val d = new GenericData.Record(dataFileSch)
      d.put("content", 2) // EQUALITY_DELETES
      val ids = new java.util.ArrayList[Integer]()
      eqIds.foreach(i => ids.add(i))
      d.put("equality_ids", ids)
      d.put("file_path", f.getPath.toString)
      d.put("file_format", "PARQUET")
      d.put("partition", new GenericData.Record(partSch))
      d.put("record_count", counts(f.getPath.toString)._1)
      d.put("file_size_in_bytes", f.getLen)
      e.put("data_file", d)
      e
    }
    val mPath = s"$tableDir/metadata/snap$newId-eqdel0.avro"
    writeAvro(mPath, entrySchema, entries.toSeq,
      Map("partition-spec-id" -> "0", "content" -> "deletes"))
    val mLen = fs.getFileStatus(new HPath(mPath)).getLen
    val row = new GenericData.Record(manifestFileSchema)
    row.put("manifest_path", mPath)
    row.put("manifest_length", mLen)
    row.put("partition_spec_id", 0)
    row.put("content", 1)
    row.put("added_snapshot_id", newId)
    row.put("partitions", null)
    row
  }

  /** The CURRENT schema's `fields` array of a metadata document, for
    * in-place edits — v1 keeps a top-level `schema`, v2 writers
    * publish `schemas` + `current-schema-id`. Editing through
    * `withObject("/schema")` on a v2 layout would CREATE an empty
    * top-level schema node that the next read prefers (metadata
    * corruption: the table reads back column-less) — this helper edits
    * the node the reader will actually resolve, and fails loudly on a
    * layout with neither.
    */
  private def schemaFieldsNode(
      root: com.fasterxml.jackson.databind.node.ObjectNode)
      : com.fasterxml.jackson.databind.node.ArrayNode = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val schema: ObjectNode =
      if (root.has("schema"))
        root.path("schema").asInstanceOf[ObjectNode]
      else {
        require(root.has("schemas") && root.has("current-schema-id"),
          "iceberg: metadata has neither schema nor " +
            "schemas/current-schema-id — cannot evolve")
        val sid = root.path("current-schema-id").asInt()
        root.path("schemas").elements().asScala
          .find(_.path("schema-id").asInt() == sid)
          .getOrElse(throw new IllegalArgumentException(
            s"iceberg: current-schema-id $sid not in schemas"))
          .asInstanceOf[ObjectNode]
      }
    schema.withArray[ArrayNode]("fields")
  }

  /** Metadata-only COLUMN RENAME (the field-id resolution story): the
    * schema field keeps its id and gets a new display name; no data
    * file, manifest, or name mapping changes — scans resolve the
    * column through the frozen name mapping, and appends rename back
    * to the file name. Partition source columns stay renameable-not:
    * manifest partition records are keyed by name in this subset.
    */
  def renameColumn(tableDir: String, from: String, to: String): Unit = {
    val meta = currentMetadata(tableDir)
    require(meta.columns.contains(from),
      s"iceberg rename: no column '$from' in ${meta.columns}")
    require(!meta.columns.contains(to),
      s"iceberg rename: column '$to' already exists")
    require(!meta.specs.values.exists(_.exists(_.sourceCol == from)),
      s"iceberg rename: '$from' is a partition source column of a " +
        "spec (not renameable in this subset)")
    bumpMetadata(tableDir, meta) { root =>
      val fields = schemaFieldsNode(root)
      (0 until fields.size()).map(fields.get).foreach {
        case f: com.fasterxml.jackson.databind.node.ObjectNode
          if f.path("name").asText() == from => f.put("name", to)
        case _ =>
      }
    }
  }

  /** COMPACTION (the spec's rewrite_data_files maintenance op and
    * merge-on-read's pair): rewrite the table's current content —
    * small files merged, accumulated position deletes APPLIED — into
    * fresh data files, committed as a REPLACE snapshot whose manifest
    * list carries ONLY the new manifests. Prior snapshots stay
    * time-travelable untouched; [[expireSnapshots]] afterwards GCs the
    * superseded data and delete files. One distributed merge scan +
    * the composer's one-write-job/one-stats-job pipeline — no driver
    * data path. Incremental readers must not diff ACROSS a replace
    * snapshot (the rewritten files would re-emit as adds);
    * [[incrementalScan]] refuses loudly.
    */
  def compactTable(spark: SparkSession, tableDir: String,
                   sortBy: Option[String] = None): Unit = {
    val meta = currentMetadata(tableDir)
    val planned = plannedFiles(meta, None, None, Map.empty)
    if (planned.dataFiles.isEmpty) return
    val newId = meta.snapshots.map(_._1).max + 1
    // ALL deletes — position and equality — fold into the rewrite:
    // the REPLACE list drops the delete manifests, so a survivor of
    // either kind must already be physically gone
    val merged = applyDeletes(
      spark.read.schema(fileSchema(meta))
        .parquet(planned.dataFiles.map(_._1): _*),
      planned, meta, spark)
      .select(meta.columns.map(c =>
        col(s"`${meta.fileColumn(c)}`")): _*)
    val fileIds = meta.fieldIds.map { case (disp, id) =>
      meta.fileColumn(disp) -> id
    }
    val composed = composeSnapshotManifests(merged, tableDir,
      meta.partFields, snapId = newId,
      dataRoot = s"$tableDir/data/compact$newId", sortBy = sortBy,
      fileFieldIds = fileIds, specId = meta.defaultSpecId)
    val listPath = s"$tableDir/metadata/snap-$newId-1.avro"
    // a REPLACE list: only the rewritten manifests — priors are
    // reachable through the older snapshots, never through this one
    writeAvro(listPath, manifestFileSchema, composed.listRows, Map.empty)
    commitSnapshot(tableDir, meta, newId, listPath, "replace",
      summaryCounts = composed.counts,
      parentId = Some(meta.currentSnapshotId))
  }

  /** Metadata-only ADD COLUMN (schema evolution): the new field gets
    * the next field id, a name-mapping entry, and NO physical
    * presence in existing files — scans read with the table schema
    * supplied explicitly, so pre-evolution files surface NULLs for
    * the column (Spark's missing-column contract). Appends after the
    * add must carry the column.
    */
  def addColumn(tableDir: String, name: String,
                icebergType: String): Unit = {
    val meta = currentMetadata(tableDir)
    require(!meta.columns.contains(name),
      s"iceberg addColumn: column '$name' already exists")
    toSparkType(icebergType) // validate the type early, loudly
    bumpMetadata(tableDir, meta) { root =>
      val newId = root.path("last-column-id").asInt() + 1
      val f = schemaFieldsNode(root).addObject()
      f.put("id", newId); f.put("name", name)
      f.put("required", false); f.put("type", icebergType)
      root.put("last-column-id", newId)
      // extend the name mapping (when present) so a later rename of the
      // new column resolves like any other. If the display name already
      // has a mapping entry — a DROPPED column's tombstone — old data
      // files physically carry that name, so the new field id maps to a
      // FRESH physical name: pre-add files surface NULL (the spec's
      // id-reuse prohibition — a re-added column never resurrects
      // dropped data), and appends write under the fresh name.
      val props = root.withObject("/properties")
      val nm = props.path("schema.name-mapping.default")
      if (nm.isTextual) {
        val arr = om.readTree(nm.asText())
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        val taken = arr.elements().asScala.exists(e =>
          e.path("names").elements().asScala
            .exists(_.asText() == name))
        val physical = if (taken) s"${name}_$newId" else name
        val e = arr.addObject()
        e.put("field-id", newId)
        e.putArray("names").add(physical)
        props.put("schema.name-mapping.default", om.writeValueAsString(arr))
      }
    }
  }

  /** Auto-compaction threshold — the bounded-merge-depth policy for
    * CDC-shaped workloads: every upsert/delete commit adds one
    * anti-join tier to the merge-on-read scan until [[compactTable]]
    * folds them, so a long-running feed compacts every N row-level
    * commits. This helper counts the row-level (overwrite/delete)
    * snapshots since the last replace and compacts when the debt
    * reaches `every`; returns whether it compacted. The streaming
    * upsert sink calls it per batch — O(1) metadata reads when below
    * threshold. NOTE: a replace snapshot breaks incremental diffs
    * across it ([[incrementalScan]] refuses loudly) — pollOnce
    * consumers of a compacting table must poll between compactions or
    * re-bootstrap, exactly the documented maintenance trade.
    */
  def compactIfStacked(spark: SparkSession, tableDir: String,
                       every: Int): Boolean = {
    require(every >= 1, s"compactIfStacked: every must be >= 1, got $every")
    val meta = currentMetadata(tableDir)
    val ops = meta.snapshots.map { case (id, _) =>
      meta.snapshotOps.getOrElse(id, "append")
    }
    val debt = ops.reverse.takeWhile(_ != "replace")
      .count(op => op == "overwrite" || op == "delete")
    if (debt >= every) { compactTable(spark, tableDir); true }
    else false
  }

  /** Metadata-only DROP COLUMN: the field leaves the schema (scans
    * stop selecting it — data files keep the physical bytes, which is
    * the spec's contract: drop is a metadata op, compaction eventually
    * rewrites). The name-mapping entry stays behind as a TOMBSTONE:
    * its field id can never resolve again (the id left the schema),
    * but its presence tells [[addColumn]] that the display name has a
    * physical history — a RE-ADDED column of the same name gets a
    * FRESH field id mapped to a fresh physical name, so old files
    * surface NULL for it (the spec's id-reuse prohibition: a new
    * column must never resurrect dropped data).
    */
  def dropColumn(tableDir: String, name: String): Unit = {
    val meta = currentMetadata(tableDir)
    require(meta.columns.contains(name),
      s"iceberg drop: no column '$name' in ${meta.columns}")
    require(!meta.specs.values.exists(_.exists(_.sourceCol == name)),
      s"iceberg drop: '$name' is a partition source column of a spec " +
        "(old manifests would become undecodable)")
    require(meta.columns.size > 1,
      "iceberg drop: cannot drop the last column")
    bumpMetadata(tableDir, meta) { root =>
      val fields = schemaFieldsNode(root)
      val keep = (0 until fields.size()).map(fields.get)
        .filterNot(_.path("name").asText() == name)
      fields.removeAll()
      keep.foreach(fields.add)
    }
  }

  /** Metadata-only TYPE PROMOTION (schema evolution): widen a column
    * per the spec's sanctioned promotions — int→long, float→double,
    * decimal(P,S)→decimal(P',S) with P' > P — by editing the field's
    * type; no file is touched. Scans read with the table schema
    * supplied explicitly, so pre-promotion parquet pages (INT32 /
    * FLOAT / narrow decimal) surface as the widened type through the
    * reader's widening conversion, and post-promotion appends write
    * the wide type natively.
    */
  def promoteColumn(tableDir: String, name: String,
                    newType: String): Unit = {
    val meta = currentMetadata(tableDir)
    val cur = meta.colTypes.getOrElse(name,
      throw new IllegalArgumentException(
        s"iceberg promote: no column '$name' in ${meta.columns}"))
    val DecRe = """decimal\((\d+),\s*(\d+)\)""".r
    val legal = (cur, newType) match {
      case ("int", "long") | ("float", "double") => true
      case (DecRe(p1, s1), DecRe(p2, s2)) =>
        s1 == s2 && p2.toInt > p1.toInt // precision widens, scale fixed
      case _ => false
    }
    require(legal,
      s"iceberg promote: $cur -> $newType is not a spec promotion " +
        "(int->long, float->double, decimal precision widening)")
    bumpMetadata(tableDir, meta) { root =>
      val fields = schemaFieldsNode(root)
      (0 until fields.size()).map(fields.get).foreach {
        case f: com.fasterxml.jackson.databind.node.ObjectNode
          if f.path("name").asText() == name => f.put("type", newType)
        case _ =>
      }
    }
  }

  /** PARTITION SPEC EVOLUTION (metadata-only): register a NEW
    * partition spec — `specs` entries are (source column, spec
    * transform string), same surface as [[writeTableTransformed]] —
    * and make it the table default. NO file is rewritten: manifests
    * already committed keep their `partition_spec_id` and decode,
    * prune, and scan under the spec they were written with, while
    * appends/upserts from now on lay out (and prune) under the new
    * one. A probe on a column only SOME specs partition by prunes
    * those specs' manifests and row-filters the rest — exact either
    * way. [[compactTable]] afterwards is the spec's layout-migration
    * idiom: the rewrite composes every row under the new default.
    * Partition field ids stay unique ACROSS specs (the spec's rule:
    * a field id is never reused), and the deprecated v1 top-level
    * `partition-spec` is dropped so the specs list governs.
    */
  def evolvePartitionSpec(tableDir: String,
                          specs: Seq[(String, String)]): Unit = {
    val meta = currentMetadata(tableDir)
    require(specs.nonEmpty, "iceberg evolve: need >= 1 partition field")
    val newFields = specs.map { case (src, tr) =>
      require(meta.columns.contains(src),
        s"iceberg evolve: no column '$src' in ${meta.columns}")
      require(meta.fileColumn(src) == src,
        s"iceberg evolve: '$src' was renamed (files carry " +
          s"'${meta.fileColumn(src)}') — a renamed column cannot " +
          "become a partition source in this subset")
      val name =
        if (tr == "identity") src
        else s"${src}_${tr.takeWhile(_ != '[')}"
      PartField.of(name, src, tr, meta.colTypes(src)) // validates
    }
    require(newFields.map(_.name).toSet.size == newFields.size,
      s"iceberg evolve: duplicate partition field names in $specs")
    val newSpecId = meta.specs.keys.max + 1
    bumpMetadata(tableDir, meta) { root =>
      val specsNode = root.withArray[com.fasterxml.jackson.databind
        .node.ArrayNode]("partition-specs")
      // a bare-v1 foreign table carries only the deprecated top-level
      // `partition-spec`: materialize it as spec 0 FIRST, or the old
      // manifests' spec id would resolve to nothing (and fall back to
      // the NEW default — misdecoding every pre-evolution manifest)
      if (specsNode.isEmpty && root.has("partition-spec")) {
        val sp0 = specsNode.addObject()
        sp0.put("spec-id", 0)
        sp0.set[com.fasterxml.jackson.databind.node.ObjectNode](
          "fields", root.path("partition-spec").deepCopy())
      }
      require(meta.specs.keySet.forall(id =>
        specsNode.elements().asScala
          .exists(_.path("spec-id").asInt() == id)),
        "iceberg evolve: existing spec ids missing from " +
          "partition-specs — refusing to strand old manifests")
      // partition field ids are unique across ALL specs, ever
      var nextFieldId = ((for {
        sp <- specsNode.elements().asScala
        f <- sp.path("fields").elements().asScala
      } yield f.path("field-id").asInt()) ++ Iterator(999)).max + 1
      val sp = specsNode.addObject()
      sp.put("spec-id", newSpecId)
      val fArr = sp.putArray("fields")
      newFields.foreach { f =>
        val o = fArr.addObject()
        o.put("name", f.name)
        o.put("transform", f.transform)
        o.put("source-id", meta.fieldIds(f.sourceCol))
        o.put("field-id", nextFieldId)
        nextFieldId += 1
      }
      root.put("default-spec-id", newSpecId)
      root.remove("partition-spec") // deprecated single-spec field
    }
  }

  /** The shared read-mutate-commit device behind every metadata-only
    * operation: read the CURRENT vN document, apply `mutate`, record
    * the spec's `metadata-log` entry (each new metadata file names its
    * predecessor — foreign tooling walks table history through it),
    * refresh `last-updated-ms` deterministically, and publish v(N+1)
    * with the atomic version-hint flip.
    */
  private def bumpMetadata(tableDir: String, meta: TableMeta)
      (mutate: com.fasterxml.jackson.databind.node.ObjectNode => Unit)
      : Unit = {
    val fs = new HPath(tableDir).getFileSystem(hconf)
    val oldPath = s"$tableDir/metadata/v${meta.version}.metadata.json"
    val in = fs.open(new HPath(oldPath))
    val root = try om.readTree(in.readAllBytes())
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    finally in.close()
    mutate(root)
    val logE = root.withArray[com.fasterxml.jackson.databind.node
      .ArrayNode]("metadata-log").addObject()
    logE.put("timestamp-ms", 1700000000000L + meta.version)
    logE.put("metadata-file", oldPath)
    root.put("last-updated-ms", 1700000000000L + meta.version + 1)
    writeText(s"$tableDir/metadata/v${meta.version + 1}.metadata.json",
      om.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    writeText(s"$tableDir/metadata/version-hint.text",
      (meta.version + 1).toString)
  }

  /** Shared commit: v(N+1) metadata with the new snapshot appended —
    * Jackson round-trips unknown fields untouched — then the
    * version-hint flip (the atomic visibility point). `summaryCounts`
    * lands in the snapshot summary as the spec's string-valued
    * bookkeeping (added-data-files, added-records, …) for foreign
    * tooling.
    */
  private def commitSnapshot(tableDir: String, meta: TableMeta,
                             newId: Long, listPath: String,
                             operation: String,
                             formatVersion: Option[Int] = None,
                             summaryCounts: Map[String, Long] = Map.empty,
                             branch: Option[String] = None,
                             parentId: Option[Long] = None)
      : Unit =
    bumpMetadata(tableDir, meta) { root =>
      branch match {
        // a BRANCH commit moves only the branch ref — main
        // (current-snapshot-id) is untouched until fastForward
        // publishes it (the spec's write-audit-publish pattern)
        case Some(b) =>
          val r = root.withObject("/refs").putObject(b)
          r.put("snapshot-id", newId)
          r.put("type", "branch")
        case None => root.put("current-snapshot-id", newId)
      }
      formatVersion.foreach(v => root.put("format-version", v))
      // `location` deliberately stays what the BUILD recorded: rebase
      // keys off it to heal the build's absolute paths after a
      // relocation, and the commit's own paths (current-root prefix)
      // never match it. (One relocation covered; relocate-append-
      // relocate chains would need manifest rewrites — out of scope.)
      val snapNode = root.withArray[com.fasterxml.jackson.databind.node
        .ArrayNode]("snapshots").addObject()
      snapNode.put("snapshot-id", newId)
      parentId.foreach(pid => snapNode.put("parent-snapshot-id", pid))
      snapNode.put("timestamp-ms", 1700000000000L + newId)
      val summary = snapNode.putObject("summary")
      summary.put("operation", operation)
      summaryCounts.toSeq.sortBy(_._1).foreach { case (k, v) =>
        summary.put(k, v.toString)
      }
      snapNode.put("manifest-list", listPath)
    }

  /** Expire old snapshots — the spec's `expire_snapshots` maintenance
    * op, time travel's pair: history metadata is dropped and any
    * manifest list / manifest / data or delete file reachable ONLY
    * from expired snapshots is deleted. `retainLast` keeps the N
    * most recent snapshots (the current one always survives) — the
    * STREAMING-SINK retention knob: a snapshot-per-minute feed grows
    * 10k metadata entries a week unless the sink trims behind itself,
    * and a retained window lets lagging pollOnce consumers (cursor
    * within the last N) keep reading incremental deltas while anything
    * older fails loudly (never a silently wrong delta). With the
    * append-only composer every prior manifest is reused by the
    * current snapshot, so in practice this deletes old manifest LISTS
    * and time-travel entries; the reachability walk is still done
    * properly so overwrite/compaction composers inherit correct orphan
    * deletion. Metadata goes out as v(N+1) with the trimmed history.
    */
  def expireSnapshots(tableDir: String, retainLast: Int = 1): Unit = {
    require(retainLast >= 1,
      s"expireSnapshots: retainLast must be >= 1, got $retainLast")
    val meta = currentMetadata(tableDir)
    val fs = new HPath(tableDir).getFileSystem(hconf)
    // refs PIN snapshots from expiry (the spec rule): a tagged
    // training-run state survives any retain-last window
    val keepIds = meta.snapshots.map(_._1).sorted
      .takeRight(retainLast).toSet + meta.currentSnapshotId ++
      meta.refs.values
    if (keepIds.size == meta.snapshots.size) return // nothing to expire
    // everything reachable from ANY kept snapshot survives
    val keepManifests = meta.snapshots
      .filter { case (id, _) => keepIds(id) }
      .map { case (_, l) => meta.rebase(l) }
      .filter(lp => fs.exists(new HPath(lp)))
      .flatMap(lp => readAvro(lp)
        .map(r => meta.rebase(r.get("manifest_path").toString)))
      .toSet
    val keepFiles = keepManifests.flatMap(mp =>
      manifestEntries(mp, meta).map(_.path))
    for ((id, list) <- meta.snapshots if !keepIds(id)) {
      val lp = meta.rebase(list)
      if (fs.exists(new HPath(lp))) {
        val mans = readAvro(lp)
          .map(r => meta.rebase(r.get("manifest_path").toString))
        for (mp <- mans if !keepManifests.contains(mp)
             if fs.exists(new HPath(mp))) {
          for (fe <- manifestEntries(mp, meta)
               if !keepFiles.contains(fe.path))
            fs.delete(new HPath(fe.path), false)
          fs.delete(new HPath(mp), false)
        }
        fs.delete(new HPath(lp), false)
      }
    }
    // v(N+1): same metadata, history cut to the retained window
    bumpMetadata(tableDir, meta) { root =>
      val snapsNode = root.withArray[com.fasterxml.jackson.databind.node
        .ArrayNode]("snapshots")
      val kept = (0 until snapsNode.size()).map(snapsNode.get)
        .filter(n => keepIds(n.path("snapshot-id").asLong()))
      require(kept.exists(
        _.path("snapshot-id").asLong() == meta.currentSnapshotId),
        "current snapshot vanished from metadata")
      snapsNode.removeAll()
      kept.foreach(snapsNode.add)
    }
  }

  /** Write one snapshot's data files + per-partition-tuple manifests;
    * returns the manifest-list rows (with single-value binary bound
    * summaries). Shared by [[writeTable]] (snapshot 1, `data/`) and
    * [[appendToTable]] (snapshot N, `data/snapN/`).
    *
    * Scale design (replaces the round-12 per-tuple job loop):
    *  1. ONE `partitionBy` Spark write job lays out every partition
    *     tuple's directory at once. The partition columns are
    *     DUPLICATED under `__gp_*` names for the layout, because
    *     Spark's partitionBy strips its layout columns from the data
    *     files while Iceberg data files RETAIN theirs — the originals
    *     stay in the files, the `__gp_*` twins become the dirs.
    *     With `sortBy`, one range shuffle on (partition…, sortBy)
    *     clusters each tuple's files over DISJOINT value windows —
    *     what makes the per-file bound stats below actually skip
    *     files for range predicates.
    *  2. ONE distributed job opens every written file's parquet
    *     FOOTER on the executors (row count + per-column INT64
    *     min/max); only the tiny (path, count, bounds) records return
    *     to the driver.
    *  3. The driver walks the committed directory tree (a metadata
    *     listing) and composes one Avro manifest per tuple.
    * Job count is O(1) in the number of partition tuples —
    * IcebergComposerSpec pins this with a job-group census at 100+
    * tuples.
    */
  /** One composed snapshot: the manifest-list rows plus the file/row
    * bookkeeping the snapshot summary records (spec counts).
    */
  private final case class ComposedSnapshot(
      listRows: Seq[GenericRecord],
      addedFiles: Long,
      addedRecords: Long) {
    def counts: Map[String, Long] = Map(
      "added-data-files" -> addedFiles, "added-records" -> addedRecords)
  }

  /** True when a logical plan is a bare scan — only
    * project/filter/column-pruning nodes over a leaf relation — i.e.
    * re-evaluating it costs one read, so the write probe below needs no
    * persist guard.
    */
  private def scanLike(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Project |
           _: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        scanLike(p.children.head)
      case leaf if leaf.children.isEmpty => true
      case _ => false
    }

  private def composeSnapshotManifests(df0: DataFrame, tableDir: String,
                                       partFields: Seq[PartField],
                                       snapId: Long, dataRoot: String,
                                       sortBy: Option[String],
                                       fileFieldIds: Map[String, Int],
                                       specId: Int = 0)
      : ComposedSnapshot = {
    val spark = df0.sparkSession
    val fs = new HPath(tableDir).getFileSystem(hconf)
    val partNames = partFields.map(_.name)
    val dupNames = partNames.map(n => s"__gp_$n")
    // the layout column is the TRANSFORM of the source (identity
    // duplicates it) — computed codegen'd inside the one write job
    val withDup = partFields.zip(dupNames).foldLeft(df0) {
      case (d, (f, g)) =>
        d.withColumn(g, transformColumn(f, col(s"`${f.sourceCol}`")))
    }
    // set when the cardinality probe pins a computed input frame; the
    // write below releases it
    var probePinned: Option[DataFrame] = None
    val clustered = sortBy match {
      case Some(c) =>
        // EXPLICIT partition count: a no-arg range repartition lets
        // AQE coalesce small inputs to one file per tuple, which
        // erases the disjoint-window layout the stats skipping needs
        val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
        withDup.repartitionByRange(n,
          (dupNames.map(nm => col(s"`$nm`")) :+ col(s"`$c`")): _*)
      case None =>
        // Iceberg's write.distribution-mode decision, made adaptively:
        // an unclustered dynamic-partition write emits one file per
        // (task, tuple), so a high-cardinality layout (day transform:
        // thousands of tuples) through few input tasks serializes
        // thousands of tiny parquet creates into each task — measured
        // 32.2 s for 2405 day tuples through one scan task at sf0.1.
        // When the estimated tuple count reaches the parallelism,
        // hash-cluster by the layout columns ("hash" distribution
        // mode): every tuple lands whole in one task (minimum file
        // count) and tuples spread evenly across all tasks — the same
        // write drops to ~2 s. Below the gate, clustering would only
        // SHRINK parallelism (cardinality-many tasks), so the write
        // stays unclustered.
        //
        // The estimate is free where the transform bounds it
        // (bucket[N] ⇒ ≤ N tuples); the time-grain and truncate
        // transforms — the layouts that actually reach thousands of
        // tuples — pay one pruned-scan approx_count_distinct job
        // (rsd 0.3: the regimes sit far from the gate, a borderline
        // misdecision costs a constant only). Identity layouts skip
        // the probe and keep the unclustered write: every identity
        // partitioning in this engine is low-cardinality (status
        // flags), and charging those builds a probe job each costs
        // more than the blowup it would ever prevent — an identity
        // layout on a day-grained source column should go through
        // the `day` transform, which is also the better table design.
        //
        // r15: the gate and the repartition count read
        // spark.sql.shuffle.partitions — the SAME knob the sibling
        // range-cluster branch and Spread.byKey use — instead of
        // sparkContext.defaultParallelism, so on clusters where the
        // two diverge every engine shuffle sizes consistently.
        val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val est: Long =
          if (partFields.forall(_.transform == "identity")) 0L
          else if (partFields.forall(f =>
            f.transform.startsWith("bucket[") ||
              f.transform == "identity"))
            partFields.map(f =>
              if (f.transform == "identity") 1L
              else f.transform.stripPrefix("bucket[").stripSuffix("]")
                .toLong).product
          else {
            // The probe is an extra ACTION over df0, column-pruned to
            // the transform sources — cheap when df0 is a bare
            // scan/filter (every in-repo call site), but on a COMPUTED
            // input frame it would run the whole upstream pipeline
            // twice (probe + write). Persist-guard (r15, guide §5):
            // pin withDup for the probe+write window when the input
            // plan is more than scan/filter/project; released in the
            // finally after the write. IcebergComposerSpec counts the
            // upstream evaluations over a computed input to pin this.
            if (!scanLike(df0.queryExecution.optimizedPlan)) {
              withDup.persist(
                org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              probePinned = Some(withDup)
            }
            withDup
              .agg(approx_count_distinct(
                struct(dupNames.map(nm => col(s"`$nm`")): _*), 0.3))
              .head().getLong(0)
          }
        // EXPLICIT count: a no-count repartition lets AQE coalesce the
        // tiny shuffle back to ONE partition (the write re-serializes)
        if (est >= n)
          withDup.repartition(n, dupNames.map(nm => col(s"`$nm`")): _*)
        else withDup
    }
    try clustered.write.mode("overwrite")
      .partitionBy(dupNames: _*).parquet(dataRoot)
    finally probePinned.foreach(_.unpersist(false))

    // committed layout walk (driver-side METADATA listing only)
    def leaves(dir: HPath, depth: Int, acc: Seq[Any])
        : Seq[(Seq[Any], HPath)] =
      if (depth == partNames.length) Seq((acc, dir))
      else fs.listStatus(dir).filter(_.isDirectory).toSeq.flatMap { st =>
        val nm = st.getPath.getName
        require(nm.startsWith(dupNames(depth) + "="),
          s"iceberg composer: unexpected dir $nm under $dir")
        val raw = unescapePathName(
          nm.substring(dupNames(depth).length + 1))
        require(raw != "__HIVE_DEFAULT_PARTITION__",
          s"iceberg composer: NULL value in partition field " +
            s"${partNames(depth)} (partition sources must be non-null)")
        val v: Any = partFields(depth).resType match {
          case "long" => raw.toLong
          case "int"  => raw.toInt
          case _      => raw
        }
        leaves(st.getPath, depth + 1, acc :+ v)
      }
    // VALUE-ordered tuples (string sort would interleave numeric day
    // ordinals and wreck the contiguous group windows below)
    val tuples = leaves(new HPath(dataRoot), 0, Seq.empty)
      .sortWith { (a, b) =>
        a._1.zip(b._1).iterator.map { case (x, y) => cmp(x, y) }
          .find(_ != 0).getOrElse(0) < 0
      }
    val tupleFiles = tuples.map { case (vs, dir) =>
      val parts = fs.listStatus(dir)
        .filter(f => f.getPath.getName.endsWith(".parquet") &&
          !f.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
      (vs, parts.toSeq)
    }

    // ONE distributed footer job: (path -> (rowCount, long bounds))
    val stats = distributedFooterInfo(spark,
      tupleFiles.flatMap(_._2.map(_.getPath.toString)))

    val entrySchema = manifestEntrySchema(partFields)
    val dataFileSch = entrySchema.getField("data_file").schema()
    val partSch = dataFileSch.getField("partition").schema()
    val loSch = dataFileSch.getField("lower_bounds").schema()
      .getTypes.get(1).getElementType
    val hiSch = dataFileSch.getField("upper_bounds").schema()
      .getTypes.get(1).getElementType
    // MANIFEST GROUPING (the day-partition cardinality fix): up to
    // `maxManifests` manifests per snapshot, each holding a CONTIGUOUS
    // window of value-ordered partition tuples — spec-legal (a
    // manifest may span partitions; the list row's field_summary then
    // carries the [min, max] window). At <= maxManifests tuples this
    // degenerates to one manifest per tuple with point summaries
    // (every prior law unchanged); at day-partition cardinality
    // (thousands of tuples) the driver writes ~128 Avro files instead
    // of thousands — measured 77.8 s -> seconds at 2405 tuples — and a
    // probe still opens only the group(s) whose window contains it,
    // with the per-entry partition values making file pruning exact.
    val maxManifests = 128
    val groups: Seq[Seq[(Seq[Any], Seq[org.apache.hadoop.fs.FileStatus])]] =
      if (tupleFiles.isEmpty) Seq.empty
      else tupleFiles.grouped(
        math.ceil(tupleFiles.size.toDouble /
          math.min(tupleFiles.size, maxManifests)).toInt).toSeq
    // manifests are independent files — write them through a parallel
    // collection (driver-side fan-out over the FS): at the 128-group
    // cap the sequential loop's per-file create+deflate cost (~20 ms
    // each, 2.4 s total) collapses to the pool's longest chain
    import scala.collection.parallel.CollectionConverters._
    val manifests = groups.zipWithIndex.par.map { case (grp, i) =>
      val entries = grp.flatMap { case (vs, parts) => parts.map { f =>
        val (rowCount, colStats) = stats(f.getPath.toString)
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", snapId)
        val d = new GenericData.Record(dataFileSch)
        d.put("content", 0) // DATA
        d.put("file_path", f.getPath.toString)
        d.put("file_format", "PARQUET")
        val p = new GenericData.Record(partSch)
        partNames.zip(vs).foreach { case (n, v) => p.put(n, v) }
        d.put("partition", p)
        d.put("record_count", rowCount)
        d.put("file_size_in_bytes", f.getLen)
        // per-file column bounds from the parquet FOOTER (free — the
        // row-group stats are already there), long columns only
        if (colStats.nonEmpty) {
          def kvList(sch: Schema, pick: ((Long, Long)) => Long) = {
            val l = new java.util.ArrayList[GenericRecord]()
            colStats.toSeq.sortBy(t => fileFieldIds(t._1)).foreach {
              case (name, mm) =>
                val r = new GenericData.Record(sch)
                r.put("key", fileFieldIds(name))
                r.put("value",
                  java.nio.ByteBuffer.wrap(boundBytes(pick(mm))))
                l.add(r)
            }
            l
          }
          d.put("lower_bounds", kvList(loSch, _._1))
          d.put("upper_bounds", kvList(hiSch, _._2))
        }
        e.put("data_file", d)
        e
      } }
      val mPath = s"$tableDir/metadata/snap$snapId-m$i.avro"
      writeAvro(mPath, entrySchema, entries,
        Map("partition-spec-id" -> specId.toString))
      val mLen = fs.getFileStatus(new HPath(mPath)).getLen
      (mPath, mLen, grp.map(_._1))
    }.seq
    // manifest-list rows: one field_summary per partition field (spec
    // order), bounds = the [min, max] window over the manifest's
    // tuples (a point when the group holds one tuple)
    val summarySch = manifestFileSchema.getField("partitions").schema()
      .getTypes.get(1).getElementType
    val listRows = manifests.map { case (mPath, mLen, tupleVals) =>
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", mPath)
      r.put("manifest_length", mLen)
      r.put("partition_spec_id", specId)
      r.put("content", 0)
      r.put("added_snapshot_id", snapId)
      val summaries = new java.util.ArrayList[GenericRecord]()
      partNames.indices.foreach { j =>
        val vals = tupleVals.map(_(j))
        val lo = vals.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
        val hi = vals.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
        val s = new GenericData.Record(summarySch)
        s.put("contains_null", false)
        s.put("lower_bound", java.nio.ByteBuffer.wrap(boundBytes(lo)))
        s.put("upper_bound", java.nio.ByteBuffer.wrap(boundBytes(hi)))
        summaries.add(s)
      }
      r.put("partitions", summaries)
      r
    }.toSeq
    ComposedSnapshot(listRows,
      addedFiles = tupleFiles.map(_._2.size.toLong).sum,
      addedRecords = stats.values.map(_._1).sum)
  }

  // ---------------------------------------------------------------
  // small IO helpers
  // ---------------------------------------------------------------

  private[sources] def readAvro(path: String): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      new FsInput(new HPath(path), hconf),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  private[sources] def writeAvro(path: String, schema: Schema,
                        records: Seq[GenericRecord],
                        meta: Map[String, String]): Unit = {
    val fs = new HPath(path).getFileSystem(hconf)
    val out = fs.create(new HPath(path), true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    // level 1: manifests are metadata written once per snapshot on the
    // driver — at 128 grouped manifests level 6 cost 2.4 s of pure
    // deflate for a few % size, level 1 is ~4x faster to write and any
    // deflate level reads back identically
    w.setCodec(CodecFactory.deflateCodec(1))
    w.create(schema, out)
    try records.foreach(w.append) finally w.close()
  }

  /** Atomic text write: temp file + rename, so a crash mid-write can
    * never leave a torn version-hint.text (the visibility pointer) —
    * real HadoopTableOperations does the same. A reader racing the
    * swap window (hint deleted, rename pending) falls back to the
    * max-vN scan in [[currentMetadata]].
    */
  private def writeText(path: String, text: String): Unit = {
    val target = new HPath(path)
    val fs = target.getFileSystem(hconf)
    val tmp = new HPath(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    fs.delete(target, false) // rename refuses to clobber on most FSs
    require(fs.rename(tmp, target),
      s"iceberg: atomic rename $tmp -> $target failed")
  }

  private def bufBytes(bb: java.nio.ByteBuffer): Array[Byte] = {
    val d = bb.duplicate()
    val a = new Array[Byte](d.remaining())
    d.get(a)
    a
  }

  /** Hive-style %XX unescaping of partitionBy directory names (Spark
    * escapes `=`, `/`, `%` … when laying out partition dirs).
    */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code =
          try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** ONE Spark job reading every file's parquet footer on the
    * executors: path -> (row count, per-column INT64 [min, max]).
    * Only these tiny stats records return to the driver — at
    * thousands of files this replaces the round-12 driver-side
    * footer walk.
    */
  private def distributedFooterInfo(spark: SparkSession,
                                    paths: Seq[String])
      : Map[String, (Long, Map[String, (Long, Long)])] = {
    if (paths.isEmpty) Map.empty
    else {
      val slices = math.min(paths.size,
        spark.sparkContext.defaultParallelism).max(1)
      val sconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      spark.sparkContext.parallelize(paths, slices)
        .mapPartitions { it =>
          // ONE Hadoop Configuration per task, not per footer: building
          // one per file cost ~40 ms each, which at thousands of files
          // dwarfed the actual footer reads
          val conf = sconf.value
          it.map(p => p -> footerInfo(p, conf))
        }
        .collect().toMap
    }
  }

  /** Row count + per-file (min, max) for top-level INT64 columns,
    * folded across row groups from the parquet footer statistics —
    * no data pages read. Runs inside executor tasks.
    */
  private def footerInfo(path: String, conf: Configuration)
      : (Long, Map[String, (Long, Long)]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new HPath(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      for (block <- reader.getFooter.getBlocks.asScala;
           c <- block.getColumns.asScala) {
        // ascribe away parquet's existential Statistics[T <: Comparable[T]]
        val st: org.apache.parquet.column.statistics.Statistics[_] =
          c.getStatistics
        if (c.getPath.size() == 1 &&
          c.getPrimitiveType.getPrimitiveTypeName ==
            PrimitiveTypeName.INT64 &&
          st != null && !st.isEmpty && st.hasNonNullValue) {
          val name = c.getPath.toDotString
          val mn = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
          val mx = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
          val cur = acc.get(name)
          acc(name) = (cur.fold(mn)(t => math.min(t._1, mn)),
            cur.fold(mx)(t => math.max(t._2, mx)))
        }
      }
      (reader.getRecordCount, acc.toMap)
    } finally reader.close()
  }
}
