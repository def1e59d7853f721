package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** `df.write.format("pgcopy")` — the engine's one writer of the
  * reference's bulk COPY landing (GCS2Postgres `src/db/db.go:175-180`,
  * `pgx.CopyFrom`) as a DataSourceV2 `TableProvider`, registered via
  * `DataSourceRegister` (META-INF/services); [[Sink]]'s `pgcopy` case
  * routes here, and every field goes through [[PgCopy]]'s encoder.
  *
  * Layout contract: `path` is the payload directory with one
  * `part-*.txt` COPY TEXT file per partition; `<path>.copy.sql` beside
  * it holds one `\COPY` command per payload file. `option("table", t)`
  * names the target table (default: the path's last segment).
  *
  * Landing is all-or-nothing, like the reference's single COPY
  * transaction: tasks write into a hidden sibling staging directory,
  * and only the driver's `commit` moves the payload into place —
  * `overwrite` swaps the staged directory in, `append` moves the
  * committed files in and extends the prior manifest with exactly
  * those files (commit messages, never a directory listing). A failed
  * write deletes only its staging directory.
  *
  * Scale shape: encoding is a narrow per-row step inside each task (no
  * shuffle, no driver materialization — unlike the reference, which
  * buffers all rows driver-side, db.go:151-155). Task retries are safe:
  * file names embed the query id and task id, and losing attempts
  * delete their file in `abort()`. Paths resolve through the session's
  * Hadoop configuration, captured on the driver and shipped to tasks.
  *
  * Write-only, `mode("append")` or `mode("overwrite")`
  * ([[TableCapability.TRUNCATE]]); reads are rejected.
  */
class PgCopySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pgcopy"

  // write-only source: the schema is always supplied by the writing
  // DataFrame (externally), never inferred from files
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "pgcopy is a write-only sink (COPY TEXT payload files); it cannot be read back as a table")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("pgcopy sink needs option(\"path\", ...)"))
    val table = Option(properties.get("table")).getOrElse(
      path.stripSuffix("/").split('/').last)
    new PgCopyTable(path, table, schema)
  }
}

private class PgCopyTable(path: String, table: String, schema: StructType)
    extends Table with SupportsWrite {
  override def name(): String = s"pgcopy:$table"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the type gate, enforced at plan time: struct/map have no scalar
    // Postgres analogue (reference converter is scalar-only,
    // utils.go:135-166)
    val bad = info.schema().fields.filterNot(f => PgCopy.supported(f.dataType))
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"pgcopy: unsupported field type(s) ${bad.map(f => s"${f.name}: ${f.dataType.sql}").mkString(", ")} — flatten upstream")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new PgCopyBatchWrite(path, table,
          info.schema(), info.queryId(), overwrite, new SerializableConfiguration(
            SparkSession.active.sessionState.newHadoopConf()))
      }
    }
  }
}

private case class PgCopyCommit(fileName: String) extends WriterCommitMessage

private class PgCopyBatchWrite(path: String, table: String,
                               schema: StructType, writeId: String,
                               overwrite: Boolean, conf: SerializableConfiguration)
    extends BatchWrite {
  private val fs: FileSystem = new Path(path).getFileSystem(conf.value)
  private val dir = fs.makeQualified(new Path(path.stripSuffix("/")))
  // hidden sibling: Spark's file readers and any `part-*` listing of
  // the payload directory skip it
  private val staging = new Path(dir.getParent, s".${dir.getName}.pgcopy-$writeId")
  private val manifest = new Path(dir.getParent, s"${dir.getName}.copy.sql")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    fs.mkdirs(staging)
    new PgCopyWriterFactory(staging.toString, writeId,
      schema.fields.map(_.dataType), conf)
  }

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"pgcopy: commit rename $from -> $to failed")

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // sorted for a deterministic, diffable manifest
    val files = messages.collect { case PgCopyCommit(f) => f }.sorted
    val prior =
      if (overwrite || !fs.exists(manifest)) Nil
      else {
        val in = fs.open(manifest)
        try new String(in.readAllBytes(), UTF_8).split('\n').toSeq.filter(_.nonEmpty)
        finally in.close()
      }
    if (overwrite) {
      fs.delete(dir, true)
      rename(staging, dir)
    } else {
      fs.mkdirs(dir)
      files.foreach(f => rename(new Path(staging, f), new Path(dir, f)))
      fs.delete(staging, true)
    }
    val cols = schema.fieldNames.toSeq
    val sql = (prior ++ files.map(f =>
      PgCopy.copySql(table, cols, s"${dir.getName}/$f"))).mkString("", "\n", "\n")
    val out = fs.create(manifest, true)
    try out.write(sql.getBytes(UTF_8)) finally out.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(staging, true)
}

private class PgCopyWriterFactory(dir: String, writeId: String,
                                  types: Array[DataType],
                                  conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new PgCopyDataWriter(
      new Path(dir, f"part-$partitionId%05d-$writeId-$taskId.txt"), types, conf)
}

/** Per-task COPY TEXT writer: streams encoded lines straight to the
  * staged part file (never buffers the partition), UTF-8, `\n` row
  * terminator per the COPY spec.
  */
private class PgCopyDataWriter(file: Path, types: Array[DataType],
                               conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {
  private val fs = file.getFileSystem(conf.value)
  private val out = fs.create(file, true)
  private var closed = false

  override def write(record: InternalRow): Unit = {
    val values = new Array[Any](types.length)
    var i = 0
    while (i < types.length) {
      values(i) = if (record.isNullAt(i)) null else record.get(i, types(i))
      i += 1
    }
    out.write((PgCopy.encodeLine(values, types) + "\n").getBytes(UTF_8))
  }

  override def commit(): WriterCommitMessage = {
    close()
    PgCopyCommit(file.getName)
  }

  override def abort(): Unit = {
    close()
    fs.delete(file, false)
  }

  override def close(): Unit =
    if (!closed) { closed = true; out.close() }
}
