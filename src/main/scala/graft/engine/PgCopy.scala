package graft.engine

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PostgreSQL COPY text-format encoder.
  *
  * The reference's entire sink is one bulk COPY into Postgres
  * (GCS2Postgres `src/db/db.go:175-180`, `pgx.CopyFrom`) after scalar
  * conversion (`src/utils/utils.go:135-166`). pgx speaks the COPY wire
  * protocol for it; a Spark engine has no pg driver on the executor
  * classpath here, so this object implements the documented COPY TEXT
  * encoding itself — the exact payload `COPY t FROM STDIN` accepts:
  *
  *  - one line per row, fields joined by TAB, rows by `\n`
  *  - NULL field -> `\N`
  *  - in-field escapes: `\\` `\b` `\f` `\n` `\r` `\t` `\v`
  *  - boolean -> `t` / `f`; numerics in plain (non-scientific) form
  *  - date -> `yyyy-MM-dd`; timestamp -> `yyyy-MM-dd HH:mm:ss[.ffffff]`
  *    (fraction trimmed, UTC session semantics)
  *  - bytea -> hex form `\x…` (COPY-escaped to `\\x…` on the wire)
  *  - arrays -> `{…}` literals with element quoting per the array-literal
  *    grammar, then COPY-escaped as a whole field
  *
  * Struct/map columns are rejected at type-check time: the reference's
  * converter is scalar-only (`utils.go:135-166`) and core Postgres has no
  * direct analogue; flatten upstream instead.
  *
  * Scale shape: encoding is a narrow per-row projection (no shuffle, no
  * state); the sink writes one text file per partition, so payload
  * production parallelism tracks upstream partitioning and a DBA-side
  * `COPY … FROM` per file restores the reference's landing step at any
  * fan-in.
  */
object PgCopy {

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Types this encoder accepts (element positions for arrays too). */
  def supported(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => supported(et)
    case NullType | _: StringType | BooleanType | ByteType | ShortType |
         IntegerType | LongType | FloatType | DoubleType |
         _: DecimalType | DateType | TimestampType | BinaryType => true
    case _ => false
  }

  /** COPY-level escaping of a field's text (PG docs, COPY TEXT format).
    * Backslash first; the control-character spellings match pg_dump
    * output so payloads diff cleanly against it.
    */
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\'   => sb.append("\\\\")
        case '\b'   => sb.append("\\b")
        case '\f'   => sb.append("\\f")
        case '\n'   => sb.append("\\n")
        case '\r'   => sb.append("\\r")
        case '\t'   => sb.append("\\t")
        case '\u000B' => sb.append("\\v")
        case c      => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def hex(bytes: Array[Byte]): String = {
    val digits = "0123456789abcdef"
    val sb = new java.lang.StringBuilder(2 + bytes.length * 2)
    sb.append("\\x")
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      sb.append(digits.charAt(b >> 4)).append(digits.charAt(b & 0xf))
      i += 1
    }
    sb.toString
  }

  private def timestampText(micros: Long): String = {
    val sec = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    val base = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).format(TsFmt)
    if (frac == 0L) base
    else {
      var f = f"$frac%06d"
      while (f.endsWith("0")) f = f.substring(0, f.length - 1)
      s"$base.$f"
    }
  }

  /** The field's logical text — the value as Postgres parses it, BEFORE
    * COPY-level escaping. `value` is the Catalyst internal representation
    * and must be non-null.
    */
  def fieldText(value: Any, dt: DataType): String = dt match {
    case _: StringType => value.asInstanceOf[UTF8String].toString
    case BooleanType   => if (value.asInstanceOf[Boolean]) "t" else "f"
    case ByteType | ShortType | IntegerType | LongType => value.toString
    // Java shortest-round-trip text; PG parses it exactly, including the
    // Infinity/-Infinity/NaN spellings it documents for float8
    case FloatType | DoubleType => value.toString
    case _: DecimalType =>
      value.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
    case DateType =>
      LocalDate.ofEpochDay(value.asInstanceOf[Int].toLong).toString
    case TimestampType => timestampText(value.asInstanceOf[Long])
    case BinaryType    => hex(value.asInstanceOf[Array[Byte]])
    case ArrayType(et, _) => arrayLiteral(value.asInstanceOf[ArrayData], et)
    case other => throw new IllegalArgumentException(
      s"pg_copy_line: unsupported type ${other.sql}")
  }

  /** PG array-literal grammar: elements joined by commas inside {};
    * an element is double-quoted when its text is empty, is the word
    * NULL, or contains any of `{ } , " \` or whitespace; inside quotes
    * `\` and `"` are backslash-escaped. Applies to every element type —
    * a timestamp's space forces quoting just like a string's would.
    */
  def arrayLiteral(a: ArrayData, et: DataType): String = {
    val n = a.numElements()
    val sb = new java.lang.StringBuilder(2 + n * 8)
    sb.append('{')
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      if (a.isNullAt(i)) sb.append("NULL")
      else {
        val t = fieldText(a.get(i, et), et)
        val needsQuote = t.isEmpty || t.equalsIgnoreCase("null") ||
          t.exists(c => c == '{' || c == '}' || c == ',' || c == '"' ||
            c == '\\' || Character.isWhitespace(c))
        if (needsQuote) {
          sb.append('"')
          t.foreach {
            case '\\' => sb.append("\\\\")
            case '"'  => sb.append("\\\"")
            case c    => sb.append(c)
          }
          sb.append('"')
        } else sb.append(t)
      }
      i += 1
    }
    sb.append('}')
    sb.toString
  }

  /** One COPY TEXT line (no trailing newline) from already-evaluated
    * field values in Catalyst internal representation.
    */
  def encodeLine(values: Array[Any], types: Array[DataType]): String = {
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < values.length) {
      if (i > 0) sb.append('\t')
      if (values(i) == null) sb.append("\\N")
      else sb.append(escape(fieldText(values(i), types(i))))
      i += 1
    }
    sb.toString
  }

  /** Column producing the COPY TEXT line for the given field columns. */
  def lineCol(fields: Seq[Column]): Column =
    ColumnBridge.column(PgCopyLine(fields.map(ColumnBridge.expression)))

  /** The `COPY … FROM` command a DBA runs for one payload file — the
    * pgcopy sink writes a manifest with one line per payload file.
    */
  def copySql(table: String, columns: Seq[String],
              file: String = "payload.txt"): String =
    s"""\\COPY "$table" (${columns.map(c => s""""$c"""").mkString(", ")}) FROM '$file' WITH (FORMAT text)"""
}

/** Catalyst expression for the COPY line ([[PgCopy.encodeLine]] as SQL;
  * the oracle-gated `q_pgcopy` projects it). `CodegenFallback` is
  * deliberate — never inside an analytic hot path, and the fallback
  * keeps the encoder ONE audited JVM implementation shared with the
  * pgcopy sink and the byte-exactness specs.
  */
case class PgCopyLine(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.map(_.dataType).filterNot(PgCopy.supported)
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pg_copy_line: unsupported field type(s) ${bad.map(_.sql).mkString(", ")} " +
        "(struct/map have no scalar Postgres analogue — flatten upstream; " +
        "reference converter is scalar-only, utils.go:135-166)")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "pg_copy_line"

  private lazy val fieldTypes: Array[DataType] = children.map(_.dataType).toArray

  override def eval(input: InternalRow): Any = {
    val values = new Array[Any](children.length)
    var i = 0
    while (i < values.length) {
      values(i) = children(i).eval(input)
      i += 1
    }
    UTF8String.fromString(PgCopy.encodeLine(values, fieldTypes))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
