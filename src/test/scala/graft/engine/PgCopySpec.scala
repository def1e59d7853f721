package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-exactness of the COPY TEXT encoder against values worked out by
  * hand from the Postgres COPY documentation (text format + array
  * literal grammar). The encoder is the engine's replacement for the
  * reference's pgx.CopyFrom wire encoding (db.go:175-180).
  */
class PgCopySpec extends SparkSpec {
  import spark.implicits._

  private def enc(value: Any, dt: DataType): String =
    PgCopy.encodeLine(Array(value), Array(dt))

  test("escapes: backslash first, all seven control spellings") {
    assert(PgCopy.escape("a\\b") == "a\\\\b")
    assert(PgCopy.escape("t\tn\nr\r") == "t\\tn\\nr\\r")
    assert(PgCopy.escape("\b\f\u000B") == "\\b\\f\\v")
    // a raw "\n" two-char sequence stays distinguishable from a newline:
    // the backslash doubles, the n survives
    assert(PgCopy.escape("\\n") == "\\\\n")
  }

  test("scalar field texts: null, bool, ints, floats, decimal, date, " +
       "timestamp, bytea") {
    assert(enc(null, StringType) == "\\N")
    assert(enc(true, BooleanType) == "t")
    assert(enc(false, BooleanType) == "f")
    assert(enc(42L, LongType) == "42")
    assert(enc(-7, IntegerType) == "-7")
    assert(enc(1.5d, DoubleType) == "1.5")
    assert(enc(Double.PositiveInfinity, DoubleType) == "Infinity")
    assert(enc(Double.NaN, DoubleType) == "NaN")
    assert(enc(Decimal("12.30"), DecimalType(12, 2)) == "12.30")
    // 2000-01-01 is epoch day 10957
    assert(enc(10957, DateType) == "2000-01-01")
    // micros: 2000-01-01 00:00:00.5 UTC
    val micros = 10957L * 86400L * 1000000L + 500000L
    assert(enc(micros, TimestampType) == "2000-01-01 00:00:00.5")
    assert(enc(micros - 500000L, TimestampType) == "2000-01-01 00:00:00")
    // bytea hex: field text \xdeadbeef, wire form \\xdeadbeef
    assert(enc(Array[Byte](0xde.toByte, 0xad.toByte, 0xbe.toByte,
      0xef.toByte), BinaryType) == "\\\\xdeadbeef")
  }

  test("array literals: quoting triggers, inner escapes, nulls, nesting") {
    def lit(elems: Seq[Any], et: DataType): String =
      PgCopy.arrayLiteral(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          elems.toArray), et)
    assert(lit(Seq(1L, 2L, 3L), LongType) == "{1,2,3}")
    assert(lit(Seq(UTF8String.fromString("ab"), null), StringType)
      == "{ab,NULL}")
    // empty string, the word NULL, and specials all force double quotes
    assert(lit(Seq(UTF8String.fromString("")), StringType) == "{\"\"}")
    assert(lit(Seq(UTF8String.fromString("null")), StringType)
      == "{\"null\"}")
    assert(lit(Seq(UTF8String.fromString("a,b")), StringType)
      == "{\"a,b\"}")
    assert(lit(Seq(UTF8String.fromString("a b")), StringType)
      == "{\"a b\"}")
    // inside quotes: \ and " get backslash-escaped
    assert(lit(Seq(UTF8String.fromString("q\"\\z")), StringType)
      == "{\"q\\\"\\\\z\"}")
    // a timestamp element quotes because of its space, like any text
    val micros = 10957L * 86400L * 1000000L
    assert(lit(Seq(micros), TimestampType)
      == "{\"2000-01-01 00:00:00\"}")
    // wire form of a quoted element: COPY escaping doubles the backslashes
    assert(enc(new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.fromString("a\\b"))), ArrayType(StringType))
      == "{\"a\\\\\\\\b\"}")
  }

  test("line assembly: tab joins, null placement, mixed types") {
    val line = PgCopy.encodeLine(
      Array(7L, null, UTF8String.fromString("x\ty")),
      Array(LongType, StringType, StringType))
    assert(line == "7\t\\N\tx\\ty")
  }

  test("struct/map rejected at type check with the scalar-only message") {
    val df = Seq((1L, "a")).toDF("id", "s")
      .select(struct(col("id"), col("s")).as("st"))
    val e = intercept[Exception] {
      df.select(PgCopy.lineCol(Seq(col("st")))).collect()
    }
    assert(e.getMessage.contains("pg_copy_line"))
  }

  test("pgcopy sink: payload files + manifest, wire bytes exact") {
    val out = java.nio.file.Files.createTempDirectory("pgcopy").toString
    val df = Seq(
      (1L, Some("plain"), true),
      (2L, Some("tab\there\\slash"), false),
      (3L, None: Option[String], true)
    ).toDF("id", "note", "flag")
    Sink.write(df, "notes", SinkConfig(format = "pgcopy",
      path = Some(out), mode = "overwrite"))
    val lines = spark.read.textFile(s"$out/notes").collect().sorted
    assert(lines.toSeq == Seq(
      "1\tplain\tt",
      "2\ttab\\there\\\\slash\tf",
      "3\t\\N\tt"))
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/notes.copy.sql")),
      java.nio.charset.StandardCharsets.UTF_8)
    // one \COPY line per part file actually written, in sorted order
    val partNames = new java.io.File(s"$out/notes").listFiles()
      .map(_.getName).filter(_.startsWith("part-")).sorted
    assert(partNames.nonEmpty)
    assert(manifest == partNames.map(f =>
      s"""\\COPY "notes" ("id", "note", "flag") FROM 'notes/$f' WITH (FORMAT text)""")
      .mkString("", "\n", "\n"))
  }
}
