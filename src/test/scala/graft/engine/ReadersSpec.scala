package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Locks the reader's timestamp normalization: whatever flavor the
  * parquet writer used — tz-adjusted TIMESTAMP, naive TIMESTAMP_NTZ
  * (pandas/pyarrow default), or TIMESTAMP(NANOS) — `Readers.readParquet`
  * hands every downstream operator plain session TimestampType with the
  * same instant values. Round 7 lost two queries and seven specs to a
  * testdata writer flipping isAdjustedToUTC; this spec is the regression
  * gate for that entire failure class.
  */
class ReadersSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_readers").toString

  test("TIMESTAMP_NTZ columns normalize to TimestampType with instant " +
       "values preserved (UTC session)") {
    import spark.implicits._
    val dir = tmpDir() + "/ntz"
    Seq(("2024-03-01 10:15:30.123456", 1L), ("2024-03-02 23:59:59.999999", 2L))
      .toDF("s", "id")
      .select(to_timestamp_ntz(col("s")).as("ts"), col("id"))
      .write.parquet(dir)
    // control: the raw read really is NTZ (the spec tests normalization,
    // not a Spark default that happens to agree)
    assert(spark.read.parquet(dir).schema("ts").dataType == TimestampNTZType)
    val df = Readers.readParquet(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.orderBy("id")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].collect().toSeq
    assert(got == Seq("2024-03-01 10:15:30.123456",
      "2024-03-02 23:59:59.999999"))
  }

  test("NTZ normalization reaches nested struct/array/map fields") {
    import spark.implicits._
    val dir = tmpDir() + "/nested"
    Seq(("2024-05-05 01:02:03", 1L)).toDF("s", "id")
      .select(
        struct(to_timestamp_ntz(col("s")).as("t"), col("id").as("k"))
          .as("rec"),
        array(to_timestamp_ntz(col("s"))).as("arr"),
        col("id"))
      .write.parquet(dir)
    val df = Readers.readParquet(spark, dir)
    val rec = df.schema("rec").dataType.asInstanceOf[StructType]
    assert(rec("t").dataType == TimestampType)
    assert(df.schema("arr").dataType ==
      ArrayType(TimestampType, containsNull = true))
    val v = df.select(col("rec.t").cast("string")).as[String].head()
    assert(v == "2024-05-05 01:02:03")
  }

  test("tz-adjusted TIMESTAMP passes through untouched") {
    import spark.implicits._
    val dir = tmpDir() + "/tz"
    Seq(("2024-07-04 12:00:00", 7L)).toDF("s", "id")
      .select(to_timestamp(col("s")).as("ts"), col("id"))
      .write.parquet(dir)
    val df = Readers.readParquet(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(col("ts").cast("string")).as[String].head() ==
      "2024-07-04 12:00:00")
  }

  test("testdata events.ts arrives as TimestampType through every " +
       "Readers entry point") {
    for (d <- Seq(Readers.table(spark, sf(), "events"),
                  Readers.events(spark, sf())))
      assert(d.schema("ts").dataType == TimestampType,
        s"got ${d.schema("ts").dataType}")
  }

  /** A parquet file at `file` with (id, ts TIMESTAMP(NANOS)) rows, the
    * timestamp type Spark cannot write.
    */
  private def writeNanos(file: String, rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts) =>
      w.write(groups.newGroup().append("id", id).append("ts", ts))
    } finally w.close()
  }

  private val nanosRows = Seq((1L, 1700000000123456789L),
    (2L, 1700000001000000999L))

  /** Names, types and nullability, field by field. */
  private def shape(df: org.apache.spark.sql.DataFrame) =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(c => col(s"`$c`")): _*).collect().toSeq

  test("the footer's schema equals the inferred one, and the read runs " +
       "no inference job: multi-shard directory, single files (testdata " +
       "events, a TIMESTAMP(NANOS) file), NTZ") {
    import spark.implicits._
    val shards = tmpDir() + "/shards"
    (1 to 40).map(i => (i.toLong, s"s$i", if (i % 3 == 0) None else Some(i)))
      .toDF("id", "s", "n").repartition(4).write.parquet(shards)
    val ntz = tmpDir() + "/ntz"
    Seq(("2024-03-01 10:15:30.123456", 1L)).toDF("s", "id")
      .select(to_timestamp_ntz(col("s")).as("ts"), col("id"))
      .write.parquet(ntz)
    val nanos = tmpDir() + "/nanos.parquet"
    writeNanos(nanos, nanosRows)
    assert(Readers.readParquet(spark, nanos).as[(Long, java.sql.Timestamp)]
      .collect().map(_._2.toInstant.toString).toSeq ==
      Seq("2023-11-14T22:13:20.123456Z", "2023-11-14T22:13:21Z"))
    for (p <- Seq(shards, s"${sf()}/orders.parquet",
                  s"${sf()}/events.parquet", ntz, nanos)) {
      val (read, jobs) = withJobLabels(Readers.readParquet(spark, p))
      assert(jobs.isEmpty, s"$p: $jobs")
      // mergeSchema keeps Spark's own inference (one job); over files
      // of one schema it infers the schema the first footer holds
      val (inferred, inferJobs) = withJobLabels(
        Readers.readParquet(spark, p, Map("mergeSchema" -> "true")))
      assert(inferJobs.nonEmpty, p)
      assert(shape(read) == shape(inferred), p)
      assert(sorted(read) == sorted(inferred), p)
    }
  }

  test("a hive-partitioned directory keeps Spark's inference") {
    import spark.implicits._
    val dir = tmpDir() + "/parts"
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.partitionBy("k")
      .parquet(dir)
    val (read, jobs) = withJobLabels(Readers.readParquet(spark, dir))
    assert(jobs.nonEmpty)
    assert(shape(read) == shape(spark.read.parquet(dir)))
    assert(read.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a path overwritten with another footer reads the new one") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(tmpDir(), "over")
    java.nio.file.Files.createDirectories(dir)
    writeNanos(dir.resolve("part-0.parquet").toString, nanosRows)
    assert(Readers.readParquet(spark, dir.toString).schema("ts").dataType ==
      TimestampType)
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite")
      .parquet(dir.toString)
    val again = Readers.readParquet(spark, dir.toString)
    assert(again.columns.toSeq == Seq("id", "s"))
    assert(again.as[(Long, String)].collect().toSeq == Seq((1L, "x")))
  }
}
