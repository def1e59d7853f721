package graft.engine

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** Executes `Sink.write`'s jdbc branch against the in-memory driver
  * double ([[GraftMemJdbc]]) — the only Sink arm that previously had
  * zero executable coverage (no database jar exists offline). Asserts
  * the full option wiring: secret:// URL resolution, table creation,
  * row delivery, per-partition batching at `batchSize`, and that
  * isolationLevel=NONE keeps the writer out of transaction management.
  */
class SinkSpec extends SparkSpec {
  import spark.implicits._

  test("jdbc sink: rows delivered, batchsize honored, secret URL " +
       "resolved, no isolation calls under NONE") {
    GraftMemJdbc.register()
    GraftMemJdbc.reset()
    val df = (1 to 25).map(i => (i.toLong, s"name$i")).toDF("id", "name")
      .repartition(2)
    Secrets.withProvider(Map("PG" -> "mem").get _) {
      Sink.write(df, "t_out", SinkConfig(
        format = "jdbc",
        url = Some("jdbc:graft:secret://PG"),
        batchSize = 10))
    }
    // secret:// placeholder resolved before the connection opened
    assert(GraftMemJdbc.connectedUrl == "jdbc:graft:mem")
    // the writer probed for the table, found none, and created it
    assert(GraftMemJdbc.ddl.size() == 1)
    val create = GraftMemJdbc.ddl.peek()
    assert(create.toUpperCase.startsWith("CREATE TABLE"))
    assert(create.contains("t_out"))
    // every row arrived exactly once, values intact
    val got = GraftMemJdbc.insertedRows
      .map(r => (r.head.asInstanceOf[Long], String.valueOf(r(1)))).toSet
    assert(got == (1 to 25).map(i => (i.toLong, s"name$i")).toSet)
    // batchsize=10 over 2 partitions: no batch exceeds 10, and the row
    // total matches (e.g. 13 rows -> batches 10+3 in one partition)
    val batches = GraftMemJdbc.batches
    assert(batches.sum == 25)
    assert(batches.nonEmpty && batches.forall(b => b > 0 && b <= 10))
    assert(batches.exists(_ == 10)) // at least one full batch flushed
    // isolationLevel NONE + no transaction support advertised ->
    // the writer never touched setTransactionIsolation
    assert(GraftMemJdbc.isolationCalls.isEmpty)
  }

  test("jdbc sink without a url fails fast") {
    val df = Seq((1L, "x")).toDF("id", "name")
    assertThrows[IllegalArgumentException] {
      Sink.write(df, "t_out", SinkConfig(format = "jdbc"))
    }
  }

  private def readLines(dir: java.io.File): Seq[String] =
    dir.listFiles().filter(_.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
      .toSeq

  test("pgcopy DataSourceV2: df.write.format(\"pgcopy\") produces " +
       "byte-identical payload lines to the PgCopy.lineCol projection, " +
       "plus a manifest") {
    val tmp = java.nio.file.Files.createTempDirectory("pgcopy_dsv2").toFile
    val df = Seq(
      (1L, "plain", Some(3.5), "2024-03-01 10:20:30"),
      (2L, "tab\there", None, "2024-03-01 00:00:00"),
      (3L, "back\\slash", Some(-0.25), "2024-12-31 23:59:59"))
      .toDF("id", "txt", "score", "ts")
      .selectExpr("id", "txt", "score", "CAST(ts AS TIMESTAMP) AS ts")
      .repartition(2)
    // the oracle-gated q_pgcopy encoder, as a SQL projection
    val projected = df.select(PgCopy.lineCol(df.columns.toSeq.map(df.col)))
      .as[String].collect().toSeq.sorted
    // DataSourceV2 path, resolved by short name via DataSourceRegister
    df.write.format("pgcopy").mode("append")
      .option("table", "t_tab")
      .option("path", s"${tmp.getAbsolutePath}/t_dsv2").save()
    val v2 = readLines(new java.io.File(tmp, "t_dsv2")).sorted
    assert(projected.size == 3 && v2 == projected) // byte-identical lines
    // manifest exists with one \COPY per part file, naming the table
    val manifest = new java.io.File(tmp, "t_dsv2.copy.sql")
    assert(manifest.exists())
    val mlines = scala.io.Source.fromFile(manifest, "UTF-8")
      .getLines().toSeq
    val nParts = new java.io.File(tmp, "t_dsv2").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(mlines.size == nParts)
    assert(mlines.forall(l => l.startsWith("\\COPY \"t_tab\"") &&
      l.contains("FORMAT text")))
  }

  test("pgcopy DataSourceV2: overwrite truncates prior payload " +
       "generations; unsupported types and reads fail fast") {
    val tmp = java.nio.file.Files.createTempDirectory("pgcopy_ow").toFile
    val dir = s"${tmp.getAbsolutePath}/t"
    Seq((1L, "old")).toDF("id", "txt").write.format("pgcopy")
      .mode("append").option("path", dir).save()
    Seq((2L, "new")).toDF("id", "txt").write.format("pgcopy")
      .mode("overwrite").option("path", dir).save()
    val lines = readLines(new java.io.File(dir))
    assert(lines == Seq("2\tnew")) // old generation gone
    // struct columns have no scalar Postgres analogue
    val bad = Seq((1L, ("a", 2))).toDF("id", "s")
    val e = intercept[Exception] {
      bad.write.format("pgcopy").mode("append")
        .option("path", s"${tmp.getAbsolutePath}/t_bad").save()
    }
    assert(e.getMessage.contains("flatten upstream") ||
      Option(e.getCause).exists(_.getMessage.contains("flatten upstream")))
    // write-only: reading the payload back as a table is rejected
    assertThrows[Exception] {
      spark.read.format("pgcopy").option("path", dir).load()
    }
  }

  test("avro sink: Sink.write lands container files the connector reads " +
       "back row-identical; mode append adds, overwrite replaces") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sink_avro").toString
    val nation = spark.read.parquet(sf() + "/nation.parquet")
    Sink.write(nation, "nation", SinkConfig(format = "avro",
      path = Some(root), mode = "overwrite"))
    val back = spark.read.format("graft-avro").load(s"$root/nation")
    assert(back.count() === 25)
    assert(back.schema === nation.schema)
    Sink.write(nation.limit(3), "nation", SinkConfig(format = "avro",
      path = Some(root), mode = "append"))
    assert(spark.read.format("graft-avro").load(s"$root/nation")
      .count() === 28)
    Sink.write(nation.limit(3), "nation", SinkConfig(format = "avro",
      path = Some(root), mode = "overwrite"))
    assert(spark.read.format("graft-avro").load(s"$root/nation")
      .count() === 3)
  }

  test("avro sink: unsupported modes fail loudly instead of silently " +
       "truncating (error/errorifexists/ignore are not coerced)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sink_avro_mode").toString
    val nation = spark.read.parquet(sf() + "/nation.parquet")
    Sink.write(nation, "nation", SinkConfig(format = "avro",
      path = Some(root), mode = "overwrite"))
    for (m <- Seq("error", "errorifexists", "ignore")) {
      val e = intercept[IllegalArgumentException] {
        Sink.write(nation.limit(1), "nation", SinkConfig(format = "avro",
          path = Some(root), mode = m))
      }
      assert(e.getMessage.contains(m))
    }
    // prior data untouched by the rejected writes
    assert(spark.read.format("graft-avro").load(s"$root/nation")
      .count() === 25)
  }

  test("avro writer crash-safety: an orphaned .avro.tmp staging file " +
       "(simulated dead executor) is invisible to readers") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sink_avro_tmp").toString
    val nation = spark.read.parquet(sf() + "/nation.parquet")
    Sink.write(nation, "nation", SinkConfig(format = "avro",
      path = Some(root), mode = "overwrite"))
    val dir = new java.io.File(s"$root/nation")
    // a real committed file, copied back under a staging name — valid
    // Avro bytes all the way, exactly what a died-mid-write attempt
    // that happened to flush whole blocks would leave behind
    val committed = dir.listFiles().filter(_.getName.endsWith(".avro")).head
    java.nio.file.Files.copy(committed.toPath,
      new java.io.File(dir, "part-99999-123.avro.tmp").toPath)
    assert(spark.read.format("graft-avro").load(s"$root/nation")
      .count() === 25)
  }

  /** Every visible file of a pgcopy landing — the payload directory's
    * `part-*` files and the `.copy.sql` manifest — by name, as bytes.
    */
  private def landing(root: String, table: String): Map[String, Seq[Byte]] = {
    def bytes(f: java.io.File) = java.nio.file.Files.readAllBytes(f.toPath).toSeq
    val parts = Option(new java.io.File(root, table).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
      .map(f => s"$table/${f.getName}" -> bytes(f))
    val manifest = new java.io.File(root, s"$table.copy.sql")
    (parts ++ Seq(manifest).filter(_.exists).map(f => f.getName -> bytes(f))).toMap
  }

  private def manifestFiles(root: String, table: String): Seq[String] =
    scala.io.Source.fromFile(new java.io.File(root, s"$table.copy.sql"), "UTF-8")
      .getLines().filter(_.nonEmpty).map(_.split("'")(1)).toSeq

  test("pgcopy overwrite is atomic: a task failing mid-write leaves the " +
       "old part files and manifest byte-identical, no new part visible") {
    val root = java.nio.file.Files.createTempDirectory("pgcopy_atomic").toString
    val cfg = SinkConfig(format = "pgcopy", path = Some(root), mode = "overwrite")
    Sink.write(Seq((1L, "old"), (2L, "older")).toDF("id", "txt").repartition(2),
      "t", cfg)
    val before = landing(root, "t")
    assert(before.keys.count(_.startsWith("t/part-")) == 2 &&
      before.contains("t.copy.sql"))
    // partition 2 holds ids 50..74: ten rows reach its part file before
    // the UDF throws, and the other partitions may finish theirs
    val boom = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (id == 60L) throw new IllegalStateException("injected fault")
      id
    }
    val failing = spark.range(0, 100, 1, 4)
      .select(boom(col("id")).as("id"), lit("new").as("txt"))
    val e = intercept[Exception](Sink.write(failing, "t", cfg))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected fault")))
    assert(landing(root, "t") == before)
    // a retried overwrite then lands the new generation whole
    Sink.write(spark.range(0, 100, 1, 4).select(col("id"), lit("new").as("txt")),
      "t", cfg)
    val after = landing(root, "t")
    assert(after.keySet.intersect(before.keySet) == Set("t.copy.sql"))
    assert(readLines(new java.io.File(root, "t")).size == 100)
    assert(manifestFiles(root, "t").sorted ==
      after.keys.filter(_.startsWith("t/part-")).toSeq.sorted)
  }

  test("avro overwrite is atomic: a task failing mid-write leaves the " +
       "old .avro files byte-identical, no new file visible") {
    val root = java.nio.file.Files.createTempDirectory("avro_atomic").toString
    val cfg = SinkConfig(format = "avro", path = Some(root), mode = "overwrite")
    def avroFiles: Map[String, Seq[Byte]] =
      Option(new java.io.File(root, "t").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".avro"))
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
        .toMap
    Sink.write(Seq((1L, "old"), (2L, "older")).toDF("id", "txt").repartition(2),
      "t", cfg)
    val before = avroFiles
    assert(before.size == 2)
    // partition 2 holds ids 50..74: ten rows reach its file before the
    // UDF throws, and the other partitions may finish theirs
    val boom = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (id == 60L) throw new IllegalStateException("injected fault")
      id
    }
    val failing = spark.range(0, 100, 1, 4)
      .select(boom(col("id")).as("id"), lit("new").as("txt"))
    val e = intercept[Exception](Sink.write(failing, "t", cfg))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected fault")))
    assert(avroFiles == before)
    assert(new java.io.File(root).list().forall(n => !n.startsWith(".t.")))
    // a retried overwrite then lands the new generation whole
    Sink.write(spark.range(0, 100, 1, 4).select(col("id"), lit("new").as("txt")),
      "t", cfg)
    assert(avroFiles.keySet.intersect(before.keySet).isEmpty)
    assert(spark.read.format("graft-avro").load(s"$root/t")
      .filter(col("txt") === "new").count() === 100)
  }

  test("pgcopy append: the manifest keeps the prior manifest's files and " +
       "adds exactly the files this write committed") {
    val root = java.nio.file.Files.createTempDirectory("pgcopy_append").toString
    val cfg = SinkConfig(format = "pgcopy", path = Some(root), mode = "append")
    Sink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "txt").repartition(2), "t", cfg)
    val first = manifestFiles(root, "t")
    assert(first.size == 2)
    // a file the sink never committed is not the manifest's to list
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "t", "part-foreign.txt"),
      "9\tz\n".getBytes("UTF-8"))
    Sink.write(Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "txt").repartition(3),
      "t", cfg)
    val second = manifestFiles(root, "t")
    assert(second.take(2) == first)
    val added = second.drop(2)
    assert(added.size == 3 && added.intersect(first).isEmpty)
    val parts = new java.io.File(root, "t").listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n != "part-foreign.txt")
    assert(second.sorted == parts.map(p => s"t/$p").toSeq.sorted)
    val listed = second.flatMap(f => scala.io.Source.fromFile(
      new java.io.File(root, f), "UTF-8").getLines())
    assert(listed.sorted == Seq("1\ta", "2\tb", "3\tc", "4\td", "5\te"))
  }

  test("pgcopy sink: unsupported modes fail before anything is written " +
       "(error/errorifexists/ignore are not coerced)") {
    val root = java.nio.file.Files.createTempDirectory("pgcopy_mode").toString
    val nation = spark.read.parquet(sf() + "/nation.parquet")
    Sink.write(nation, "nation", SinkConfig(format = "pgcopy",
      path = Some(root), mode = "overwrite"))
    val before = landing(root, "nation")
    for (m <- Seq("error", "errorifexists", "ignore")) {
      val e = intercept[IllegalArgumentException] {
        Sink.write(nation.limit(1), "nation", SinkConfig(format = "pgcopy",
          path = Some(root), mode = m))
      }
      assert(e.getMessage.contains(m))
    }
    assert(landing(root, "nation") == before)
    assert(new java.io.File(root).list().forall(n => !n.startsWith(".nation.pgcopy")))
  }

  test("pgcopy and graft-avro resolve paths through the session's Hadoop " +
       "configuration, on the driver and in tasks") {
    val root = java.nio.file.Files.createTempDirectory("session_fs").toString
    // the scheme exists only in the session conf; no filesystem cache
    // entry outlives a lookup, so a bare Configuration cannot find it
    spark.conf.set("fs.graftsess.impl", classOf[SessionOnlyFs].getName)
    spark.conf.set("fs.graftsess.impl.disable.cache", "true")
    try {
      val df = Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "txt")
        .repartition(2)
      df.write.format("pgcopy").mode("overwrite").save(s"graftsess://$root/t")
      assert(readLines(new java.io.File(root, "t")).sorted ==
        Seq("1\ta", "2\t\\N", "3\tc"))
      assert(manifestFiles(root, "t").size == 2)
      df.write.format("graft-avro").mode("overwrite").save(s"graftsess://$root/a")
      val back = spark.read.format("graft-avro").load(s"graftsess://$root/a")
      assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    } finally {
      spark.conf.unset("fs.graftsess.impl")
      spark.conf.unset("fs.graftsess.impl.disable.cache")
    }
  }

  test("iceberg sink and scan resolve paths through the session's Hadoop " +
       "configuration, on the driver and in the footer-stats tasks") {
    val root = java.nio.file.Files.createTempDirectory("session_ice").toString
    spark.conf.set("fs.graftsess.impl", classOf[SessionOnlyFs].getName)
    spark.conf.set("fs.graftsess.impl.disable.cache", "true")
    try {
      val cfg = SinkConfig(format = "iceberg", path = Some(s"graftsess://$root"),
        partitionBy = Seq("grp"))
      val first = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "grp")
      Sink.write(first, "ice", cfg)
      // the second write appends a snapshot to the existing table
      Sink.write(Seq((4L, "b")).toDF("id", "grp"), "ice", cfg)
      val back = graft.sources.Iceberg.scan(spark, s"graftsess://$root/ice")
      assert(back.select("id", "grp").orderBy("id").as[(Long, String)]
        .collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "b")))
      assert(new java.io.File(root, "ice/metadata/version-hint.text").exists)
    } finally {
      spark.conf.unset("fs.graftsess.impl")
      spark.conf.unset("fs.graftsess.impl.disable.cache")
    }
  }
}

/** The local filesystem under a scheme of its own (`graftsess:`), for
  * registering only through a session's Hadoop configuration.
  */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftsess"
  override def getUri: java.net.URI = java.net.URI.create("graftsess:///")
}
