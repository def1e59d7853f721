package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{JobSpec, Pipeline, Readers, SourceFormat}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a matching DuckDB-runnable oracle in
  * `oracleSql` (same column names, same deterministic ORDER BY). Numeric
  * policy for cross-engine hash-stability:
  *   - sums/avgs of doubles go through DECIMAL(18,2) (exact, associative)
  *     and are cast back to DOUBLE for a stable final representation;
  *   - event-time `ts` (parquet timestamp[ns]) is cast to µs TIMESTAMP on
  *     the DuckDB side to match Spark's read truncation;
  *   - every query ends in a total ORDER BY (ties broken by keys).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  /** Session-lifetime cache of persisted ANN-index builds: the
    * build-once/query-many contract means a repeated indexed query
    * (bench reps, verify) pays the BUILD exactly once per
    * (kind, corpus dir); the artifact lives in a temp dir. In
    * production the build is its own job writing to the lakehouse —
    * this cache is the single-JVM stand-in for that artifact store.
    */
  private val annIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // `kind` must carry every build PARAMETER (e.g. "ivf16") — a key of
  // family+dir alone would silently reuse an index built with
  // different nlist/subspaces/dim for a differently-tuned query
  //
  // Crash safety (the GenStore device, streaming/GenStore.scala): the
  // build runs in a `…_stage` directory and only an atomic rename
  // publishes it under the name queries read. A build interrupted by
  // the harness (kill, OOM) leaves only the never-referenced stage dir
  // — a parseable-but-partial artifact can never be served.
  private def annIndex(kind: String, dir: String)
                      (build: String => Unit): String =
    annIndexCache.computeIfAbsent(s"$kind:$dir", _ => {
      val stage = java.nio.file.Files
        .createTempDirectory(s"graft_${kind}_stage")
      build(stage.toString)
      val fin = stage.resolveSibling(s"${stage.getFileName}_idx")
      java.nio.file.Files.move(stage, fin,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      fin.toString
    })

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full reference pipeline shape: scan → align/cast to a declared target
    * schema → deterministic result (SURVEY §7.1).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("ingest_lineitem")(spark, "/root/testdata/sf0.001")

  /** Declared target schema for the flagship ingest (the reference's
    * information_schema probe, utils.go:96-123 — declared here, no live PG).
    * Exercises reorder + cast (double→decimal) + case-insensitive resolve.
    */
  private val lineitemTargetDdl =
    "l_orderkey BIGINT, l_linenumber INT, l_quantity DECIMAL(12,2), " +
    "l_extendedprice DECIMAL(12,2), l_returnflag STRING, l_shipdate TIMESTAMP"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- core ELT surface (reference R1-R11) ----
    "ingest_lineitem" -> ((s, dir) => {
      Pipeline.ingest(s, JobSpec(
          source = s"$dir/lineitem.parquet",
          target = "lineitem",
          targetSchemaDdl = Some(lineitemTargetDdl)))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus;
        // order by every column for a total, engine-independent order
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
        // the DECIMAL(12,2) target cast above IS the exercised operator
        // (reference R8); emit doubles so the external comparator hashes
        // the same dtype from both engines (parquet decimal -> python
        // Decimal objects vs DuckDB decimal -> float64 hash-mismatch even
        // when cell-equal)
        .withColumn("l_quantity", col("l_quantity").cast("double"))
        .withColumn("l_extendedprice", col("l_extendedprice").cast("double"))
    }),

    // ---- core ELT: the reference's align/cast quirks, oracle-checked —
    //      case-insensitive resolution (L_ORDERKEY), missing target
    //      column -> NULL, int64 -> int32 narrowing, timestamp -> string
    //      (utils.go:126-133, db.go:165-169, utils.go:146-161) ----
    "q_align" -> ((s, dir) => {
      Pipeline.ingest(s, JobSpec(
          source = s"$dir/lineitem.parquet",
          target = "lineitem_aligned",
          targetSchemaDdl = Some(
            "L_ORDERKEY INT, missing_flag STRING, l_shipdate STRING, " +
            "l_linenumber BIGINT")))
        .orderBy(col("L_ORDERKEY"), col("l_linenumber"), col("l_shipdate"))
    }),

    // ---- the reference's landing payload itself: Postgres COPY TEXT
    //      encoding (db.go:175-180, pgx.CopyFrom) oracle-checked
    //      byte-for-byte — in-field escapes, \N nulls, t/f booleans,
    //      decimal/date text forms, array literal ----
    "q_pgcopy" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.engine.PgCopy.lineCol(Seq(
            col("l_orderkey"),
            col("l_quantity").cast("decimal(12,2)"),
            col("l_orderkey") % 2 === 0,
            col("l_shipdate").cast("date"),
            when(col("l_returnflag") === "A", lit(null).cast("string"))
              .otherwise(col("l_returnflag")),
            concat(col("l_linestatus"), lit("\t<\n>\\end")),
            array(col("l_linenumber").cast("long"), col("l_orderkey") % 10)
          )).as("copy_line"))
        // copy_line in the sort: (l_orderkey, l_linenumber) is not unique
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("copy_line"))
    }),

    // ---- Avro ingestion round trip through the in-repo DSv2 connector
    //      (graft.sources.AvroSource — the classpath has no spark-avro
    //      module, so the reference's Avro surface, README.md:11, is
    //      served by our own sync-split + reader-schema-pruned source):
    //      write a typed lineitem slice as deflate-coded container
    //      files ONCE per sf dir, read it back, emit the rows. The
    //      oracle recomputes the slice from parquet, so every type
    //      conversion in BOTH directions (long/int/double/decimal/
    //      string/null-union/timestamp/date/boolean/array/map/struct)
    //      is hash-gated ----
    "q_avro_roundtrip" -> ((s, dir) => {
      val path = annIndex("avro_rt", dir) { p =>
        t(s, dir, "lineitem")
          .where(col("l_orderkey") % 50 === 0)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("decimal(12,2)").as("qty_dec"),
            when(col("l_returnflag") === "A", lit(null).cast("string"))
              .otherwise(col("l_returnflag")).as("rflag_n"),
            col("l_shipdate"),
            col("l_shipdate").cast("date").as("ship_day"),
            (col("l_orderkey") % 2 === 0).as("even"),
            col("l_extendedprice"),
            array(col("l_linenumber").cast("long"), col("l_orderkey") % 10)
              .as("arr"),
            map(lit("ln"), col("l_linenumber").cast("long"),
                lit("ok7"), col("l_orderkey") % 7).as("m"),
            struct(col("l_suppkey").as("a"), col("l_linestatus").as("b"))
              .as("st"))
          .write.format("graft-avro").mode("overwrite").save(p)
      }
      // dump casts (decimal->double, date->timestamp): the avro artifact
      // itself stores DECIMAL(12,2) and DATE logical types — the lossless
      // round trip through those codecs is still what's being hash-gated.
      // pandas reads a parquet decimal as python Decimal objects and a
      // parquet date as date objects, while the DuckDB oracle's .df()
      // yields float64/datetime64 — cell-equal but dtype-hash-different
      // under the driver's comparator (the r11 red-row mechanism, same
      // lesson as ingest_lineitem in round 1)
      s.read.format("graft-avro").load(path)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("qty_dec").cast("double").as("qty_dec"),
          col("rflag_n"), col("l_shipdate"),
          col("ship_day").cast("timestamp").as("ship_day"), col("even"),
          col("l_extendedprice"),
          array_join(transform(col("arr"), _.cast("string")), ",")
            .as("arr_s"),
          element_at(col("m"), "ln").as("m_ln"),
          element_at(col("m"), "ok7").as("m_ok7"),
          col("st.a").as("st_a"), col("st.b").as("st_b"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- CSV ingestion end-to-end through the facade (reference
    //      db.go:27 extension-derived format; SURVEY §1.2 "schema
    //      inference = inferSchema"): write a lineitem slice as
    //      header'd CSV ONCE per sf dir (crash-safe annIndex staging),
    //      read it back via the full Pipeline.ingest path (facade read
    //      + inferSchema + target-schema align/cast), hash-gate against
    //      the parquet recomputation. Text round trips for
    //      long/int/double/string/timestamp plus CSV null encoding ----
    "q_csv_ingest" -> ((s, dir) => {
      val path = annIndex("csv_rt", dir) { p =>
        t(s, dir, "lineitem")
          .where(col("l_orderkey") % 40 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"),
            when(col("l_returnflag") === "A", lit(null).cast("string"))
              .otherwise(col("l_returnflag")).as("rflag_n"),
            col("l_shipdate"))
          .coalesce(4)
          .write.option("header", "true").mode("overwrite").csv(p)
      }
      Pipeline.ingest(s, JobSpec(
          source = path, target = "lineitem_csv",
          format = Some(SourceFormat.Csv),
          targetSchemaDdl = Some(
            "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
            "rflag_n STRING, l_shipdate TIMESTAMP")))
        // (l_orderkey, l_linenumber) is not unique — total order over
        // every column; Spark ASC is NULLS FIRST, oracle says so too
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("rflag_n"), col("l_shipdate"))
    }),

    // ---- JSON ingestion end-to-end through the facade: JSON-lines
    //      fixture with nested struct + array + omitted-null fields,
    //      read back through Readers.read (schema inference over
    //      nesting), flattened and hash-gated like q_avro_roundtrip ----
    "q_json_ingest" -> ((s, dir) => {
      val path = annIndex("json_rt", dir) { p =>
        t(s, dir, "lineitem")
          .where(col("l_orderkey") % 40 === 1)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"),
            when(col("l_returnflag") === "A", lit(null).cast("string"))
              .otherwise(col("l_returnflag")).as("rflag_n"),
            col("l_shipdate"),
            struct(col("l_suppkey").as("a"), col("l_linestatus").as("b"))
              .as("st"),
            array(col("l_linenumber").cast("long"), col("l_orderkey") % 10)
              .as("arr"))
          .coalesce(4)
          .write.mode("overwrite").json(p)
      }
      Readers.read(s, JobSpec(source = path, target = "lineitem_json",
          format = Some(SourceFormat.Json)))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("rflag_n"),
          // JSON carries timestamps as ISO-8601 text; the cast back is
          // exact under the UTC session tz
          col("l_shipdate").cast("timestamp").as("l_shipdate"),
          col("st.a").as("st_a"), col("st.b").as("st_b"),
          array_join(transform(col("arr"), _.cast("string")), ",")
            .as("arr_s"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("st_a"),
          col("st_b"), col("arr_s"), col("l_extendedprice"),
          col("rflag_n"), col("l_shipdate"))
    }),

    // ---- ORC ingestion end-to-end: the remaining self-describing
    //      columnar format in the facade (SourceFormat.Orc), written
    //      once per sf dir and read back through Pipeline.ingest with
    //      a target-schema align — closes the facade's format matrix
    //      (parquet/csv/json/orc/avro/iceberg all hash-gated) ----
    "q_orc_ingest" -> ((s, dir) => {
      val path = annIndex("orc_rt", dir) { p =>
        t(s, dir, "lineitem")
          .where(col("l_orderkey") % 40 === 2)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"),
            when(col("l_returnflag") === "A", lit(null).cast("string"))
              .otherwise(col("l_returnflag")).as("rflag_n"),
            col("l_shipdate"))
          .coalesce(4)
          .write.mode("overwrite").orc(p)
      }
      Pipeline.ingest(s, JobSpec(
          source = path, target = "lineitem_orc",
          format = Some(SourceFormat.Orc),
          targetSchemaDdl = Some(
            "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
            "rflag_n STRING, l_shipdate TIMESTAMP")))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("rflag_n"), col("l_shipdate"))
    }),

    // ---- Iceberg table-format ingestion (reference README.md:11): a
    //      lineitem slice composed as a REAL v1 Iceberg table ONCE per
    //      sf dir (metadata JSON + Avro manifest list/manifests +
    //      identity-partitioned parquet data files — all public spec,
    //      graft.sources.Iceberg), read back through the facade's
    //      metadata walk and hash-gated vs the parquet recomputation ----
    "q_iceberg_scan" -> ((s, dir) => {
      val path = annIndex("iceberg_rt", dir) { p =>
        graft.sources.Iceberg.writeTable(
          t(s, dir, "lineitem")
            .where(col("l_orderkey") % 60 === 0)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("l_returnflag"), col("l_shipdate")),
          p, "l_returnflag")
      }
      Readers.read(s, JobSpec(source = path, target = "lineitem_ice",
          format = Some(SourceFormat.Iceberg)))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
    }),

    // ---- Iceberg metadata-only partition pruning: the same table
    //      probed for ONE identity-partition value — manifests prune
    //      against the manifest list's binary bound summaries and
    //      files against per-entry partition values BEFORE any data
    //      file opens (IcebergSpec pins the strict-subset law); the
    //      oracle recomputes the partition slice from parquet ----
    "q_iceberg_prune" -> ((s, dir) => {
      val path = annIndex("iceberg_rt", dir) { p =>
        graft.sources.Iceberg.writeTable(
          t(s, dir, "lineitem")
            .where(col("l_orderkey") % 60 === 0)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("l_returnflag"), col("l_shipdate")),
          p, "l_returnflag")
      }
      graft.sources.Iceberg.scan(s, path, partitionEq = Some("R"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
    }),

    // ---- Iceberg SNAPSHOT APPEND: build snapshot 1 from half the
    //      slice, appendToTable the other half as snapshot 2 (new
    //      manifests beside the old, prior manifests REUSED in the new
    //      manifest list — the spec's append pattern); the current-
    //      snapshot scan equals the union, sharing q_iceberg_scan's
    //      oracle verbatim ----
    "q_iceberg_append" -> ((s, dir) => {
      val path = annIndex("iceberg_app", dir) { p =>
        val slice = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_returnflag"), col("l_shipdate"))
        graft.sources.Iceberg.writeTable(
          slice.where(col("l_orderkey") % 120 === 0), p, "l_returnflag")
        graft.sources.Iceberg.appendToTable(
          slice.where(col("l_orderkey") % 60 === 0 &&
            col("l_orderkey") % 120 =!= 0), p)
      }
      Readers.read(s, JobSpec(source = path, target = "lineitem_ice2",
          format = Some(SourceFormat.Iceberg)))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
    }),

    // ---- Iceberg TIME TRAVEL: the same two-snapshot table read as-of
    //      snapshot 1 — every snapshot's manifest list stays
    //      addressable in the metadata, so reading the pre-append
    //      table is picking its snapshot id, no data movement; the
    //      oracle recomputes the build shard alone ----
    "q_iceberg_timetravel" -> ((s, dir) => {
      val path = annIndex("iceberg_app", dir) { p =>
        val slice = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_returnflag"), col("l_shipdate"))
        graft.sources.Iceberg.writeTable(
          slice.where(col("l_orderkey") % 120 === 0), p, "l_returnflag")
        graft.sources.Iceberg.appendToTable(
          slice.where(col("l_orderkey") % 60 === 0 &&
            col("l_orderkey") % 120 =!= 0), p)
      }
      graft.sources.Iceberg.scan(s, path, asOf = Some(1L))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
    }),

    // ---- Iceberg COLUMN-STATS file skipping: the table composed with
    //      sort clustering (repartitionByRange on l_orderkey), so each
    //      data file's footer-derived [lower, upper] bounds — written
    //      into the manifests' spec stats maps — cover disjoint key
    //      windows; a range predicate opens only overlapping files
    //      (strict-subset law in IcebergSpec) and the row filter makes
    //      the result exact ----
    "q_iceberg_stats_prune" -> ((s, dir) => {
      val path = annIndex("iceberg_sorted", dir) { p =>
        graft.sources.Iceberg.writeTable(
          t(s, dir, "lineitem")
            .where(col("l_orderkey") % 60 === 0)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("l_returnflag"), col("l_shipdate")),
          p, "l_returnflag", sortBy = Some("l_orderkey"))
      }
      graft.sources.Iceberg.scan(s, path,
          colRange = Some(("l_orderkey", 1000L, 15000L)))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
    }),

    // ---- Iceberg MULTI-FIELD partition pruning: a table identity-
    //      partitioned on TWO columns, probed with a conjunctive
    //      equality map — manifests prune on both fields' bound
    //      windows, files on both partition values (f_both = f_1 ∩ f_2
    //      law in IcebergSpec); oracle recomputes the double slice ----
    "q_iceberg_multi" -> ((s, dir) => {
      val path = annIndex("iceberg_multi", dir) { p =>
        graft.sources.Iceberg.writeTablePartitioned(
          t(s, dir, "lineitem")
            .where(col("l_orderkey") % 30 === 0)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("l_returnflag"),
              (col("l_linenumber") % 3).cast("long").as("bucket")),
          p, Seq("l_returnflag", "bucket"))
      }
      graft.sources.Iceberg.scan(s, path,
          partitionEqs = Map("l_returnflag" -> "R", "bucket" -> "1"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("bucket"))
    }),

    // ---- Iceberg FIELD-ID column resolution (interop: tables whose
    //      ids are not position+1 and whose columns were renamed): the
    //      table composes with NON-CONTIGUOUS field ids, l_quantity is
    //      renamed to qty METADATA-ONLY (same id, no file rewritten),
    //      and a post-rename append writes name-mapped files — the
    //      scan resolves every column by id through the spec's
    //      schema.name-mapping.default and returns the union under the
    //      current display names ----
    "q_iceberg_fieldid" -> ((s, dir) => {
      val path = annIndex("iceberg_fieldid", dir) { p =>
        val slice = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_returnflag"))
        graft.sources.Iceberg.writeTablePartitioned(
          slice.where(col("l_orderkey") % 60 === 0), p,
          Seq("l_returnflag"),
          fieldIdOf = Map("l_orderkey" -> 10, "l_linenumber" -> 27,
            "l_quantity" -> 31, "l_returnflag" -> 44))
        graft.sources.Iceberg.renameColumn(p, "l_quantity", "qty")
        graft.sources.Iceberg.appendToTable(
          slice.where(col("l_orderkey") % 30 === 0 &&
              col("l_orderkey") % 60 =!= 0)
            .withColumnRenamed("l_quantity", "qty"), p)
      }
      graft.sources.Iceberg.scan(s, path)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty"),
          col("l_returnflag"))
    }),

    // ---- Iceberg v2 ROW-LEVEL DELETE (position deletes, merge-on-
    //      read): deleteWhere records (file, pos) targets in spec
    //      delete files and commits a DELETE snapshot — no data file
    //      rewritten; the scan anti-joins on _metadata.row_index, all
    //      distributed. The oracle recomputes the anti-joined table ----
    "q_iceberg_delete" -> ((s, dir) => {
      val path = annIndex("iceberg_del", dir) { p =>
        graft.sources.Iceberg.writeTable(
          t(s, dir, "lineitem")
            .where(col("l_orderkey") % 60 === 0)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("l_returnflag"), col("l_shipdate")),
          p, "l_returnflag")
        graft.sources.Iceberg.deleteWhere(s, p, col("l_quantity") > 25.0)
      }
      graft.sources.Iceberg.scan(s, path)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
    }),

    // ---- Iceberg COMPACTION (rewrite_data_files): the same
    //      build+delete as q_iceberg_delete, then compactTable rewrites
    //      the table content — accumulated position deletes APPLIED
    //      into fresh merged files, committed as a REPLACE snapshot
    //      (priors stay travelable; expiry GCs them). Scan result is
    //      invariant, so the oracle is q_iceberg_delete's — which is
    //      the point: maintenance ops never change answers ----
    "q_iceberg_compact" -> ((s, dir) => {
      val path = annIndex("iceberg_cmp", dir) { p =>
        graft.sources.Iceberg.writeTable(
          t(s, dir, "lineitem")
            .where(col("l_orderkey") % 60 === 0)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("l_returnflag"), col("l_shipdate")),
          p, "l_returnflag", sortBy = Some("l_orderkey"))
        graft.sources.Iceberg.deleteWhere(s, p, col("l_quantity") > 25.0)
        graft.sources.Iceberg.compactTable(s, p)
      }
      graft.sources.Iceberg.scan(s, path)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
    }),

    // ---- Iceberg ADD COLUMN (metadata-only schema evolution): the
    //      new field gets the next field id and NO physical presence in
    //      existing files — the scan reads with the table schema
    //      supplied, so pre-evolution files surface NULLs while the
    //      post-evolution append carries values ----
    "q_iceberg_addcol" -> ((s, dir) => {
      val path = annIndex("iceberg_addcol", dir) { p =>
        val slice = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"))
        graft.sources.Iceberg.writeTable(
          slice.where(col("l_orderkey") % 60 === 0), p, "l_returnflag")
        graft.sources.Iceberg.addColumn(p, "note", "string")
        graft.sources.Iceberg.appendToTable(
          slice.where(col("l_orderkey") % 60 === 30)
            .withColumn("note", lit("batch2")), p)
      }
      graft.sources.Iceberg.scan(s, path)
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("note"))
    }),

    // ---- Iceberg UPSERT (MERGE INTO at the table-format layer): one
    //      snapshot equality-deletes the incoming keys AND appends the
    //      incoming rows; the v2 sequence rule does the merge — the
    //      delete applies to strictly-older files while the upsert's
    //      own rows (same sequence) survive it. Updated versions of
    //      the %120 slice replace their originals, the %60=30 slice
    //      inserts, everything else persists; the oracle recomputes
    //      latest-wins closed-form ----
    "q_iceberg_upsert" -> ((s, dir) => {
      val path = annIndex("iceberg_ups", dir) { p =>
        val slice = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_returnflag"))
        graft.sources.Iceberg.writeTable(
          slice.where(col("l_orderkey") % 60 === 0), p, "l_returnflag")
        graft.sources.Iceberg.upsertTable(
          slice.where(col("l_orderkey") % 120 === 0)
            .withColumn("l_quantity", col("l_quantity") + 100.0)
            .unionByName(slice.where(col("l_orderkey") % 60 === 30)),
          p, keyCols = Seq("l_orderkey", "l_linenumber"))
      }
      graft.sources.Iceberg.scan(s, path)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
    }),

    // ---- Iceberg LIFECYCLE CAPSTONE: every table-format operation
    //      composed on ONE table — build, snapshot append, keyed
    //      UPSERT (equality delete + append in one snapshot, sequence
    //      rule merging), predicate DELETE (position deletes over the
    //      merged view), then COMPACTION folding the whole delete tier
    //      into clean files. Each stage is individually oracle-gated
    //      elsewhere; this row proves the COMPOSITION — five snapshots
    //      of mixed kinds reading back as one closed-form answer ----
    "q_lakehouse_pipeline" -> ((s, dir) => {
      val path = annIndex("iceberg_e2e", dir) { p =>
        val slice = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_returnflag"))
        graft.sources.Iceberg.writeTable(
          slice.where(col("l_orderkey") % 60 === 0), p, "l_returnflag")
        graft.sources.Iceberg.appendToTable(
          slice.where(col("l_orderkey") % 60 === 30), p)
        graft.sources.Iceberg.upsertTable(
          slice.where(col("l_orderkey") % 120 === 0)
            .withColumn("l_quantity", col("l_quantity") + 100.0),
          p, keyCols = Seq("l_orderkey", "l_linenumber"))
        graft.sources.Iceberg.deleteWhere(s, p,
          col("l_quantity") <= 5.0)
        graft.sources.Iceberg.compactTable(s, p)
      }
      graft.sources.Iceberg.scan(s, path)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
    }),

    // ---- Iceberg TYPE PROMOTION (metadata-only schema evolution):
    //      the table builds with INT32/FLOAT columns, promoteColumn
    //      widens them to long/double (int->long, float->double — the
    //      spec's sanctioned promotions), and a post-promotion append
    //      writes the wide types natively. Pre-promotion parquet files
    //      read back AS the widened type through the reader's widening
    //      conversion — no file rewritten; the oracle replays the
    //      widening closed-form ----
    "q_iceberg_promote" -> ((s, dir) => {
      val path = annIndex("iceberg_promo", dir) { p =>
        val slice = t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            col("l_linenumber").cast("int").as("l_linenumber"),
            col("l_quantity").cast("float").as("l_quantity"),
            col("l_returnflag"))
        graft.sources.Iceberg.writeTable(
          slice.where(col("l_orderkey") % 60 === 0), p, "l_returnflag")
        graft.sources.Iceberg.promoteColumn(p, "l_linenumber", "long")
        graft.sources.Iceberg.promoteColumn(p, "l_quantity", "double")
        graft.sources.Iceberg.appendToTable(
          slice.where(col("l_orderkey") % 60 === 30)
            .select(col("l_orderkey"),
              col("l_linenumber").cast("long").as("l_linenumber"),
              col("l_quantity").cast("double").as("l_quantity"),
              col("l_returnflag")), p)
      }
      graft.sources.Iceberg.scan(s, path)
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
    }),

    // ---- Iceberg BUCKET[16] partition transform: the table lays out
    //      by the spec's murmur3 bucket of the order key (write-side
    //      codegen'd expression, vector-pinned), and a key probe maps
    //      through the SAME hash driver-side to prune manifests and
    //      files to one bucket before any data file opens; the scan's
    //      row filter narrows the bucket to the key (transforms are
    //      coarser than identity). Oracle recomputes the key slice ----
    "q_iceberg_bucket" -> ((s, dir) => {
      val path = annIndex("iceberg_bucket", dir) { p =>
        graft.sources.Iceberg.writeTableTransformed(
          t(s, dir, "lineitem")
            .where(col("l_orderkey") % 20 === 0)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("l_returnflag")),
          p, Seq(("l_orderkey", "bucket[16]")))
      }
      // 1-row min census picks a key present at every SF — the same
      // closed form the oracle derives
      val key = t(s, dir, "lineitem")
        .where(col("l_orderkey") % 20 === 0)
        .agg(min(col("l_orderkey"))).collect().head.getLong(0)
      graft.sources.Iceberg.scan(s, path,
          partitionEqs = Map("l_orderkey" -> key.toString))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
    }),

    // ---- Iceberg DAY partition transform: orders lay out by
    //      day(o_orderdate) (ordinal arithmetic in the one write job),
    //      and a SOURCE RANGE probe prunes through the order-
    //      preserving transform — [lo, hi] maps to [day(lo), day(hi)]
    //      against the manifest-list bound summaries, so a two-week
    //      window opens two weeks of manifests, not ninety days'.
    //      The scan's row filter makes the window exact ----
    "q_iceberg_days" -> ((s, dir) => {
      val path = annIndex("iceberg_days", dir) { p =>
        graft.sources.Iceberg.writeTableTransformed(
          t(s, dir, "orders")
            .where(col("o_orderdate") <
              lit("1995-04-01").cast("timestamp"))
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), col("o_orderdate")),
          p, Seq(("o_orderdate", "day")))
      }
      graft.sources.Iceberg.scan(s, path,
          sourceRange = Some(("o_orderdate", "1995-02-01", "1995-02-14")))
        .orderBy(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"))
    }),

    // ---- Iceberg TRUNCATE[W] partition transform: the table lays out
    //      by 4000-wide key windows (truncate is ORDER-PRESERVING, so
    //      both point probes and source ranges prune through it); a
    //      key range spanning two windows opens two manifests' worth
    //      of files and the row filter makes the window exact ----
    "q_iceberg_truncate" -> ((s, dir) => {
      val path = annIndex("iceberg_trunc", dir) { p =>
        graft.sources.Iceberg.writeTableTransformed(
          t(s, dir, "lineitem")
            .where(col("l_orderkey") % 20 === 0)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("l_returnflag")),
          p, Seq(("l_orderkey", "truncate[4000]")))
      }
      graft.sources.Iceberg.scan(s, path,
          sourceRange = Some(("l_orderkey", "2000", "9999")))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
    }),

    // ---- Iceberg PARTITION SPEC EVOLUTION: the table starts
    //      identity(o_orderstatus), re-partitions to day(o_orderdate)
    //      METADATA-ONLY (no file rewritten), and appends land under
    //      the new layout. A day-window probe prunes the NEW spec's
    //      manifests against their day bounds while the OLD spec's
    //      ride through a residual row filter — per-manifest
    //      partition_spec_id resolution, the real lakehouse
    //      re-partitioning story ----
    "q_iceberg_evolve" -> ((s, dir) => {
      val path = annIndex("iceberg_evolve", dir) { p =>
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate"))
        graft.sources.Iceberg.writeTable(
          ord.where(col("o_orderkey") % 4 === 0), p, "o_orderstatus")
        graft.sources.Iceberg.evolvePartitionSpec(
          p, Seq(("o_orderdate", "day")))
        graft.sources.Iceberg.appendToTable(
          ord.where(col("o_orderkey") % 4 === 1), p)
      }
      graft.sources.Iceberg.scan(s, path,
          sourceRange = Some(("o_orderdate", "1995-02-01", "1995-02-14")))
        .orderBy(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    }),

    // ---- Iceberg BRANCH refs, write-audit-publish: two ingest
    //      shards stage on a branch (main readers see NONE of them),
    //      the branch head is the audit scan, and fastForward
    //      publishes the audited state in one atomic metadata flip —
    //      the spec's staging pattern for production ingest ----
    "q_iceberg_branch" -> ((s, dir) => {
      val path = annIndex("iceberg_branch", dir) { p =>
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_returnflag"))
        graft.sources.Iceberg.writeTable(
          li.where(col("l_orderkey") % 12 === 0), p, "l_returnflag")
        graft.sources.Iceberg.createBranch(p, "staging")
        graft.sources.Iceberg.appendToTable(
          li.where(col("l_orderkey") % 12 === 1), p,
          branch = Some("staging"))
        graft.sources.Iceberg.appendToTable(
          li.where(col("l_orderkey") % 12 === 2), p,
          branch = Some("staging"))
        // audit passes -> publish; main now serves all three shards
        graft.sources.Iceberg.fastForward(p, "staging")
      }
      graft.sources.Iceberg.scan(s, path,
          partitionEqs = Map("l_returnflag" -> "A"))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
    }),

    // ---- config-driven LAKEHOUSE ELT, end to end: one YAML lands a
    //      full table into a bucket[16]-partitioned Iceberg SINK (the
    //      reference's config-to-jobs identity extended to the
    //      table-format target), the maintenance: section compacts
    //      and tags it, and the probe prunes through the bucket
    //      transform — jobs -> iceberg sink -> maintenance -> scan,
    //      every step from the config file ----
    "q_yaml_lakehouse" -> ((s, dir) => {
      val path = annIndex("yaml_lakehouse", dir) { p =>
        val yaml =
          s"""jobs:
             |  - source: $dir/orders.parquet
             |    target: orders_lake
             |sink:
             |  format: iceberg
             |  path: $p
             |  partition_by: ["o_custkey:bucket[16]"]
             |maintenance:
             |  - table: $p/orders_lake
             |    op: compact
             |    sort_by: o_orderkey
             |  - table: $p/orders_lake
             |    op: tag
             |    name: landed
             |""".stripMargin
        val cfg = graft.engine.EngineConfig.fromAnyYaml(yaml)
        val res = graft.engine.Pipeline.run(s, cfg)
        require(res.forall(_.ok), "lakehouse ELT failed: " +
          res.flatMap(_.error).map(_.getMessage).mkString("; "))
        val mres = graft.engine.Maintenance.run(s, cfg.maintenance)
        require(mres.forall(_.ok), "maintenance failed: " +
          mres.flatMap(_.error).map(_.getMessage).mkString("; "))
      }
      graft.sources.Iceberg.scan(s, s"$path/orders_lake",
          partitionEqs = Map("o_custkey" -> "37"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- string aggregation (listagg shape, sorted for determinism) ----
    "q_stringagg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- statistical moments in ONE pass via exact decimal sums
    //      (sum-of-squares identity: partial-aggregation-friendly and
    //      engine-portable, unlike built-in stddev's float accumulation) ----
    "q_stats" -> ((s, dir) => {
      val x = col("l_quantity").cast("decimal(18,2)")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          graft.plans.DecSum.asDouble(col("l_quantity"), 2)
            .as("sum_x"),
          sum((x * x).cast("decimal(28,4)")).cast("double").as("sum_x2"))
        .withColumn("mean", col("sum_x") / col("n"))
        .withColumn("variance",
          (col("sum_x2") - col("sum_x") * col("sum_x") / col("n")) /
            (col("n") - 1))
        .select(col("l_returnflag"), col("n"), col("mean"), col("variance"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- bivariate statistics in ONE exact pass: built-in corr/covar
    //      float-accumulate in partition order (not oracle-stable); here
    //      the five sums are exact decimals and the closed forms combine
    //      them in the identical IEEE expression on both engines ----
    "q_corr" -> ((s, dir) => {
      val x = col("l_quantity").cast("decimal(18,2)")
      val y = col("l_discount").cast("decimal(18,2)")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          graft.plans.DecSum.asDouble(col("l_quantity"), 2).as("sx"),
          graft.plans.DecSum.asDouble(col("l_discount"), 2).as("sy"),
          sum((x * x).cast("decimal(28,4)")).cast("double").as("sxx"),
          sum((y * y).cast("decimal(28,4)")).cast("double").as("syy"),
          sum((x * y).cast("decimal(28,4)")).cast("double").as("sxy"))
        .withColumn("covar_pop",
          (col("sxy") - col("sx") * col("sy") / col("n")) / col("n"))
        .withColumn("corr",
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
        .select(col("l_returnflag"), col("n"),
          (floor(col("covar_pop") * 1e6 + 0.5) / 1e6).as("covar_pop"),
          (floor(col("corr") * 1e6 + 0.5) / 1e6).as("corr"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- histogram / binning (floor arithmetic — engine-portable) ----
    "q_histogram" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy((floor(col("o_totalprice") / 50000) * 50000)
          .cast("long").as("bin_lo"))
        .agg(count(lit(1)).as("n"),
          graft.plans.DecSum.asDouble(col("o_totalprice"), 2)
            .as("bin_total"))
        .orderBy(col("bin_lo"))
    }),

    // ---- data profiling: null / distinct / extrema audit per column ----
    "q_profile" -> ((s, dir) => {
      t(s, dir, "orders")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("o_custkey")).as("nn_custkey"),
          count_distinct(col("o_orderstatus")).as("d_status"),
          count_distinct(col("o_orderpriority")).as("d_priority"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_orderdate")).as("max_date"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    }),

    // ---- CDC upsert (merge) emulation: changes override base rows by
    //      key, new keys insert — full outer join + coalesce, the
    //      append-only-sink-compatible merge shape ----
    "q_upsert" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val base = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val changes = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("c_key"),
          lit("U").as("c_status"),
          (col("o_totalprice") + 1000.0).as("c_price"))
      base.join(changes, col("o_orderkey") === col("c_key"), "full_outer")
        .select(
          coalesce(col("o_orderkey"), col("c_key")).as("o_orderkey"),
          coalesce(col("c_status"), col("o_orderstatus"))
            .as("o_orderstatus"),
          coalesce(col("c_price"), col("o_totalprice")).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- schema-evolution union: unionByName with missing columns ----
    "q_union_evolve" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val old = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val newer = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
      old.unionByName(newer, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    }),

    // ---- filter / projection (pushdown exercised) ----
    "q_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1997-02-01").cast("timestamp") &&
                col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                 col("l_extendedprice"))
    }),

    // ---- aggregation: TPC-H Q1 shape ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          graft.plans.DecSum.asDouble(col("l_quantity"), 2)
            .as("sum_qty"),
          graft.plans.DecSum.asDouble(col("l_extendedprice"), 2)
            .as("sum_base_price"),
          graft.plans.DecSum.asDouble(
            col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("sum_disc_price"),
          (graft.plans.DecSum.asDouble(col("l_quantity"), 2) /
            count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- join: star join with broadcast dims (TPC-H Q5 shape) ----
    "q_join_star" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o  = t(s, dir, "orders")
      val c  = t(s, dir, "customer")
      val n  = t(s, dir, "nation")
      val r  = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          graft.plans.DecSum.asDouble(
            col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // ---- sort + limit: distributed top-k (TakeOrderedAndProject) ----
    "q_topk" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
                 col("l_linenumber"))
        .limit(100)
    }),

    // ---- join: left semi (EXISTS) ----
    "q_join_semi" -> ((s, dir) => {
      val o  = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- join: left anti (NOT EXISTS) ----
    "q_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ---- join: left outer + agg (zero-preserving counts) ----
    "q_join_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(graft.plans.DecSum.asDouble(col("o_totalprice"), 2),
            lit(0.0)).as("total_spent"))
        .orderBy(col("c_custkey"))
    }),

    // ---- aggregation: exact distinct ----
    "q_agg_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- aggregation: rollup (grouping sets) ----
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          graft.plans.DecSum.asDouble(col("l_quantity"), 2)
            .as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
                 col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first)
    }),

    // ---- aggregation: cube (all grouping-set combinations) ----
    "q_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          graft.plans.DecSum.asDouble(col("l_quantity"), 2)
            .as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
                 col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first)
    }),

    // ---- SQL API parity: TPC-H Q3 shape via spark.sql over views ----
    "q_sql_tpch3" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(
        """SELECT o_orderkey,
          |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
          |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
          |  o_orderdate, o_orderpriority
          |FROM customer, orders, lineitem
          |WHERE c_mktsegment = 'BUILDING'
          |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          |GROUP BY o_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, o_orderkey
          |LIMIT 20""".stripMargin)
    }),

    // ---- SQL API parity: TPC-H Q18 shape (large-volume orders) — the
    //      HAVING subquery is planned as an aggregate + semi join;
    //      l_quantity is integral so double sums are order-independent.
    //      LIMIT is deterministic: unique o_orderkey ends the ORDER BY ----
    "q_sql_tpch18" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch18Sql)
    }),

    // ---- SQL API parity: TPC-H Q12 shape (shipping priority counts —
    //      integer CASE-sums, the conditional-aggregation idiom) ----
    "q_sql_tpch12" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch12Sql)
    }),

    // ---- SQL API parity: TPC-H Q5 shape (local-supplier volume) — a
    //      6-table join; Catalyst broadcasts the four dimension tables
    //      (region/nation filter first, a true selective star probe) ----
    "q_sql_tpch5" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch5Sql)
    }),

    // ---- SQL API parity: TPC-H Q6 shape (revenue-change forecast) —
    //      the pure filter+aggregate: every predicate reaches the
    //      parquet scan (row-group pruning on l_shipdate) and the plan
    //      is scan -> two-phase aggregate, one single-row exchange ----
    "q_sql_tpch6" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch6Sql)
    }),

    // ---- SQL API parity: TPC-H Q4 shape (order-priority checking) —
    //      EXISTS decorrelated to a left-semi join under an aggregate;
    //      pure integer counts. The synthetic lineitem has no
    //      l_commitdate/l_receiptdate; the l_quantity predicate stands
    //      in, preserving the correlated-EXISTS-with-filter shape ----
    "q_sql_tpch4" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch4Sql)
    }),

    // ---- SQL API parity: TPC-H Q14 shape (promotion effect) — the
    //      conditional-share idiom: two exact-decimal CASE-sums over a
    //      broadcast part join, combined into one ratio ----
    "q_sql_tpch14" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch14Sql)
    }),

    // ---- SQL API parity: TPC-H Q10 shape (returned-item reporting) —
    //      fact-fact join under a selective date probe, nation
    //      broadcast, top-20 by exact decimal revenue planned as a
    //      distributed top-k (TakeOrderedAndProject) ----
    "q_sql_tpch10" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch10Sql)
    }),

    // ---- window: range frame (value-based bounds) ----
    "q_window_range" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice"))
        .rangeBetween(-1000L, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 10)
        .withColumn("near_qty",
          graft.plans.DecSum.asDouble(col("l_quantity"), 2).over(w))
        .withColumn("near_n", count(lit(1)).over(w))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("near_qty"), col("near_n"))
        .orderBy(col("l_suppkey"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- window: ranked top-n per group ----
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
                col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rn"))
    }),

    // ---- window: distribution functions (ntile / percent_rank /
    //      cume_dist) — ordering made total by the orderkey tie-break ----
    "q_window_dist" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), col("quartile"), col("pct_rank"), col("cume"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),

    // ---- window: first_value / nth_value over a running frame ----
    "q_window_first" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 200)
        .withColumn("first_key", first(col("o_orderkey")).over(w))
        .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("first_key"),
          col("second_key"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- window: lag/lead over event time ----
    "q_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .filter(col("prev_price").isNotNull)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
                col("prev_price"),
                (col("o_totalprice") - col("prev_price")).as("delta"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- window: running frame (rows unbounded preceding) ----
    "q_window_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 10)
        .withColumn("running_qty",
          graft.plans.DecSum.asDouble(col("l_quantity"), 2).over(w))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
                col("l_quantity"), col("running_qty"))
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
                 col("l_linenumber"))
        .drop("l_shipdate")
    }),

    // ---- set operations: intersect / except / union ----
    "q_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      val both  = f.intersect(p).withColumn("tag", lit("both"))
      val onlyF = f.except(p).withColumn("tag", lit("only_f"))
      val onlyP = p.except(f).withColumn("tag", lit("only_p"))
      both.unionAll(onlyF).unionAll(onlyP)
        .select(col("tag"), col("o_custkey"))
        .orderBy(col("tag"), col("o_custkey"))
    }),

    // ---- typed top-k UDAF: bounded-state per-group top-k (the
    //      map-side-combine alternative to the window form) ----
    "q_topk_agg" -> ((s, dir) => {
      import s.implicits._
      val ds = t(s, dir, "orders")
        .select(col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey"))
        .as[(String, Long, Long)]
      val topk = new graft.functions.TopKAggregator(3).toColumn
      ds.groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(topk.name("topk"))
        .flatMap { case (st, items) =>
          items.zipWithIndex.map { case ((cents, okey), i) =>
            (st, i + 1, okey, cents) } }
        .toDF("o_orderstatus", "rnk", "o_orderkey", "cents")
        .orderBy(col("o_orderstatus"), col("rnk"))
    }),

    // ---- set operations: multiset (ALL) variants ----
    "q_setops_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      def summarize(df: DataFrame, tag: String): DataFrame =
        df.agg(count(lit(1)).as("n"),
            count_distinct(col("o_custkey")).as("nd"))
          .select(lit(tag).as("tag"), col("n"), col("nd"))
      summarize(f.exceptAll(p), "except_all")
        .unionAll(summarize(f.intersectAll(p), "inter_all"))
        .orderBy(col("tag"))
    }),

    // ---- scalar functions: string ----
    "q_scalar_str" -> ((s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          length(col("p_name")).as("name_len"),
          (col("p_size") % 7).as("size_mod"),
          floor(col("p_retailprice")).cast("long").as("price_floor"),
          translate(col("p_brand"), "AEIOU", "aeiou").as("brand_tr"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          reverse(col("p_name")).as("name_rev"))
        .orderBy(col("p_partkey"))
    }),

    // ---- scalar functions: regex family (extract / match / split_part) ----
    "q_scalar_regex" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
          col("text").rlike("[0-9]").as("has_digit"),
          split_part(col("text"), lit(" "), lit(2)).as("second_word"),
          size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
            .cast("long").as("vowel_runs"))
        .orderBy(col("doc_id"))
    }),

    // ---- scalar functions: date/time ----
    "q_scalar_date" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"),
          dayofmonth(col("o_orderdate")).as("o_day"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(col("o_orderdate").cast("date"),
                   lit("1995-01-01").cast("date")).as("days_since"),
          // date-typed results go out as timestamps: pandas reads parquet
          // date32 as object(datetime.date) while DuckDB's .df() gives
          // datetime64 for both DATE and TIMESTAMP — timestamp on both
          // sides is the only dtype-stable representation of a date value
          last_day(col("o_orderdate").cast("date")).cast("timestamp")
            .as("month_end"),
          date_add(col("o_orderdate").cast("date"), 30).cast("timestamp")
            .as("plus30"),
          add_months(col("o_orderdate").cast("date"), 2).cast("timestamp")
            .as("plus2m"),
          (weekday(col("o_orderdate").cast("date")) + 1).as("isodow"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- scalar functions: arrays (no arithmetic — raw-value parity).
    //      Array-valued results are emitted as scalar columns: the external
    //      comparator sorts cells with pandas, which cannot hash ndarray
    //      cells (CORRECTNESS_r01 'unhashable numpy.ndarray'). ----
    "q_scalar_array" -> ((s, dir) => {
      val sorted = sort_array(col("embedding"))
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).as("n_dims"),
          element_at(col("embedding"), 1).as("first_val"),
          array_max(col("embedding")).as("max_val"),
          array_min(col("embedding")).as("min_val"),
          element_at(sorted, 1).as("low1"),
          element_at(sorted, 2).as("low2"),
          element_at(sorted, 3).as("low3"))
        .orderBy(col("vec_id"))
    }),

    // ---- scalar functions: maps (from_json -> map ops). Key/value lists
    //      are CSV-joined to scalar strings for the external comparator
    //      (sorted first — map iteration order is not a contract). ----
    "q_scalar_map" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")))
        .select(
          col("event_id"),
          array_join(array_sort(map_keys(col("m"))), ",").as("ks"),
          array_join(array_sort(transform(map_values(col("m")),
            v => v.cast("string"))), ",").as("vs"),
          element_at(col("m"), "k").as("k_val"))
        .orderBy(col("event_id"))
    }),

    // ---- scalar functions: misc (nested arrays, conditionals, map
    //      transforms). Array results emitted scalarized: raw floats as
    //      one column per slot (float->string formatting is not
    //      cross-engine stable), quantized longs as a CSV string. ----
    "q_scalar_misc" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          flatten(array(slice(col("embedding"), 1, 2),
            slice(col("embedding"), 3, 2))).as("first4"),
          nullif(col("label"), lit(0)).as("label_nz"),
          nvl2(nullif(col("label"), lit(0)), lit("labeled"), lit("zero"))
            .as("label_kind"),
          map_from_arrays(
            sequence(lit(1), lit(3)).cast("array<int>"),
            slice(col("embedding"), 1, 3)).as("m3"))
        .select(col("vec_id"),
          element_at(col("first4"), 1).as("f1"),
          element_at(col("first4"), 2).as("f2"),
          element_at(col("first4"), 3).as("f3"),
          element_at(col("first4"), 4).as("f4"),
          col("label_nz"), col("label_kind"),
          array_join(transform(
            map_values(transform_values(col("m3"),
              (_, v) => floor(v.cast("double") * 1000).cast("long"))),
            v => v.cast("string")), ",").as("q3"))
        .orderBy(col("vec_id"))
    }),

    // ---- JSON extraction ----
    "q_json" -> ((s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .orderBy(col("event_id"))
    }),

    // ---- Spark 4 VARIANT: the engine-native semi-structured path
    //      (parse once into the binary variant encoding, then typed
    //      field access + schema/type introspection) next to q_json's
    //      per-access string parse — at 100 TB the parse-once
    //      difference is the whole cost of a JSON-heavy scan. Exercises
    //      parse_json, variant_get (typed + cast), try_variant_get on a
    //      missing path (NULL, not error), and schema_of_variant ----
    "q_variant" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("v", parse_json(col("props")))
        .select(
          col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          expr("try_variant_get(v, '$.missing', 'string')").as("m"),
          expr("schema_of_variant(v)").as("sch"),
          (expr("variant_get(v, '$.k', 'bigint')") % 7 === 0)
            .as("k_div7"))
        .orderBy(col("event_id"))
    }),

    // ---- event-time tumbling window (batch; readStream-ready shape) ----
    "q_event_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          graft.plans.DecSum.asDouble(col("value"), 6).as("total_value"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // ---- north star: exact dedup ----
    "q_dedup_exact" -> ((s, dir) => {
      graft.operators.Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // ---- north star: exact n-gram Jaccard near-dup (inverted index) ----
    "q_text_jaccard" -> ((s, dir) => {
      graft.operators.Dedup.jaccardPairs(t(s, dir, "documents"), tau = 0.3)
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- north star: containment near-dup (asymmetric metric — catches
    //      short docs embedded in long ones, invisible to Jaccard) ----
    "q_containment" -> ((s, dir) => {
      graft.operators.Dedup.containmentPairs(t(s, dir, "documents"),
          tau = 0.5)
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- north star: character n-gram Jaccard (tokenization-free).
    //      k=16 spans 2-3 words: on a tiny vocabulary short grams are
    //      ubiquitous and the posting-list join explodes quadratically ----
    "q_chargram_jaccard" -> ((s, dir) => {
      graft.operators.Dedup.charJaccardPairs(
          t(s, dir, "documents"), tau = 0.5, k = 16)
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- north star: near-dup clusters (pairs -> connected components,
    //      the keep-one-per-cluster prerequisite) ----
    "q_dedup_cc" -> ((s, dir) => {
      graft.operators.Dedup.connectedComponents(
          graft.operators.Dedup.jaccardPairs(t(s, dir, "documents"),
            tau = 0.3))
        .orderBy(col("node"))
    }),

    // ---- north star: keep-BEST-per-cluster (longest copy wins) — the
    //      production keep policy; narrow-column argmax, text never
    //      shuffled ----
    "q_dedup_keepbest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.keepBest(docs,
          graft.operators.Dedup.jaccardPairs(docs, tau = 0.3),
          score = col("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star CAPSTONE: full corpus-preparation pipeline —
    //      near-dup dedup (pairs -> components -> keep canonical; on
    //      the driver at this size, Dedup.keepCanonicalJaccard) ->
    //      normalize -> token-count quality gate -> stratified sample ----
    "q_corpus_pipeline" -> ((s, dir) => {
      import graft.operators.{Dedup, Sampling, TextAnalysis}
      val docs = t(s, dir, "documents")
      val deduped = Dedup.keepCanonicalJaccard(docs, tau = 0.3)
      val gated = deduped
        .withColumn("norm_text", TextAnalysis.normalize(col("text")))
        .withColumn("n_tok",
          size(split(col("norm_text"), " ")).cast("long"))
        .filter(col("n_tok").between(20, 200))
      Sampling.stratifiedSample(gated, col("doc_id"), col("lang"),
          rates = Map("en" -> 5), defaultNum = 8, den = 10)
        .select(col("doc_id"), col("lang"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: the SAME capstone pipeline, but driven from a
    //      YAML config (new r10) — the reference's config-to-jobs
    //      identity (config.yaml:9-25 -> utils.go:52-67) extended to
    //      the curation operators. Stage list parses to the exact
    //      operator calls q_corpus_pipeline composes by hand, so this
    //      shares its oracle; PipelineSpec additionally pins
    //      config == code row-for-row ----
    "q_yaml_pipeline" -> ((s, dir) => {
      val yaml =
        s"""pipeline:
           |  source: $dir/documents.parquet
           |  stages:
           |    - op: dedup
           |      tau: 0.3
           |    - op: quality_gate
           |      min_tokens: 20
           |      max_tokens: 200
           |    - op: sample
           |      rates: {en: 5}
           |      default_num: 8
           |      den: 10
           |""".stripMargin
      graft.engine.CurationPipeline.run(s,
          graft.engine.EngineConfig.fromAnyYaml(yaml).pipeline.get)
        .select(col("doc_id"), col("lang"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: MinHash + LSH near-dup ----
    "q_dedup_minhash" -> ((s, dir) => {
      graft.operators.Dedup.minhashPairs(t(s, dir, "documents"), tau = 0.3)
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- north star: MinHash estimator calibration — Broder estimate
    //      vs exact Jaccard per candidate pair, the measurement behind
    //      a production numPerms/bands choice ----
    "q_minhash_calib" -> ((s, dir) => {
      graft.operators.Dedup.minhashCalibration(t(s, dir, "documents"))
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- north star: SimHash near-dup (4x16 banding, exact for d<=3) ----
    "q_dedup_simhash" -> ((s, dir) => {
      graft.operators.Dedup.simhashPairs(t(s, dir, "documents"), maxDist = 3)
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- north star: embedding cosine near-dup (label-blocked) ----
    "q_dedup_embedding" -> ((s, dir) => {
      graft.operators.Dedup.embeddingPairs(
          t(s, dir, "embeddings"), tauNum = 4, tauDen = 10)
        .orderBy(col("v1"), col("v2"))
    }),

    // ---- SemDeDup: cluster-then-compare semantic dedup — kmeans cells
    //      bound the pair enumeration, exact quantized cosine verifies,
    //      components -> min-id canonical ----
    "q_semantic_dedup" -> ((s, dir) => {
      // autoTwoLevel pinned OFF: this oracle replays the EXACT
      // single-level algorithm, so the query must never auto-route to
      // the approximate two-level path at larger gate SFs (the routed
      // regime is oracle-gated separately as q_semantic_dedup2, and
      // DedupSpec locks single == routed == direct at the boundary)
      graft.operators.Dedup.semanticDedup(
          t(s, dir, "embeddings"), nlist = 8, iters = 2,
          tauNum = 4, tauDen = 10, autoTwoLevel = Long.MaxValue)
        .orderBy(col("vec_id"))
    }),

    // ---- the two-level scale path, oracle-gated at its exact corner:
    //      full-corpus sample (sampleFactor covers every test SF), so
    //      training equals single-level; kCoarse=2 super-clusters via
    //      the driver Lloyd; nprobe=1 coarse pick then in-group fine
    //      argmin — the DuckDB twin replays all of it, so the
    //      approximate path's every tie-break is hash-pinned ----
    "q_semantic_dedup2" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      // the oracle twin trains on the FULL corpus, so the Spark side's
      // hash-sampled training must degenerate to it: derive the
      // sample cap from the corpus count so sampleFactor·nlist >= n
      // BY CONSTRUCTION at any SF (when the sample covers the corpus,
      // the salted-hash top-m selection is the identity — same rows,
      // any order), instead of the r12 fixed-cap guard that failed
      // loud at sf1. The production sampled regime stays covered by
      // q_semantic_dedup's auto-router.
      val n = embs.count()
      val sf0 = math.max(1000L, (n + 7) / 8).toInt
      graft.operators.Dedup.semanticDedupTwoLevel(
          embs, nlist = 8, iters = 2,
          tauNum = 4, tauDen = 10, kCoarse = 2, nprobe = 1,
          sampleFactor = sf0, n = n)
        .orderBy(col("vec_id"))
    }),

    // ---- frozen-quantizer semantic dedup: centroids trained on the
    //      STORED half (vec_id < 100), every vector assigned to them —
    //      the batch reference of the streaming incremental law
    //      (EmbStream.semanticDedupIncremental must equal this) ----
    "q_semantic_dedup_frozen" -> ((s, dir) => {
      val all = t(s, dir, "embeddings")
      val cents = graft.operators.Similarity.trainCentroids(
        all.filter(col("vec_id") < 100), 8, 2)
      graft.operators.Dedup.semanticDedupWith(all, cents,
          tauNum = 4, tauDen = 10)
        .orderBy(col("vec_id"))
    }),

    // ---- cross-frame gated cosine pairs (arriving shard x stored
    //      corpus) — the incremental twin's new×stored edge step ----
    "q_emb_pairs_across" -> ((s, dir) => {
      val all = t(s, dir, "embeddings")
      graft.operators.Dedup.embeddingPairsAcross(
          all.filter(col("vec_id") >= 100),
          all.filter(col("vec_id") < 100),
          tauNum = 3, tauDen = 10)
        .orderBy(col("v1"), col("v2"))
    }),

    // ---- per-source quota cap (bounded-heap top-k per domain, never a
    //      window sort over the hot domain) ----
    "q_source_quota" -> ((s, dir) => {
      graft.operators.Curation.sourceQuota(t(s, dir, "documents"), k = 10)
        .orderBy(col("doc_id"))
    }),

    // ---- table data profiling (new r11): per-column row/null/distinct
    //      counts + portable min/max — the data-quality probe an ingest
    //      runs before trusting a new drop (reference R6's sibling:
    //      probe the DATA's shape, not the target's). One UNION branch
    //      per column (columnar scans: same total bytes as one full
    //      pass, hash-agg distincts, sortless min/max — the measured
    //      12x win over the single-Expand multi-distinct form); HLL
    //      swap-in for the 100 TB profile documented at the operator ----
    "q_table_profile" -> ((s, dir) => {
      graft.engine.DataProfile.profile(t(s, dir, "lineitem"))
        .orderBy(col("column"))
    }),

    // ---- the profiler's 100 TB knob, oracle-gated: exact = false
    //      swaps COUNT(DISTINCT) for the HLL sketch (no per-branch
    //      distinct shuffle). The q_approx_distinct device makes the
    //      sketch checkable: compute BOTH, return the exact profile
    //      plus a bounded-error verdict the oracle asserts TRUE ----
    "q_table_profile_approx" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val approx = graft.engine.DataProfile.profile(li, exact = false)
        .select(col("column"), col("n_distinct").as("nd_approx"))
      graft.engine.DataProfile.profile(li)
        .join(approx, Seq("column"))
        .select(col("column"), col("dtype"), col("n_rows"),
          col("n_nulls"), col("n_distinct"), col("min_repr"),
          col("max_repr"),
          (abs(col("nd_approx") - col("n_distinct")).cast("double") <=
            col("n_distinct").cast("double") * 0.05 + lit(10.0))
            .as("approx_within_5pct"))
        .orderBy(col("column"))
    }),

    // ---- URL canonicalization (new r11): the web-ingest normalization
    //      upstream of every URL-keyed operator — case/port/www folds,
    //      fragment + tracking-param strip, bytewise param sort, all
    //      from built-in string/array functions (no library parser);
    //      synthetic URLs exercise every rule arm; the oracle replays
    //      the identical rule chain ----
    "q_urlnorm" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(8))
      val id = col("doc_id").cast("string")
      val url = when(m === 0, concat(lit("HTTP://WWW."),
          upper(col("source")), lit(".COM:80/d/"), id,
          lit("?utm_source=x&b=2&a=1#frag")))
        .when(m === 1, concat(lit("https://"), col("source"),
          lit(".com:443/")))
        .when(m === 2, concat(lit("https://"), col("source"), lit(".com")))
        .when(m === 3, concat(lit("http://"), col("source"),
          lit(".com/p/"), id, lit("?fbclid=abc")))
        .when(m === 4, concat(lit("http://"), col("source"),
          lit(".com/p?z=9&y=8&y=7&gclid=1")))
        .when(m === 5, concat(lit("relative/"), id, lit("?utm_x=1#sec")))
        .when(m === 6, concat(lit("https://www.sub."), col("source"),
          lit(".com/x/"), id))
        .otherwise(concat(lit("http://"), col("source"),
          lit(".com:8080/x")))
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          graft.operators.Curation.canonicalUrl(col("url")).as("canon"))
        .orderBy(col("doc_id"))
    }),

    // ---- composition (new r11): URL canonicalization FEEDING snapshot
    //      dedup — each page is crawled under two spellings of the same
    //      URL (tracking params + case/www noise vs clean) plus a
    //      recrawl; unnormalized they defeat (url, content) keying, so
    //      the canon step is what lets the version table collapse the
    //      double-fetch to its min fetch_id ----
    "q_snapshot_urlnorm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val u0 = concat(lit("HTTP://WWW."), col("source"),
        lit(".COM/page/"), id, lit("?utm_source=feed&ref=rss"))
      val u1 = concat(lit("http://"), col("source"), lit(".com/page/"), id)
      val base = docs.select(col("doc_id"), col("text"),
        u0.as("u0"), u1.as("u1"))
      val crawl = base.select(col("u0").as("raw_url"), lit(0).as("snap"),
          col("text"), (col("doc_id") * 4).as("fetch_id"))
        .unionAll(base.select(col("u1").as("raw_url"), lit(0).as("snap"),
          col("text"), (col("doc_id") * 4 + 1).as("fetch_id")))
        .unionAll(base.select(col("u0").as("raw_url"), lit(1).as("snap"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" updated")))
            .otherwise(col("text")).as("text"),
          (col("doc_id") * 4 + 2).as("fetch_id")))
      val canon = crawl.withColumn("url",
        graft.operators.Curation.canonicalUrl(col("raw_url")))
      graft.operators.Dedup.snapshotDedup(canon, col("url"), col("snap"),
          col("text"), col("fetch_id"))
        .orderBy(col("url"), col("keep_fetch"))
    }),

    // ---- training-mix source quotas (new r11): temperature-weighted
    //      data mixing (w = √n, the IEEE-exactly-rounded weight; a
    //      general pow(n, α) is not engine-portable) apportioned by
    //      largest remainder so Σ quota == budget EXACTLY — one count
    //      agg to |sources| rows, windows only over that table ----
    "q_mix" -> ((s, dir) => {
      graft.operators.Curation.sourceMixture(t(s, dir, "documents"),
          budget = 10000L)
        .orderBy(col("source"))
    }),

    // ---- interpolated bigram-LM perplexity (the CCNet-style quality
    //      filter): per-bigram Jelinek-Mercer log-probs micro-nat
    //      quantized before the order-free integer fold ----
    "q_lm_ppl" -> ((s, dir) => {
      graft.operators.TextAnalysis.lmPerplexity(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- Kneser–Ney bigram cross-entropy: the production smoothing
    //      (absolute discount + continuation-type backoff) completing
    //      the LM family next to q_lm_ppl's Jelinek–Mercer; same
    //      micro-nat quantization device, TRUE history counts, all
    //      four count summaries oracle-replayed ----
    "q_kn_ppl" -> ((s, dir) => {
      graft.operators.TextAnalysis.knPerplexity(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-language perplexity-quantile filter (the CCNet keep
    //      rule): bigram-LM xent scores → keep the most-fluent 70% of
    //      each language EXACTLY via the radix group-quantile
    //      selection; docs with no bigrams are unscorable and excluded
    //      upstream of the rank, matching q_lm_ppl's domain ----
    // ---- the Kneser–Ney twin of q_ppl_filter: same CCNet keep rule
    //      (most-fluent 70% per language via the radix group-quantile),
    //      scored by the production smoothing instead of JM ----
    "q_kn_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextAnalysis.knPerplexity(docs)
        .withColumn("xent_micro",
          floor((-col("s_micro").cast("double") / lit(1e6) /
            col("n_bigrams")) * lit(1e6) + lit(0.5)).cast("long"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("xent_micro"))
        .localCheckpoint(true) // 20-byte rows feed thresholds AND keep
      graft.operators.Sampling.topFractionByGroup(scored, col("lang"),
          col("xent_micro"), col("doc_id"), num = 7, den = 10,
          windowMaxGroup = 0L)
        .orderBy(col("doc_id"))
    }),

    "q_ppl_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextAnalysis.lmPerplexity(docs)
        .withColumn("xent_micro",
          floor((-col("s_micro").cast("double") / lit(1e6) /
            col("n_bigrams")) * lit(1e6) + lit(0.5)).cast("long"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("xent_micro"))
        // 20-byte rows; both the threshold scans and the final keep
        // filter consume it — without this the whole LM chain runs
        // twice (once to checkpoint the radix slim, once in the join)
        .localCheckpoint(true)
      graft.operators.Sampling.topFractionByGroup(scored, col("lang"),
          col("xent_micro"), col("doc_id"), num = 7, den = 10,
          windowMaxGroup = 0L) // pin radix: the regime the oracle gates
        .orderBy(col("doc_id"))
    }),

    // ---- compression-ratio quality signal (new r11): the classic
    //      "too compressible = boilerplate" screen, measured as greedy
    //      LZ77 match coverage under ONE exactly-specified rule
    //      (longest [4,32]-codepoint back-reference, advance by match)
    //      — a single narrow codegen'd projection, no shuffle; the
    //      oracle replays every match as a recursive walk ----
    "q_comp_ratio" -> ((s, dir) => {
      graft.operators.TextAnalysis.compressionRatio(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-language compression gate (q_ppl_filter's shape with LZ
    //      coverage as the score): keep the least-compressible 7/10 of
    //      each language — radix group-quantile, corpus-linear ----
    "q_comp_filter" -> ((s, dir) => {
      graft.operators.TextAnalysis.compressionFilter(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- unigram-LM (SentencePiece-family) tokenizer TRAINING (new
    //      r10): over-complete substring seed -> 2 hard-EM (Viterbi)
    //      iterations -> prune to vocabSize + alphabet. Corpus touched
    //      once (word-frequency agg); the EM loop iterates the
    //      vocab-bounded table with one vocab collect per iteration
    //      (the BPE pattern). Oracle unrolls every iteration as CTEs,
    //      enumerating ALL segmentations per word recursively and
    //      picking the engine's exact Viterbi tie-break
    //      (cost, ntok, longest-token-first) ----
    "q_unigram_lm" -> ((s, dir) => {
      graft.operators.Unigram.train(t(s, dir, "documents"), vocabSize = 60)
        .orderBy(col("token"))
    }),

    // ---- unigram-LM fertility per language — the side-by-side row
    //      for q_bpe_fertility (same output shape), the tokenizer-
    //      family comparison a pipeline runs before freezing a vocab ----
    "q_unigram_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Unigram.fertility(docs,
          graft.operators.Unigram.train(docs, vocabSize = 60), col("lang"))
        .orderBy(col("lang"))
    }),

    // ---- DSIR importance scoring: hashed-unigram multinomial
    //      log-ratio weights (target = lang 'en' vs the rest), bucket
    //      table broadcast, micro-nat integer fold per doc ----
    "q_dsir" -> ((s, dir) => {
      graft.operators.Curation.dsirScores(
          t(s, dir, "documents"), col("lang") === "en")
        .orderBy(col("doc_id"))
    }),

    // ---- BPE tokenizer training: k merge rules learned over the
    //      distinct-word frequency table (the ONLY corpus-scale pass is
    //      the word count; the merge loop iterates a vocab-sized table
    //      with a 1-row collect per iteration). Oracle unrolls every
    //      iteration as CTEs, with the greedy left-to-right rewrite
    //      expressed as the SAME list fold (list_reduce + ends_with
    //      last-symbol check) the engine runs ----
    "q_bpe" -> ((s, dir) => {
      graft.operators.Bpe.trainMerges(t(s, dir, "documents"), iters = 10)
        ._1
        .select(col("iter"), col("left").as("lhs"), col("right").as("rhs"),
          col("merged"), col("cnt"))
        .orderBy(col("iter"))
    }),

    // ---- cross-corpus BPE application: train on the 'en' slice,
    //      replay the merge list over the full corpus' distinct words
    //      (OOV words segmented by the same fold, not a fallback) ----
    "q_bpe_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (mergeDf, _) = graft.operators.Bpe.trainMerges(
        docs.filter(col("lang") === "en"), iters = 10)
      val merges = mergeDf.orderBy(col("iter")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val seg = graft.operators.Bpe.applyMerges(docs, merges)
      // applyMerges segments every distinct corpus word, so encode's
      // left-join char-count fallback never fires — same result, one
      // shared encode shape
      graft.operators.Bpe.encode(docs, seg).orderBy(col("doc_id"))
    }),

    // ---- BPE encoding: per-doc token counts under the learned
    //      segmentation — vocab broadcasts, corpus streams through one
    //      explode + one aggregation ----
    "q_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, seg) = graft.operators.Bpe.trainMerges(docs, iters = 10)
      graft.operators.Bpe.encode(docs, seg)
        .orderBy(col("doc_id"))
    }),

    // ---- Z-order layout key: the codegen'd 2-D Morton code
    //      (plans/InterleaveBits) behind Layout.zorderBy — range-
    //      partitioning by this value co-locates rows close in BOTH
    //      key dimensions so per-file min/max prunes either-column
    //      predicates (the Delta/Iceberg OPTIMIZE ZORDER device);
    //      oracle recomputes the interleave arithmetically ----
    "q_zorder" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          graft.engine.Layout.zValue(
            col("l_orderkey"), col("l_partkey")).as("zval"))
        .orderBy(col("zval"), col("l_orderkey"), col("l_partkey"))
    }),

    // ---- WordPiece tokenizer training: BPE's merge loop with the
    //      LIKELIHOOD objective — the winner maximizes micro-nat
    //      floor(1e6*(ln cnt_ab - ln cnt_a - ln cnt_b) + 0.5), ties
    //      (score, left, right). Same scale shape as q_bpe: one corpus
    //      word count, then vocab-bounded iterations (pair agg + unit
    //      agg + two broadcast joins + 1-row collect each) ----
    "q_wordpiece" -> ((s, dir) => {
      graft.operators.WordPiece.trainMerges(
          t(s, dir, "documents"), iters = 8)
        ._1
        .select(col("iter"), col("left").as("lhs"), col("right").as("rhs"),
          col("merged"), col("cnt"), col("cnt_l"), col("cnt_r"),
          col("score"))
        .orderBy(col("iter"))
    }),

    // ---- WordPiece encoding: the REAL greedy longest-match-first
    //      inference rule with ## continuation pieces and whole-word
    //      [UNK] (graft.plans.WordPieceSegment), over a piece vocab
    //      from the trained segmentation + full alphabet coverage;
    //      vocab rides inside the expression, distinct words map once
    //      and broadcast, the corpus streams one explode + one agg ----
    "q_wordpiece_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, seg) = graft.operators.WordPiece.trainMerges(docs, iters = 8)
      graft.operators.WordPiece.encode(docs, seg)
        .orderBy(col("doc_id"))
    }),

    // ---- WordPiece fertility per language — the THIRD row of the
    //      tokenizer-family comparison next to q_bpe_fertility and
    //      q_unigram_fertility (same shape, same denominators) ----
    "q_wordpiece_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, seg) = graft.operators.WordPiece.trainMerges(docs, iters = 8)
      graft.operators.WordPiece.fertility(docs, seg, col("lang"))
        .orderBy(col("lang"))
    }),

    // ---- exact per-group quantile selection WITHOUT a per-group
    //      sort: keep the longest 60% of every source via distributed
    //      radix selection — ~8 linear scans of a slim checkpoint +
    //      one broadcast-threshold filter; the window-rank oracle
    //      definition would sort the hottest group in one task ----
    "q_group_quantile" -> ((s, dir) => {
      graft.operators.Sampling.topFractionByGroup(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          col("source"), -col("n_chars"), col("doc_id"), num = 3, den = 5,
          windowMaxGroup = 0L) // pin radix: the regime the oracle gates
        .orderBy(col("doc_id"))
    }),

    // ---- exact-count stratified sample: EXACTLY ceil(n_g/4) docs per
    //      language, chosen by stable content hash (deterministic
    //      across runs/partitionings); the hash-bucket sampler's
    //      per-group counts are only binomial-approximate ----
    "q_exact_sample" -> ((s, dir) => {
      graft.operators.Sampling.exactSampleByGroup(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars")),
          col("lang"), col("doc_id"), col("doc_id"), num = 1, den = 4,
          windowMaxGroup = 0L) // pin radix: the regime the oracle gates
        .orderBy(col("doc_id"))
    }),

    // ---- tokenizer fertility per language: tokens/word and
    //      chars/token under the learned vocab — the per-language
    //      tokenizer-quality report; |langs| output rows ----
    "q_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, seg) = graft.operators.Bpe.trainMerges(docs, iters = 10)
      graft.operators.Bpe.fertility(docs, seg, col("lang"))
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
          (floor(col("n_bpe_tokens") / col("n_words") * 1e6 + 0.5) / 1e6)
            .as("fertility"),
          (floor(col("n_chars") / col("n_bpe_tokens") * 1e6 + 0.5) / 1e6)
            .as("chars_per_token"))
        .orderBy(col("lang"))
    }),

    // ---- salted join: hot-key scatter (results identical to the plain
    //      join, which is exactly what the oracle checks) ----
    "q_join_salted" -> ((s, dir) => {
      val small = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.engine.SkewJoin.saltedJoin(
          t(s, dir, "lineitem"), small, Seq("l_suppkey"), salt = 8)
        .groupBy(col("s_name"))
        .agg(
          count(lit(1)).as("n"),
          graft.plans.DecSum.asDouble(col("l_quantity"), 2)
            .as("sum_qty"))
        .orderBy(col("s_name"))
    }),

    // ---- north star: deterministic stratified sampling + fold split
    //      (reproducible training-mix rebalancing; no RNG, no shuffle) ----
    "q_sample" -> ((s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents")
      Sampling.stratifiedSample(d, col("doc_id"), col("lang"),
          rates = Map("en" -> 5), defaultNum = 2, den = 10)
        .select(col("doc_id"), col("lang"),
          Sampling.foldId(col("doc_id"), 10).as("fold"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: semantic split-leakage check (embedding-space
    //      decontamination — train vectors cosine-similar to holdout;
    //      holdout broadcasts, train streams) ----
    "q_split_leakage" -> ((s, dir) => {
      graft.operators.Dedup.semanticLeakage(
          t(s, dir, "embeddings"), folds = 10, holdoutFold = 0,
          tauNum = 4, tauDen = 10)
        .orderBy(col("t_id"), col("h_id"))
    }),

    // ---- north star: LSH-bucketed cosine near-dup (random-hyperplane
    //      signatures; the no-blocking-column scale path). The DEFAULT
    //      is the data-sized banding (autoBits: bits/band =
    //      ceil(log2(n/targetBucket)), the knob that keeps candidates
    //      ~n·targetBucket instead of ~n²/2^bits — PLANS.md sf3 sweep,
    //      252.9s fixed vs 32.7s sized). The corpus count is a parquet
    //      metadata-only job; the oracle replicates the sizing rule in
    //      SQL, so the data-dependent banding is hash-gated too. ----
    "q_dedup_lsh" -> ((s, dir) => {
      graft.operators.Dedup.lshCosinePairs(
          t(s, dir, "embeddings"), tauNum = 4, tauDen = 10)
        .orderBy(col("v1"), col("v2"))
    }),

    // ---- the pinned-banding twin (bits = 12 regardless of corpus):
    //      hash-gates the explicit-knob path — a caller tuning recall
    //      by hand gets engine-exact candidates at any fixed bits ----
    "q_dedup_lsh_fixed" -> ((s, dir) => {
      graft.operators.Dedup.lshCosinePairs(
          t(s, dir, "embeddings"), tauNum = 4, tauDen = 10, bits = 12)
        .orderBy(col("v1"), col("v2"))
    }),

    // ---- north star CAPSTONE (vectors): LSH near-dup dedup -> keep
    //      canonical -> coarse-quantizer assignment -> per-cell stats ----
    "q_embed_pipeline" -> ((s, dir) => {
      import graft.functions.VectorFunctions.quantize
      import graft.plans.LongArrayDot
      val e = t(s, dir, "embeddings")
      // one metadata count threaded into the LSH stage (the n hint) —
      // the pipeline pays no extra corpus scan for the banding size
      val pairs = graft.operators.Dedup.lshCosinePairs(e, 4, 10,
          n = e.count())
        .select(col("v1").as("d1"), col("v2").as("d2"))
      val kept = graft.operators.Dedup.keepCanonical(e, pairs, id = "vec_id")
      val cents = e.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").as("cent_id"),
          quantize(col("embedding")).as("cent_v"))
      val wAssign = Window.partitionBy(col("cid"))
        .orderBy(col("cscore").desc, col("cent_id"))
      kept.select(col("vec_id").as("cid"),
          quantize(col("embedding")).as("cv"))
        .crossJoin(broadcast(cents))
        .withColumn("cscore", LongArrayDot(col("cv"), col("cent_v")))
        .withColumn("crank", row_number().over(wAssign))
        .filter(col("crank") === 1)
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n_vectors"), min(col("cid")).as("min_vec"))
        .orderBy(col("cent_id"))
    }),

    // ---- north star: brute-force top-k similarity search ----
    "q_simsearch" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 10), e, k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- MMR diversified top-k (Carbonell & Goldstein re-ranker):
    //      distributed top-pool candidates (one corpus pass past the
    //      broadcast queries), then the greedy
    //      λ·rel − (1−λ)·max-sim-to-selected walk per query group in
    //      exact integer arithmetic — the oracle unrolls every greedy
    //      step (the q_unigram_lm device), so the SELECTION ORDER is
    //      hash-gated, not just the scores ----
    "q_mmr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.mmrTopK(
          e.filter(col("vec_id") < 3), e, k = 4, pool = 12)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- hard-negative mining for contrastive training: per anchor,
    //      the k most-similar vectors with a DIFFERENT label — near in
    //      embedding space, semantically wrong; the one-pass broadcast
    //      top-k plan with the label filter below the ranking heap ----
    "q_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.hardNegatives(
          e.filter(col("vec_id") < 10), e, k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- JL sign random projection (Achlioptas ±1): 64 -> 16 dims as
    //      16 codegen'd dots against hash-derived LITERAL sign rows —
    //      the cheap first stage of project-then-rerank, 1/4 the bytes
    //      for every downstream pass; the sign matrix regenerates from
    //      stableHash60 on any engine, so the oracle rebuilds the SAME
    //      matrix and replays the projection + ranking exactly ----
    "q_randproj" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.rpTopK(
          e.filter(col("vec_id") < 10), e, k = 5, outDim = 16)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- the two-stage cascade composed on q_randproj: projected
    //      shortlist (pool=50) -> full-vector re-rank of ONLY the
    //      shortlist; both stages exact integers, so the oracle
    //      replays the cascade INCLUDING which candidates the
    //      projection admits ----
    "q_randproj_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.rpRerankTopK(
          e.filter(col("vec_id") < 10), e, k = 5, pool = 50, outDim = 16)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- north star: IVF top-k (coarse quantizer + nprobe cells) ----
    "q_simsearch_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.ivfTopK(
          e.filter(col("vec_id") < 10), e, k = 5, nlist = 16, nprobe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- north star: LSH-bucketed top-k (random-hyperplane buckets
    //      prune the corpus; exact quantized ranking of survivors) ----
    "q_simsearch_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.lshTopK(
          e.filter(col("vec_id") < 10), e, k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- north star: k-NN GRAPH construction (every vector's top-k
    //      neighbors, LSH-bucketed candidates + exact ranking) — the
    //      semantic-dedup/clustering precursor; all-pairs work bounded
    //      by bucket co-membership, never a corpus cross join. Default
    //      banding is data-sized (autoBits, as q_dedup_lsh); the
    //      oracle pins the recall consequence of the sizing — which
    //      candidates the sized buckets admit — not just arithmetic ----
    "q_knn_graph" -> ((s, dir) => {
      graft.operators.Similarity.knnGraph(t(s, dir, "embeddings"), k = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- pinned-banding twin (bits = 12): the explicit-knob path ----
    "q_knn_graph_fixed" -> ((s, dir) => {
      graft.operators.Similarity.knnGraph(
          t(s, dir, "embeddings"), k = 3, bits = 12)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- graph-centrality curation: PageRank over the k-NN similarity
    //      graph — high-rank nodes are representative cluster cores,
    //      low-rank nodes outliers. Edges partitioned ONCE; each of the
    //      10 iterations moves only the O(N) rank frame; quantized
    //      long contribution sums make every iteration oracle-exact ----
    "q_pagerank" -> ((s, dir) => {
      val knn = graft.operators.Similarity.knnGraph(
        t(s, dir, "embeddings"), k = 3, bits = 12)
      graft.operators.Graph.pageRank(
          knn.select(col("qid").as("src"), col("cid").as("dst")),
          iters = prIters)
        .orderBy(col("id"))
    }),

    // ---- curation audit: every filter rule evaluated on every doc
    //      (no short-circuit) — the drop-reason attribution pass. One
    //      narrow codegen'd projection + one slim window shuffle on
    //      md5(text) for the exact-dup rule ----
    "q_curation_audit" -> ((s, dir) => {
      graft.operators.Curation.curationAudit(
          t(s, dir, "documents"), col("doc_id"), col("text"), auditRules)
        .select(col("doc_id"), array_join(col("fails"), ",").as("fails"),
          col("n_fails").cast("long").as("n_fails"), col("kept"))
        .orderBy(col("doc_id"))
    }),

    // ---- marginal rule attribution over the audit: n_fail (total
    //      drops) vs n_solo (docs ONLY that rule removes — a rule with
    //      n_solo = 0 is dead weight on the pipeline) ----
    "q_audit_rates" -> ((s, dir) => {
      graft.operators.Curation.auditSummary(
          graft.operators.Curation.curationAudit(
            t(s, dir, "documents"), col("doc_id"), col("text"), auditRules))
        .orderBy(col("rule"))
    }),

    // ---- T5 span corruption: (input, target) pretraining pairs with
    //      hash-phased non-overlapping masked spans — a pure function
    //      of content (no RNG), one narrow projection, no shuffle ----
    "q_span_corrupt" -> ((s, dir) => {
      graft.operators.Curation.spanCorrupt(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- domain screening: drop WHOLE sources by aggregate quality —
    //      per-doc ratios micro-quantized then integer-summed per
    //      source (no float accumulation), keep rule = integer compare
    //      against threshold·n_docs; |sources| output rows ----
    "q_domain_screen" -> ((s, dir) => {
      graft.operators.Curation.domainScreen(t(s, dir, "documents"))
        .orderBy(col("source"))
    }),

    // ---- snapshot (recrawl) dedup: two simulated crawl dumps of the
    //      corpus — dump 1 recrawls every page, every third page
    //      changed — collapsed to first-fetch-per-content-version.
    //      Content is hashed map-side; the one shuffle carries
    //      (url, md5, snap, fetch_id), never document bodies ----
    "q_snapshot_dedup" -> ((s, dir) => {
      graft.operators.Dedup.snapshotDedup(simulatedCrawl(t(s, dir,
          "documents")), col("url"), col("snap"), col("text"),
          col("fetch_id"))
        .orderBy(col("url"), col("keep_fetch"))
    }),

    // ---- north star: product-quantization top-k (codes + ADC lookup —
    //      the compressed-corpus ANN scale path) ----
    "q_simsearch_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.pqTopK(
          e.filter(col("vec_id") < 10), e, k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- north star: scalar-quantization (SQ8) top-k — per-dim 8-bit
    //      codes against corpus (min, max), exact integer ADC scoring
    //      scaled by 255; the 4x-memory compressed-corpus path that
    //      keeps per-dim resolution (PQ's sibling) ----
    "q_simsearch_sq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.sqTopK(
          e.filter(col("vec_id") < 10), e, k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- persisted IVF index: build-once / query-many — the
    //      production shape of the similarity surface (faiss train+add
    //      vs search). The index (centroids + cell-PARTITIONED
    //      assignments) is built once per session; the query LOADS it:
    //      the probe runs on the driver against the stored centroids
    //      and one job scans only the probed cells' directories — no
    //      quantizer training, no assignment pass (PlanShapeSpec-
    //      pinned). Results equal the inline path by construction
    //      (shared search kernel) — shares q_simsearch_ivf's oracle ----
    "q_simsearch_ivf_idx" -> ((s, dir) => {
      val path = annIndex("ivf16", dir)(p =>
        graft.operators.Similarity.buildIvfIndex(
          t(s, dir, "embeddings"), p, nlist = 16))
      graft.operators.Similarity.ivfTopKIndexed(
          t(s, dir, "embeddings").filter(col("vec_id") < 10), path,
          k = 5, nprobe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- INCREMENTAL index maintenance: the corpus split into a build
    //      shard and an append shard (build keeps vec_id < 16, so the
    //      default lowest-vec_id centroids equal the full-corpus ones);
    //      appendToIvfIndex assigns the new shard against the FROZEN
    //      stored centroids and appends its cells — the query over the
    //      maintained index equals the inline operator over the union,
    //      so this shares q_simsearch_ivf's oracle verbatim ----
    "q_simsearch_ivf_incr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = annIndex("ivf16incr", dir) { p =>
        graft.operators.Similarity.buildIvfIndex(
          e.filter(col("vec_id") < 16 || col("vec_id") % 2 === 0),
          p, nlist = 16)
        graft.operators.Similarity.appendToIvfIndex(
          e.filter(col("vec_id") >= 16 && col("vec_id") % 2 === 1), p)
      }
      graft.operators.Similarity.ivfTopKIndexed(
          e.filter(col("vec_id") < 10), path, k = 5, nprobe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- INCREMENTAL PQ index maintenance: build keeps the 16
    //      lowest vec_ids (the default codebook source), so the frozen
    //      codebook equals the full-corpus one and appendToPqIndex's
    //      codes are content-identical to build-at-once — shares
    //      q_simsearch_pq's oracle verbatim ----
    "q_simsearch_pq_incr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = annIndex("pq8incr", dir) { p =>
        graft.operators.Similarity.buildPqIndex(
          e.filter(col("vec_id") < 16 || col("vec_id") % 2 === 0), p)
        graft.operators.Similarity.appendToPqIndex(
          e.filter(col("vec_id") >= 16 && col("vec_id") % 2 === 1), p)
      }
      graft.operators.Similarity.pqTopKIndexed(
          e.filter(col("vec_id") < 10), path, k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- INCREMENTAL SQ8 index maintenance: the build shard keeps
    //      the per-dim extrema (sqExtremalIds — one dim-row agg at
    //      build time), so the FROZEN (lo, hi) stats equal the union's
    //      and appendToSqIndex's codes are content-identical to
    //      build-at-once — shares q_simsearch_sq's oracle verbatim ----
    "q_simsearch_sq_incr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val path = annIndex("sq64incr", dir) { p =>
        val ext = graft.operators.Similarity.sqExtremalIds(e)
        graft.operators.Similarity.buildSqIndex(
          e.filter(col("vec_id").isin(ext: _*) ||
            col("vec_id") % 2 === 0), p)
        graft.operators.Similarity.appendToSqIndex(
          e.filter(!col("vec_id").isin(ext: _*) &&
            col("vec_id") % 2 === 1), p)
      }
      graft.operators.Similarity.sqTopKIndexed(
          e.filter(col("vec_id") < 10), path, k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- persisted SQ8 index (completing the indexed trio): per-dim
    //      stats + 8-bit code table written once; the query dequantizes
    //      the codes (identical arithmetic to the inline fold) against
    //      the stats artifact — shares q_simsearch_sq's oracle ----
    "q_simsearch_sq_idx" -> ((s, dir) => {
      val path = annIndex("sq64", dir)(p =>
        graft.operators.Similarity.buildSqIndex(
          t(s, dir, "embeddings"), p))
      graft.operators.Similarity.sqTopKIndexed(
          t(s, dir, "embeddings").filter(col("vec_id") < 10), path, k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- persisted PQ index: codebook + compressed code table written
    //      once; the query scans ONLY the code table (corpus floats
    //      never read at query time) — shares q_simsearch_pq's oracle ----
    "q_simsearch_pq_idx" -> ((s, dir) => {
      val path = annIndex("pq8x64x16", dir)(p =>
        graft.operators.Similarity.buildPqIndex(
          t(s, dir, "embeddings"), p))
      graft.operators.Similarity.pqTopKIndexed(
          t(s, dir, "embeddings").filter(col("vec_id") < 10), path, k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // ---- Count-Min sketch word frequencies: the mergeable-by-addition
    //      frequency sketch (heavy hitters at 100 TB) — every estimate
    //      read back next to the true count; buckets from the
    //      cross-engine stableHash60, so the oracle replays the sketch
    //      arithmetic and the one-sided error law (est >= freq) is
    //      hash-gated, not just asserted ----
    "q_cms" -> ((s, dir) => {
      graft.operators.TextAnalysis.cmsWordCounts(
          t(s, dir, "documents"), depth = 4, width = 64)
        .orderBy(col("word"))
    }),

    // ---- exact heavy hitters via two-pass Misra–Gries: pass 1 is a
    //      bounded-memory per-partition MG(k) summary (nothing
    //      corpus-sized shuffles — each partition emits <= k candidate
    //      rows), pass 2 exact-counts only the broadcast candidate set.
    //      The MG superset guarantee makes the output EXACT, so the
    //      oracle is the plain freq*k > N computation ----
    "q_heavy_hitters" -> ((s, dir) => {
      graft.operators.TextAnalysis.heavyHitters(
          t(s, dir, "documents"), k = 50)
        .orderBy(col("tok"))
    }),

    // ---- north star: BM25 retrieval scoring (tf/df/idf machinery;
    //      fixed-order per-term pivot keeps float math engine-exact) ----
    "q_bm25" -> ((s, dir) => {
      graft.operators.TextAnalysis.bm25(t(s, dir, "documents"),
          Seq("data", "join", "hash", "scan", "batch"))
        .withColumn("score",
          floor(col("score") * 1e6 + 0.5) / 1e6)
        .orderBy(col("doc_id"))
    }),

    // ---- diversified lexical retrieval: the MMR walk on BM25
    //      relevance + shingle-overlap similarity (q_mmr's greedy
    //      device on the lexical side) — plain BM25 returns near-copy
    //      runs on duplicate-heavy corpora; the overlap penalty breaks
    //      them. rel is the engine-exact quantized BM25 double,
    //      overlap an integer set intersection, and the oracle unrolls
    //      every greedy step ----
    "q_bm25_mmr" -> ((s, dir) => {
      graft.operators.TextAnalysis.bm25Diversified(
          t(s, dir, "documents"),
          Seq("data", "join", "hash", "scan", "batch"),
          k = 4, pool = 12)
        .orderBy(col("rnk"))
    }),

    // ---- PERSISTED near-dup index (the text-side build/query split,
    //      mirroring the ANN indexed trio): the corpus is shingled,
    //      signed, and banded ONCE into band-partitioned bucket +
    //      shingle-set artifacts; the incremental batch probes the
    //      stored buckets (broadcast band keys) and verifies against
    //      the stored sets — corpus text never touched at query time.
    //      Deterministic artifacts, so the oracle is the inline
    //      minhash SQL restricted to cross-side pairs ----
    "q_dedup_minhash_idx" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = annIndex("mhidx32x16", dir)(p =>
        graft.operators.Dedup.buildMinhashIndex(
          docs.filter(col("doc_id") < 450), p))
      graft.operators.Dedup.minhashNeardupIndexed(
          docs.filter(col("doc_id") >= 450), path, tau = 0.3)
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- INCREMENTAL minhash-index maintenance: the stored corpus
    //      arrives as two shards — build on the first, appendToMinhash-
    //      Index the second with the family frozen in params/.
    //      Signatures are per-doc deterministic, so the maintained
    //      index content equals build-at-once and this shares
    //      q_dedup_minhash_idx's oracle verbatim ----
    "q_dedup_minhash_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = annIndex("mhidx32x16incr", dir) { p =>
        graft.operators.Dedup.buildMinhashIndex(
          docs.filter(col("doc_id") < 300), p)
        graft.operators.Dedup.appendToMinhashIndex(
          docs.filter(col("doc_id") >= 300 && col("doc_id") < 450), p)
      }
      graft.operators.Dedup.minhashNeardupIndexed(
          docs.filter(col("doc_id") >= 450), path, tau = 0.3)
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- north star: incremental dedup (daily-ingest shape — admit
    //      only new-shard docs that duplicate nothing already ingested;
    //      new side broadcasts, corpus streams) ----
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.incrementalDedup(
          docs.filter(col("doc_id") >= 450),
          docs.filter(col("doc_id") < 450), minShared = 20)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: benchmark-contamination check (cross-corpus
    //      shingle overlap; tiny eval side broadcast, corpus streams) ----
    "q_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.contamination(
          docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20), minShared = 2)
        .orderBy(col("doc_id"), col("eval_id"))
    }),

    // ---- north star: intra-doc repetition quality rule (Gopher shape;
    //      narrow map, zero shuffles) ----
    "q_repetition" -> ((s, dir) => {
      graft.operators.TextAnalysis.repetitionFeatures(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: per-language corpus stats ----
    "q_textstats" -> ((s, dir) =>
      graft.operators.TextAnalysis.languageStats(t(s, dir, "documents"))),

    // ---- north star: bigram language-model statistics — top-10 word
    //      bigrams per language. Adjacent-token pairing is a narrow
    //      zip_with over the token array (no self-join on position);
    //      one shuffle for the count, one window for the per-lang rank ----
    "q_bigrams" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("bigram"))
      t(s, dir, "documents")
        .select(col("lang"),
          explode(graft.plans.AdjacentPairs.concatenated(ws))
            .as("bigram"))
        .groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .orderBy(col("lang"), col("rnk"))
    }),

    // ---- north star: bigram-LM coverage scoring (integer-exact
    //      perplexity stand-in: corpus LM table -> join-back -> per-doc
    //      common-bigram fraction) ----
    "q_lm_coverage" -> ((s, dir) => {
      graft.operators.TextAnalysis.bigramCoverage(
          t(s, dir, "documents"), minCount = 3)
        .orderBy(col("doc_id"))
    }),

    // ---- north star: PMI collocations (multi-word expressions) — one
    //      ln over an exact integer ratio, so score and ranking are
    //      engine-identical; top-k plans as TakeOrderedAndProject ----
    "q_pmi" -> ((s, dir) => {
      graft.operators.TextAnalysis.pmiCollocations(
        t(s, dir, "documents"), minCount = 5, topN = 50)
    }),

    // ---- north star: token-distribution entropy (diversity/quality
    //      signal) — per-term micro-nat quantization keeps the fold
    //      exact integer math; two shuffles, no joins ----
    "q_entropy" -> ((s, dir) => {
      graft.operators.TextAnalysis.tokenEntropy(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: language-ID heuristic (single tokenization pass:
    //      explode + one conditional-count aggregation; the column form
    //      would re-tokenize once per language under project-collapsing) ----
    "q_langid" -> ((s, dir) => {
      graft.operators.TextAnalysis.langIdPosting(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: script-aware (CJK) tokenization + language ID
    //      (new r10) — the char-level fallback for space-free scripts.
    //      Corpus is a closed-form mixed-script variant (latin /
    //      unsegmented han or kana / mixed per doc_id % 3) that the
    //      oracle reconstructs character-for-character via chr() and
    //      then tokenizes with the IDENTICAL regex (RE2-compatible
    //      \x{...} classes run unchanged in Java and DuckDB). The
    //      naive space-split count rides along: an unsegmented run is
    //      ONE naive token vs nc aware tokens — the silent degradation
    //      this operator removes. Scale shape: one narrow regexp map +
    //      one hash aggregation, identical to q_langid. ----
    "q_tokencjk" -> ((s, dir) => {
      graft.operators.TextAnalysis.scriptTokenProfile(
          graft.operators.TextAnalysis.syntheticMixedDocs(s, dir))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: quality scoring (single tokenization pass) ----
    "q_quality" -> ((s, dir) => {
      graft.operators.TextAnalysis.qualityPosting(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: model-based quality filter (batch inference —
    //      fixed-weight logistic scorer over quality features; one
    //      narrow codegen'd expression, no shuffle beyond the feature
    //      aggregation) ----
    "q_quality_model" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      val scored = TextAnalysis.qualityModelScore(
        TextAnalysis.qualityPosting(t(s, dir, "documents")),
        weights = Seq("type_token_ratio" -> 2.0,
          "avg_token_len" -> -0.3, "stopword_ratio" -> 1.5),
        bias = -0.5)
      scored
        .select(col("doc_id"),
          (floor(col("q_score") * 1e6 + 0.5) / 1e6).as("q_score"),
          when(col("q_score") >= 0.5, 1).otherwise(0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- trainable classifier (the CCNet/fastText TRAINING side),
    //      run as RULE DISTILLATION: teacher label = the Aho-Corasick
    //      blocklist screen's keep decision, student = softsign-link
    //      logistic GD over hashed bag-of-words features. Quantized
    //      integer gradient sums — one corpus featurize, then T
    //      scan-rate aggregates of d+2 longs; the oracle replays the
    //      whole trajectory bit-for-bit ----
    "q_classifier_train" -> ((s, dir) => {
      graft.operators.Classifier.trainTrajectory(
          t(s, dir, "documents"), graft.plans.MultiPatternCount(
            col("text"), Seq("dup", "slow", "low", "scan batch")) > 2L)
        .orderBy(col("iter"), col("term"))
    }),

    // ---- train→infer composition: score every document with the
    //      LEARNED weights (inference is one narrow codegen'd map) ----
    "q_classifier_score" -> ((s, dir) => {
      graft.operators.Classifier.trainAndScore(
          t(s, dir, "documents"), graft.plans.MultiPatternCount(
            col("text"), Seq("dup", "slow", "low", "scan batch")) > 2L)
        .orderBy(col("doc_id"))
    }),

    // ---- classifier RANKING EVALUATION (new r11): exact AUC (Mann–
    //      Whitney, tie-averaged ranks via the integral 2·avg =
    //      minrank+maxrank) + 0.5-threshold confusion counts in one
    //      summary row — the go/no-go measurement before trusting a
    //      quality-classifier gate; rank fold over the bounded
    //      distinct-score table, confusion map-side ----
    "q_clf_auc" -> ((s, dir) => {
      graft.operators.Classifier.rankingEval(
          t(s, dir, "documents"), graft.plans.MultiPatternCount(
            col("text"), Seq("dup", "slow", "low", "scan batch")) > 2L)
        .orderBy(col("n_pos"))
    }),

    // ---- blocklist screen (the C4 "badwords" filter): ONE
    //      Aho–Corasick pass per document counts every overlapping
    //      occurrence of every blocklisted substring — one scan
    //      regardless of list size, vs a contains() per pattern ----
    "q_blocklist" -> ((s, dir) => {
      graft.operators.TextAnalysis.blocklistScreen(
          t(s, dir, "documents"),
          patterns = Seq("dup", "slow", "low", "scan batch"), maxHits = 2L)
        .orderBy(col("doc_id"))
    }),

    // ---- north star: document fingerprinting (rolling hash) ----
    "q_fingerprint" -> ((s, dir) => {
      graft.operators.TextAnalysis.fingerprints(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: winnowing fingerprints (MOSS selection over the
    //      positional char-16-gram rolling hashes; window w=8). The
    //      xor/min/max/count summary pins the selected set exactly.
    //      The hash array is materialized behind a repartition barrier:
    //      winnow's window lambda references it per element, and inlined
    //      (project-collapsed) it would re-run the O(n) kernel per
    //      window — the Catalyst pitfall documented in ARCHITECTURE ----
    "q_winnow" -> ((s, dir) => {
      import graft.operators.TextAnalysis.winnow
      graft.engine.Spread(t(s, dir, "documents"))
        .select(col("doc_id"),
          graft.plans.RollingShingleHashes(col("text"), 16).as("sh"))
        .transform(graft.engine.Spread.byKey(_, col("doc_id")))
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_windows"),
          explode(winnow(col("sh"), 8)).as("fp"))
        .groupBy(col("doc_id"))
        .agg(min(col("n_windows")).as("n_windows"),
          count(lit(1)).as("n_fp"),
          min(col("fp")).as("fp_min"),
          max(col("fp")).as("fp_max"),
          expr("bit_xor(fp)").as("fp_xor"))
        .withColumn("density",
          col("n_fp").cast("double") / greatest(col("n_windows"), lit(1L)))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: text normalization (pre-dedup cleanup) ----
    "q_normalize" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("norm_text"),
          length(TextAnalysis.normalize(col("text"))).as("norm_len"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: pattern redaction (PII-masking shape) ----
    // ---- Unicode NFC normalization (UAX #15) — the canonicalization
    //      a multilingual pipeline runs BEFORE text keying (the same
    //      é arrives precomposed U+00E9 and decomposed e+U+0301; unkeyed
    //      they defeat exact dedup / shingles / vocabularies). Fixture
    //      appends a per-doc marker cycling decomposed/precomposed/
    //      combining-ring/ASCII so all paths are exercised; DuckDB's
    //      nfc_normalize implements the same mapping ----
    "q_nfc" -> ((s, dir) => {
      import graft.plans.NfcNormalize
      val m = pmod(col("doc_id"), lit(4))
      // escapes are load-bearing: 0 = DECOMPOSED e + U+0301 combining
      // acute, 1 = precomposed U+00E9, 2 = decomposed A + U+030A
      // combining ring, 3 = plain ASCII
      val marker = when(m === 0, lit("caf\u0065\u0301"))
        .when(m === 1, lit("caf\u00e9"))
        .when(m === 2, lit("\u0041\u030A"))
        .otherwise(lit("cafe"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" "), marker).as("t"))
        .select(col("doc_id"),
          length(col("t")).as("n_raw"),
          length(NfcNormalize(col("t"))).as("n_nfc"),
          when(col("t") === NfcNormalize(col("t")), 0)
            .otherwise(1).as("changed"),
          NfcNormalize(col("t")).as("nfc_text"))
        .orderBy(col("doc_id"))
    }),

    // ---- NFKC compatibility normalization (new r11): the KEYING fold
    //      production dedup runs — fullwidth ＡＢＣ→ABC, ligature ﬁ→fi,
    //      circled ①→1, superscript ²→2 — forms NFC deliberately keeps.
    //      DuckDB has no nfkc, so the oracle composes the EXPECTED
    //      normalized strings closed-form (the q_nfc chr() device; the
    //      ASCII corpus text is NFKC-invariant, so expectations are
    //      exact). only_k pins the compatibility fold specifically:
    //      1 iff NFC and NFKC disagree on the marker ----
    "q_nfkc" -> ((s, dir) => {
      import graft.plans.{NfcNormalize, NfkcNormalize}
      val m = pmod(col("doc_id"), lit(6))
      // 0 = FULLWIDTH A/B/C, 1 = fi-ligature + 'le', 2 = circled one,
      // 3 = superscript two, 4 = DECOMPOSED e + combining acute
      // (canonical — both forms compose it), 5 = plain ASCII
      // \u escapes are load-bearing (the q_nfc rule): source encoding
      // must not decide which normalization form a fixture is in
      val marker = when(m === 0, lit("\uFF21\uFF22\uFF23"))
        .when(m === 1, lit("\uFB01le"))
        .when(m === 2, lit("\u2460"))
        .when(m === 3, lit("\u00B2"))
        .when(m === 4, lit("caf\u0065\u0301"))
        .otherwise(lit("cafe"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" "), marker).as("t"))
        .select(col("doc_id"),
          length(col("t")).as("n_raw"),
          length(NfkcNormalize(col("t"))).as("n_nfkc"),
          when(col("t") === NfkcNormalize(col("t")), 0)
            .otherwise(1).as("changed"),
          when(NfcNormalize(col("t")) === NfkcNormalize(col("t")), 0)
            .otherwise(1).as("only_k"),
          NfkcNormalize(col("t")).as("nfkc_text"))
        .orderBy(col("doc_id"))
    }),

    "q_redact" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.redact(col("text")).as("redacted"),
          (length(col("text")) -
            length(TextAnalysis.redact(col("text")))).as("delta"))
        .orderBy(col("doc_id"))
    }),

    // ---- PII redaction with VALIDATION: only 13-19-digit runs that
    //      PASS the Luhn checksum are masked (q_redact's blanket digit
    //      masking nukes order ids and timestamps too). The fixture
    //      derives one card-like number per doc from doc_id — even
    //      doc_ids get the CORRECT check digit, odd ones a broken one —
    //      so the operator's codegen'd Luhn fold is hash-gated against
    //      the oracle's arithmetic replay for every document ----
    "q_redact_luhn" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      val base = lpad(((col("doc_id") * 2654435761L) % 100000000000000L)
        .cast("string"), 14, "0")
      // check digit for a base of 14 digits: base digit j (from the
      // right) sits at full-number right-position j+1, so j ODD doubles
      val sumBase = aggregate(sequence(lit(1), lit(14)), lit(0),
        (acc, j) => {
          val d = ascii(call_function("substring", base, lit(15) - j,
            lit(1))) - lit(48)
          acc + when(j % 2 === 1,
            when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        })
      val check = (lit(10) - sumBase % 10) % 10
      val digit = when(col("doc_id") % 2 === 0, check)
        .otherwise((check + 5) % 10)
      val cand = concat(base, digit.cast("string"))
      // the candidate tree is itself a fold: bind it ONCE per row (the
      // luhnValid device) and derive both outputs from the binding —
      // letting each output re-interpret the fixture tree measured 6x
      // slower under the CodegenFallback HOF evaluator
      val bound = element_at(transform(array(cand), d =>
        struct(TextAnalysis.luhnValid(d).as("v"),
          TextAnalysis.luhnRedact(
            concat(lit("card "), d, lit(" id 1234 end"))).as("r"))), 1)
      t(s, dir, "documents")
        .select(col("doc_id"), bound.as("b"))
        .select(col("doc_id"), col("b.v").as("is_valid"),
          col("b.r").as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // ---- k-anonymity audit (training-data governance): equivalence
    //      classes over declared quasi-identifiers, flagging every
    //      class smaller than k — one hash aggregation at any scale ----
    "q_kanon" -> ((s, dir) => {
      graft.operators.Curation.kAnonymityAudit(t(s, dir, "customer"),
          Seq(col("c_nationkey"), col("c_mktsegment")), k = 5)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),

    // ---- k-anonymity ENFORCEMENT: suppress every row whose quasi-
    //      identifier class is < k (census broadcast back as a
    //      semi-join; output k-anonymous by construction — the
    //      CurationSpec law re-audits it) ----
    "q_kanonymize" -> ((s, dir) => {
      graft.operators.Curation.kAnonymize(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 5)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // ---- k-anonymity by GENERALIZATION (global recoding): coarsen
    //      the quasi-identifiers up a ladder (exact nation -> 5-wide
    //      nation bucket -> '*') to the FIRST level whose smallest
    //      class reaches k — every row survives, unlike q_kanonymize's
    //      suppression. Level selection = one (classes)-row census per
    //      level; the oracle replays the ladder walk in SQL ----
    "q_kgeneralize" -> ((s, dir) => {
      val ladder = Seq(
        Seq("nat_g" -> col("c_nationkey").cast("string"),
            "seg_g" -> col("c_mktsegment")),
        Seq("nat_g" -> (floor(col("c_nationkey") / 5) * 5)
              .cast("long").cast("string"),
            "seg_g" -> col("c_mktsegment")),
        Seq("nat_g" -> lit("*"), "seg_g" -> col("c_mktsegment")),
        Seq("nat_g" -> lit("*"), "seg_g" -> lit("*")))
      graft.operators.Curation.kGeneralize(
          t(s, dir, "customer"), ladder, k = 10)
        .select(col("c_custkey"), col("nat_g"), col("seg_g"))
        .orderBy(col("c_custkey"))
    }),

    // ---- l-diversity audit (k-anonymity's companion: a large class
    //      whose members share ONE sensitive value still exposes them
    //      all): per-class count + distinct sensitive values ----
    "q_ldiversity" -> ((s, dir) => {
      graft.operators.Curation.lDiversityAudit(t(s, dir, "customer"),
          Seq(col("c_mktsegment")), col("c_nationkey"), l = 10)
        .orderBy(col("c_mktsegment"))
    }),

    // ---- t-closeness audit (the governance trio's third member): a
    //      class can be large (k-anon) and diverse (l-div) yet leak by
    //      SKEW — total-variation distance of each class's sensitive
    //      distribution from the global one, all-integer mass terms
    //      with one final double division (engine-exact) ----
    "q_tcloseness" -> ((s, dir) => {
      graft.operators.Curation.tClosenessAudit(t(s, dir, "customer"),
          Seq("c_mktsegment"), col("c_nationkey"), t = 0.1)
        .orderBy(col("c_mktsegment"))
    }),

    // ---- north star: token counting (whitespace + BPE-ish regex) ----
    "q_tokencount" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("ws_tokens"),
          bpeishTokenCount(col("text")).cast("long").as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: hashed TF features (hashing-trick sparse vectors) ----
    "q_tfvec" -> ((s, dir) => {
      graft.operators.TextAnalysis.hashedTf(t(s, dir, "documents"), 64)
        .orderBy(col("doc_id"), col("bucket"))
    }),

    // ---- north star: multimodal binary-column pipeline (stubbed codec) ----
    "q_multimodal" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.decodeFeatures(Multimodal.syntheticMedia(s, dir))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // ---- north star: video frame sampling (every 2nd 64-byte frame
    //      chunk; stub codec, real flatMap dataflow + per-frame features) ----
    "q_frames" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.frameFeatures(
          Multimodal.frameSample(Multimodal.syntheticMedia(s, dir),
            everyN = 2, frameBytes = 64))
        .toDF()
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // ---- north star CAPSTONE: ensemble dedup — jaccard OR containment
    //      votes from ONE overlap pass, unioned with exact-text pairs
    //      (catches sub-shingle-width docs), then connected components
    //      -> keep-canonical. The full detectors-vote-pairs composition
    //      a production corpus dedup runs ----
    "q_dedup_ensemble" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.keepCanonical(docs,
          graft.operators.Dedup.ensemblePairs(docs, tauJ = 0.3, tauC = 0.5))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: audio window featurization (STFT-style frame/hop
    //      flatMap over binary payloads; stub DSP kernel, real windowing
    //      dataflow + exact integer byte stats) ----
    "q_audio" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.audioWindows(
          Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text",
            "audio"),
          winBytes = 256, hopBytes = 128)
        .toDF()
        .orderBy(col("media_id"), col("win_no"))
    }),

    // ---- north star: REAL WAV decode (pure-JVM RIFF walker + int16 PCM)
    //      -> sample-domain windowed energy/zero-crossing/peak features,
    //      exact integer math. The payloads are real WAV blobs built from
    //      a closed-form waveform, so the oracle recomputes every decoded
    //      sample arithmetically — decode correctness is oracle-gated ----
    "q_audio_wav" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.pcmWindows(Multimodal.syntheticWavMedia(s, dir),
          winSamples = 64, hopSamples = 32)
        .toDF()
        .orderBy(col("media_id"), col("win_no"))
    }),

    // ---- multimodal: REAL COMPRESSED audio — IMA ADPCM (WAV fmt
    //      0x11). RIFF walk, per-block header (predictor + step index),
    //      4-bit nibble state machine with the public step/index
    //      tables, exact integer features over the reconstructed
    //      samples. Payloads carry closed-form nibble streams, so the
    //      oracle replays the decoder arithmetic nibble for nibble
    //      (WITH RECURSIVE) — decode correctness is oracle-gated ----
    "q_audio_adpcm" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.adpcmFeatures(Multimodal.syntheticAdpcmMedia(s, dir))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // ---- multimodal: REAL LOSSLESS-COMPRESSED audio — FLAC (linear
    //      prediction + Rice residual coding, CRC-8/16 framing; see
    //      multimodal/FlacCodec). Constant/verbatim/fixed/LPC subframes,
    //      both Rice methods incl. escape-raw partitions, and all three
    //      stereo decorrelation modes are exercised by the fixture
    //      corpus. Losslessness IS the oracle: the decoded samples must
    //      equal the closed-form waveform that went in, so the oracle
    //      recomputes every feature from the closed form — any decode
    //      error corrupts the sums ----
    "q_audio_flac" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.flacFeatures(Multimodal.syntheticFlacMedia(s, dir))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // ---- multimodal: REAL PPM image codec — parse -> integer features
    //      on the original AND on a real nearest-neighbor resize
    //      round-trip (decode -> resample -> re-encode -> re-decode);
    //      payloads are real P6 blobs from a closed-form pixel function
    //      so the oracle recomputes every pixel arithmetically ----
    "q_image_ppm" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val media = Multimodal.syntheticPpmMedia(s, dir)
      val orig = Multimodal.ppmFeatures(media).toDF()
      val rz = Multimodal.ppmFeatures(
          Multimodal.resizePpm(media, 6, 4)).toDF()
        .select(col("media_id"), col("sum_r").as("rz_sum_r"),
          col("sum_g").as("rz_sum_g"), col("sum_b").as("rz_sum_b"))
      orig.join(rz, Seq("media_id"))
        .select(col("media_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"), col("hedges"),
          col("rz_sum_r"), col("rz_sum_g"), col("rz_sum_b"))
        .orderBy(col("media_id"))
    }),

    // ---- multimodal: REAL JPEG decode — full baseline-sequential
    //      decoder (marker walk, canonical Huffman with byte
    //      un-stuffing, dequantize, IDCT) -> exact luma-plane features.
    //      Payloads are real compressed JPEGs of flat DC-only blocks,
    //      whose decode is exact, so the oracle recomputes every
    //      decoded pixel arithmetically ----
    "q_image_jpeg" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.jpegFeatures(Multimodal.syntheticJpegMedia(s, dir))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // ---- multimodal: REAL GIF decode — LZW with variable code
    //      widths, dictionary rebuild, KwKwK; closed-form palette
    //      indices so the oracle recomputes every decoded pixel ----
    "q_image_gif" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.gifFeatures(Multimodal.syntheticGifMedia(s, dir))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // ---- multimodal: REAL PNG decode — chunk walk with CRC-32
    //      verification, hand-rolled zlib/DEFLATE inflate (fixed
    //      Huffman + LZ77 match copy + Adler-32), and all five
    //      scanline unfilters on a row-cycling filter schedule;
    //      closed-form pixels so the oracle recomputes every decoded
    //      sample (a wrong unfilter or inflate corrupts the sums) ----
    "q_image_png" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.pngFeatures(Multimodal.syntheticPngMedia(s, dir))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // ---- audio fingerprint (the dHash twin for sound): 57 window
    //      energies over DECODED WAV samples, 56 delta-sign bits —
    //      volume-scaling invariant; every bit oracle-recomputed from
    //      the closed-form waveform (gates decode + windowing) ----
    "q_audio_fp" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.audioFingerprints(Multimodal.syntheticWavMedia(s, dir))
        .toDF()
        .withColumnRenamed("dhash", "fp")
        .orderBy(col("media_id"))
    }),

    // ---- perceptual image hash (dHash): 9x7 nearest-neighbor grid
    //      gradient signs over DECODED PNG pixels — 56-bit hash whose
    //      every bit the oracle recomputes from the closed-form
    //      pixels (gates resize + decode + bit packing) ----
    "q_image_dhash" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.pngDHashes(Multimodal.syntheticPngNearDupMedia(s, dir))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // ---- image near-dup via Hamming-banded LSH over dHashes: four
    //      14-bit bands, exact-band self-join, bit_count verify.
    //      Pigeonhole gives PERFECT recall at dist <= 3, so the
    //      banded plan must equal the oracle's brute-force all-pairs
    //      — the recall argument itself is what's being gated. The
    //      fixture plants brightness-shifted twins (dHash invariant:
    //      gradient signs survive a global +17) ----
    "q_image_neardup" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.nearDupImagePairs(
          Multimodal.pngDHashes(
            Multimodal.syntheticPngNearDupMedia(s, dir)).toDF(),
          maxDist = 3)
        .orderBy(col("id1"), col("id2"))
    }),

    // ---- multimodal: REAL Y4M video codec — container header walk,
    //      FRAME-marker frame offsets, keep every 2nd frame, exact
    //      per-plane (YUV 4:2:0) sums; closed-form payloads so the
    //      oracle recomputes every plane byte ----
    "q_video_y4m" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.y4mFrameFeatures(
          Multimodal.syntheticY4mMedia(s, dir), everyN = 2)
        .toDF()
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // ---- per-frame video dHash (every 2nd frame's luma plane through
    //      the 9x7 gradient grid) — the video member of the
    //      fingerprint family; oracle recomputes every bit from the
    //      closed-form frame bytes ----
    "q_video_dhash" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.videoFrameDHashes(
          Multimodal.syntheticY4mMedia(s, dir), everyN = 2)
        .toDF()
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // ---- multimodal: REAL COMPRESSED video — MJPEG-in-AVI. RIFF
    //      container walk (LIST hdrl/strl headers, movi chunks, idx1,
    //      word alignment), every 2nd 00dc chunk decoded by the full
    //      baseline JPEG decoder (Huffman + IDCT), exact luma features.
    //      Payloads are real AVIs of real compressed frames whose
    //      DC-only decode is closed-form, so the oracle recomputes
    //      every decoded pixel arithmetically ----
    "q_video_mjpeg" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.mjpegFrameFeatures(
          Multimodal.syntheticMjpegMedia(s, dir), everyN = 2)
        .toDF()
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // ---- north star: k-means clustering (Lloyd) over embeddings —
    //      deterministic end-to-end: lowest-id init, exact integer
    //      argmin assignment (|c|^2 - 2<v,c> on quantized vectors, ties
    //      to the lower centroid), truncating integer mean update,
    //      empty cells keep their centroid. Two training iterations +
    //      final cell census, oracle-replicated iteration-for-iteration
    //      in SQL. Scale shape per iteration: one broadcast of the
    //      centroid table + one (cent, pos) shuffle — the corpus is
    //      never shuffled ----
    // ---- k-Center greedy (farthest-point) coreset selection: the
    //      running min-distance column folds in ONE new broadcast
    //      center per iteration (k linear passes, never k·|chosen|
    //      distance evals); per-iteration argmax is a distributed
    //      1-heap + 1-row collect ----
    "q_kcenter" -> ((s, dir) => {
      graft.operators.Similarity.kCenterSelect(
          t(s, dir, "embeddings"), k = 8)
        .orderBy(col("sel_order"))
    }),

    // ---- coreset coverage census: nearest selected center per vector
    //      (k-row center table broadcast), member counts + realized
    //      radius² per center — the k-center quality certificate ----
    "q_kcenter_census" -> ((s, dir) => {
      graft.operators.Similarity.kCenterCensus(
          t(s, dir, "embeddings"), k = 8)
        .orderBy(col("sel_order"))
    }),

    "q_kmeans" -> ((s, dir) => {
      import graft.functions.VectorFunctions.quantize
      import graft.plans.LongArrayDot
      val e = t(s, dir, "embeddings")
      val cents = graft.operators.Similarity.trainCentroids(
        e, nlist = 8, iters = 2)
      val w = Window.partitionBy(col("vid"))
        .orderBy(col("dist2c").asc, col("cent_id").asc)
      val census = e
        .select(col("vec_id").as("vid"), quantize(col("embedding")).as("cv"))
        .crossJoin(broadcast(cents))
        .withColumn("dist2c",
          LongArrayDot(col("cent_v"), col("cent_v")) -
            lit(2L) * LongArrayDot(col("cv"), col("cent_v")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("cent_id")).agg(count(lit(1)).as("n_members"))
      cents.join(broadcast(census), Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("n_members"), lit(0L)).as("n_members"),
          LongArrayDot(col("cent_v"), col("cent_v")).as("cnorm2"),
          element_at(col("cent_v"), 1).as("c0"),
          element_at(col("cent_v"), 33).as("c32"))
        .orderBy(col("cent_id"))
    }),

    // ---- as-of join: each purchase matched to the user's latest
    //      prior click (union+window, one shuffle — no range explosion) ----
    "q_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.operators.AsOfJoin.asOfJoin(
          purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightPayload = Seq("click_id", "click_value"),
          suffix = "_click", tieBreak = Some("click_id"))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("click_id_click").as("click_id"),
          col("ts_click").as("click_ts"),
          col("click_value_click").as("click_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- as-of join, forward direction: next click at or after each
    //      purchase (next-touch attribution); ties -> smallest click_id ----
    "q_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.operators.AsOfJoin.asOfJoin(
          purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightPayload = Seq("click_id", "click_value"),
          suffix = "_click", tieBreak = Some("click_id"),
          direction = "forward")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("click_id_click").as("click_id"),
          col("ts_click").as("click_ts"),
          col("click_value_click").as("click_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- as-of join, nearest direction: closest click either side of
    //      each purchase (ties -> backward, the point-in-time-safe side) ----
    "q_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.operators.AsOfJoin.asOfJoin(
          purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightPayload = Seq("click_id", "click_value"),
          suffix = "_click", tieBreak = Some("click_id"),
          direction = "nearest")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("click_id_click").as("click_id"),
          col("ts_click").as("click_ts"),
          col("click_value_click").as("click_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- north star: substring-level exact dedup — repeated 64-char
    //      chunks across documents (boilerplate detection). One explode +
    //      one shuffle; at corpus scale the groupBy key would be the
    //      chunk HASH, kept raw here so the oracle compares content ----
    "q_dedup_chunks" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(expr(
          """transform(
            |  sequence(0, greatest(cast(ceil(length(text)/64.0) as int),
            |                       1) - 1),
            |  i -> substring(text, i*64 + 1, 64))""".stripMargin))
          .as("chunk"))
        .groupBy(col("chunk"))
        .agg(count(lit(1)).as("n_copies"),
          count_distinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keep_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("chunk"))
    }),

    // ---- per-label embedding centroids (quantized, exact) ----
    "q_centroids" -> ((s, dir) => {
      import graft.functions.VectorFunctions.quantize
      t(s, dir, "embeddings")
        .select(col("label"),
          posexplode(quantize(col("embedding"))).as(Seq("pos", "q")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("q")).as("qsum"), count(lit(1)).as("n"))
        .orderBy(col("label"), col("pos"))
    }),

    // ---- HLL sketch: approx distinct, GATED — the sketch estimate is
    //      not cross-engine comparable, but |approx − exact| ≤ ε·exact
    //      is checkable: compute both in one pass and emit the exact
    //      count plus the bound verdict (oracle emits TRUE). ε = 0.15 =
    //      3× the default HLL++ rsd (0.05). ----
    "q_approx_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          approx_count_distinct(col("o_custkey")).as("approx_customers"),
          count_distinct(col("o_custkey")).as("exact_customers"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderstatus"), col("exact_customers"),
          col("n_orders"),
          (abs(col("approx_customers") - col("exact_customers")) <=
            lit(0.15) * col("exact_customers")).as("approx_ok"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- MERGEABLE sketch rollup (Apache DataSketches HLL): fine-grain
    //      sketches built once union to coarser grains without
    //      rescanning — the re-aggregatable-summary pattern for 100 TB
    //      rollup tables. GATED like q_approx_distinct: the merged
    //      estimate must land within ε of the exact distinct computed in
    //      the same job (oracle emits TRUE). ----
    "q_hll_merge" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val detail = li
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(expr("hll_sketch_agg(l_suppkey)").as("sk"),
          count(lit(1)).as("n"))
      val merged = detail.groupBy(col("l_returnflag"))
        .agg(
          expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("approx_suppliers"),
          sum(col("n")).as("n"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_suppkey")).as("exact_suppliers"))
      merged.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_suppliers"), col("n"),
          (abs(col("approx_suppliers") - col("exact_suppliers")) <=
            lit(0.15) * col("exact_suppliers")).as("merge_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- quantile sketch: approx_percentile, GATED by RANK error (the
    //      sketch's actual guarantee: ≤ n/accuracy = 0.1 % rank). The
    //      returned value's tie-robust rank window
    //      [#(x < v), #(x <= v)] must overlap q·n ± 0.5 % (5× margin).
    //      Rank-COUNTING, not exact percentile: two hash aggregations
    //      and a broadcast of 5 tiny per-group rows — no per-group sort
    //      anywhere (the former percentile() gate sorted 6M rows/group
    //      at sf1: 24s of oracle-only cost; this shape is ~2s). ----
    "q_approx_percentile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      val pq = li.groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 1000)")
            .as("pq"),
          count(lit(1)).as("n"))
      def rankOk(q: Double, i: Int): Column = {
        val v = element_at(col("pq"), i)
        val lo = sum(when(col("l_extendedprice") < v, 1L).otherwise(0L))
        val hi = sum(when(col("l_extendedprice") <= v, 1L).otherwise(0L))
        (lo <= (lit(q) + lit(0.005)) * first(col("n")) &&
          hi >= (lit(q) - lit(0.005)) * first(col("n")))
          .as(s"p${(q * 100).round}_ok")
      }
      li.join(broadcast(pq), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(first(col("n")).as("n"), rankOk(0.5, 1), rankOk(0.95, 2),
          rankOk(0.99, 3))
        .orderBy(col("l_returnflag"))
    }),

    // ---- production-metric similarity (double cosine), GATED by rank
    //      agreement: the float ranking itself is not cross-engine
    //      hash-stable, but its top-5 set must overlap the oracle-exact
    //      quantized top-5 (q_simsearch's metric) in ≥4 of 5 slots per
    //      query — both rankings computed in this job, oracle emits
    //      TRUE. ----
    "q_simsearch_cosine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val cosTop = graft.operators.Similarity
        .bruteForceTopKCosine(q, e, k = 5)
        .select(col("qid"), col("cid"))
      val quantTop = graft.operators.Similarity
        .bruteForceTopK(q, e, k = 5)
        .select(col("qid"), col("cid"))
      val overlap = cosTop.join(quantTop, Seq("qid", "cid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("overlap"))
      q.select(col("vec_id").as("qid"))
        .join(overlap, Seq("qid"), "left")
        .select(col("qid"),
          (coalesce(col("overlap"), lit(0L)) >= 4).as("rank_agree_ok"))
        .orderBy(col("qid"))
    }),

    // ---- time-series gap-fill + forward-fill: per-user hourly slots
    //      (sequence/explode), empty hours zero-counted, last observed
    //      value carried forward ----
    "q_gapfill" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id") <= 3)
      val hourly = ev.groupBy(col("user_id"),
          date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n"),
          graft.plans.DecSum.asDouble(col("value"), 6)
            .as("hour_value"))
      val spans = ev.groupBy(col("user_id"))
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
             date_trunc("hour", max(col("ts"))).as("hi"))
      val slots = spans.select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour")))
          .as("hour_start"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hour_start"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      slots.join(hourly, Seq("user_id", "hour_start"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("ffill_value",
          last(col("hour_value"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("hour_start"), col("n"),
          col("ffill_value"))
        .orderBy(col("user_id"), col("hour_start"))
    }),

    // ---- sessionization: gap > 30 min splits a session ----
    "q_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapUs = lit(30L * 60 * 1000000)
      t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
               unix_micros(col("ts")) - col("prev_us") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- sessionization via the NATIVE session_window operator
    //      (Catalyst SessionWindowing — merging windows [ts, ts+gap);
    //      the manual lag/running-sum form above is the portable twin).
    //      NB the boundary differs from the manual form: a gap of
    //      exactly 30min starts a NEW session here (half-open windows);
    //      the oracle mirrors that with >= ----
    "q_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---- aggregation: explicit GROUPING SETS (beyond rollup/cube) ----
    "q_grouping_sets" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  count(*) AS n,
          |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
          |  CAST(grouping(l_linestatus) AS INT) AS g_status
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
          |  l_linestatus NULLS FIRST""".stripMargin)
    }),

    // ---- event-time SLIDING window (1h window, 30m slide: each event
    //      lands in exactly two windows) ----
    "q_event_sliding" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          graft.plans.DecSum.asDouble(col("value"), 6)
            .as("total_value"))
        .select(col("w.start").as("w_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // ---- range (non-equi) join: fact rows banded by a small interval
    //      table — broadcast nested-loop, the scale-safe theta-join shape ----
    "q_join_range" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("low", 0.0, 100000.0),
        ("mid", 100000.0, 250000.0),
        ("high", 250000.0, 1e9)).toDF("band", "lo", "hi")
      t(s, dir, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          graft.plans.DecSum.asDouble(col("o_totalprice"), 2)
            .as("total"))
        .orderBy(col("band"))
    }),

    // ---- exact percentiles (distributed sort-based, not approx) ----
    "q_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("floor(percentile(l_quantity, 0.25) * 1e6 + 0.5) / 1e6").as("p25"),
          expr("floor(percentile(l_quantity, 0.5) * 1e6 + 0.5) / 1e6").as("p50"),
          expr("floor(percentile(l_quantity, 0.75) * 1e6 + 0.5) / 1e6").as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- bloom-pruned join: the explicit runtime-filter pattern. A
    //      bloom filter built over the (selective) dim keys is applied
    //      map-side at the fact scan — at 100 TB this discards ~all
    //      non-matching rows BEFORE the join shuffle; the exact
    //      semi-join afterwards removes the bloom's false positives, so
    //      the result (and the oracle) is the plain semi-join ----
    "q_bloom_join" -> ((s, dir) => {
      val dim = t(s, dir, "supplier").filter(col("s_acctbal") > 8000)
        .select(col("s_suppkey"))
      graft.engine.BloomPrune.semiJoin(
          t(s, dir, "lineitem"), dim, "l_suppkey", "s_suppkey",
          expectedItems = 25L, numBits = 400L)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          graft.plans.DecSum.asDouble(col("l_quantity"), 2)
            .as("sum_qty"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- argmin/argmax aggregation — the deterministic struct-max
    //      idiom: built-in max_by/min_by break value ties arbitrarily;
    //      max/min over a (price, key) struct pin ties to the extreme
    //      key in ONE aggregation pass, engine-portably ----
    "q_argminmax" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          max(struct(col("o_totalprice"), col("o_orderkey"))).as("mx"),
          min(struct(col("o_totalprice"), col("o_orderkey"))).as("mn"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"),
          col("mx.o_orderkey").as("max_key"),
          col("mx.o_totalprice").as("max_price"),
          col("mn.o_orderkey").as("min_key"),
          col("mn.o_totalprice").as("min_price"),
          col("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- anomaly detection: per-type z-score over exact decimal
    //      moments (the q_stats machinery); the tiny stats table
    //      broadcasts back onto the stream — at 100 TB this is one scan
    //      + a map-side join, the facts are never re-shuffled ----
    "q_zscore" -> ((s, dir) => {
      import graft.operators.Anomaly
      val ev = t(s, dir, "events")
      Anomaly.zOutliers(ev,
          Anomaly.groupStats(ev, "event_type", "value"),
          "event_type", "value", threshold = 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          (floor(col("z") * 1e6 + 0.5) / 1e6).as("z"))
        .orderBy(col("event_id"))
    }),

    // ---- robust outliers: median absolute deviation (5×MAD rule) —
    //      two exact-percentile passes with broadcast join-backs; the
    //      moment-free complement of q_zscore for heavy-tailed data.
    //      The threshold uses the ROUNDED mad so the boundary value is
    //      the identical double on both engines ----
    "q_mad" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val med = ev.groupBy(col("event_type"))
        .agg(expr("floor(percentile(value, 0.5) * 1e6 + 0.5) / 1e6")
          .as("med"))
      val dv = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("ad", abs(col("value") - col("med")))
      val mad = dv.groupBy(col("event_type"))
        .agg(expr("floor(percentile(ad, 0.5) * 1e6 + 0.5) / 1e6").as("mad"))
      dv.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          min(col("med")).as("med"),
          min(col("mad")).as("mad"),
          count(lit(1)).as("n"),
          sum(when(col("ad") > lit(5) * col("mad"), 1).otherwise(0))
            .cast("long").as("n_out"))
        .orderBy(col("event_type"))
    }),

    // ---- time-series downsampling: irregular events -> hourly grid
    //      per type (last observation via the deterministic struct-max,
    //      exact decimal mean). Complements q_gapfill, which fills the
    //      empty slots; one shuffle on the (type, hour) grid key ----
    "q_resample" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_start"))
        .agg(
          max(struct(col("ts"), col("event_id"), col("value"))).as("last"),
          graft.plans.DecSum.asDouble(col("value"), 6).as("sv"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("hour_start"),
          col("last.event_id").as("last_event_id"),
          col("last.value").as("last_value"),
          (col("sv") / col("n")).as("avg_value"),
          col("n"))
        .orderBy(col("event_type"), col("hour_start"))
    }),

    // ---- edit-distance near-dup over short strings (exact DP) ----
    "q_editdist" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), col("p_name"))
      val a = p.select(col("p_partkey").as("k1"), col("p_name").as("name1"))
      val b = p.select(col("p_partkey").as("k2"), col("p_name").as("name2"))
      a.join(b, col("k1") < col("k2"))
        .withColumn("dist", levenshtein(col("name1"), col("name2")))
        .filter(col("dist") <= 2)
        .select(col("k1"), col("k2"), col("name1"), col("name2"), col("dist"))
        .orderBy(col("k1"), col("k2"))
    }),

    // ---- blocked entity resolution (fuzzy RECORD dedup — the
    //      dimension-table data-quality op): within-block candidate
    //      pairs, codegen'd Levenshtein gate, shared CC clustering;
    //      the all-pairs q_editdist is the naive contrast ----
    "q_entity_dedup" -> ((s, dir) => {
      graft.operators.Dedup.fuzzyRecordClusters(
          t(s, dir, "customer"), col("c_custkey"), col("c_name"),
          substring(col("c_name"), 1, 16), maxDist = 1)
        .orderBy(col("node"))
    }),

    // ---- pivot (wide conditional aggregation) ----
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- explicit cross join (tiny dims; the deliberate cartesian) ----
    "q_join_cross" -> ((s, dir) => {
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_regionkey"), col("n_nationkey"),
          (col("n_regionkey") === col("r_regionkey")).as("is_home"))
        .orderBy(col("r_regionkey"), col("n_nationkey"))
    }),

    // ---- filtered aggregates (FILTER clause, one pass, no self-join) ----
    "q_agg_filter" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(
        """SELECT o_orderpriority,
          |  count(*) AS n,
          |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_total
          |FROM orders GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- unpivot / melt (wide -> long, the pivot inverse) ----
    "q_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")),
          variableColumnName = "metric",
          valueColumnName = "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"),
          col("value"))
    }),

    // ---- correlated subqueries: EXISTS / NOT EXISTS (decorrelation) ----
    "q_exists" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(existsSql)
    }),

    // ---- NOT IN subquery: planned as a null-aware anti join (a distinct
    //      physical shape from NOT EXISTS' plain anti join) ----
    "q_not_in" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(notInSql)
    }),

    // ---- scalar subquery in a predicate (decorrelated to a broadcast
    //      single-row join); the average is decimal-exact on both sides ----
    "q_scalar_subq" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(scalarSubqSql)
    }),

    // ---- scalar functions: math (IEEE-deterministic ops only).
    //      ORDER BY includes l_discount/l_tax: (l_orderkey, l_linenumber,
    //      l_quantity, l_extendedprice) alone is not a total order and the
    //      disc_amt/d_ceil/t_floor/sgn cells depend on the tie columns. ----
    "q_scalar_math" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          // floor-based rounding, NOT round(): Spark rounds the shortest
          // decimal string of the double (HALF_UP on "x.xx5"), DuckDB the
          // exact binary value — they disagree on boundary values. The
          // floor form runs the same IEEE ops on the same bits everywhere.
          (floor(col("l_extendedprice") * col("l_discount") * 100 + 0.5) / 100)
            .as("disc_amt"),
          (floor(sqrt(col("l_quantity")) * 1e6 + 0.5) / 1e6).as("q_sqrt"),
          ceil(col("l_discount") * 100).cast("long").as("d_ceil"),
          floor(col("l_tax") * 100).cast("long").as("t_floor"),
          signum(col("l_discount") - 0.05).cast("int").as("sgn"),
          greatest(col("l_quantity"), col("l_tax") * 100).as("g"))
    }),

    // ---- SQL API parity: TPC-H Q7 shape (volume shipping) — the
    //      symmetric nation-pair disjunction over a 6-table join; both
    //      nation sides broadcast, revenue is exact decimal per
    //      (supp_nation, cust_nation, year) cell ----
    "q_sql_tpch7" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch7Sql)
    }),

    // ---- SQL API parity: TPC-H Q8 shape (national market share) — the
    //      widest join in the suite (8 tables); the share is a ratio of
    //      two exact decimal sums per year (identical IEEE division on
    //      both engines) ----
    "q_sql_tpch8" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch8Sql)
    }),

    // ---- SQL API parity: TPC-H Q13 shape (customer order-count
    //      distribution) — LEFT OUTER with an ON-clause filter (kept
    //      customers with zero surviving orders count 0), then a
    //      histogram over the counts; pure integers ----
    "q_sql_tpch13" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch13Sql)
    }),

    // ---- SQL API parity: LATERAL correlated subquery (per-customer
    //      order census) — decorrelated by Catalyst into an aggregate
    //      + left outer join; identical SQL text on both engines ----
    "q_sql_lateral" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(lateralSql)
    }),

    // ---- SQL API parity: WITH RECURSIVE (new in Spark 4) — a
    //      hierarchy walk over the implicit binary tree on customer
    //      keys (parent = floor(key/2)): per-depth census + key sum.
    //      The SAME SQL text runs on both engines; recursion depth is
    //      log2(|customer|) ≈ 11 at sf0.01 ----
    "q_sql_recursive" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      recursiveTreeCensus(s)
    }),

    // ---- SQL API parity: TPC-H Q15 shape (top supplier) — CTE used
    //      twice (revenue per supplier + its max); the equality gate is
    //      on the exact DECIMAL revenue, so the argmax is engine-stable
    //      without any float comparison ----
    "q_sql_tpch15" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch15Sql)
    }),

    // ---- SQL API parity: TPC-H Q17 shape (small-quantity revenue) —
    //      the per-part average gate, decorrelated to an aggregate join;
    //      `q < 0.2 * avg` is rearranged to the integer-exact
    //      `q * 5 * cnt < sum` so the boundary is bit-identical ----
    "q_sql_tpch17" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch17Sql)
    }),

    // ---- SQL API parity: TPC-H Q19 shape (discounted revenue) — the
    //      three-arm disjunctive predicate over a part join: Catalyst
    //      extracts the common p_partkey equi-condition and pushes the
    //      OR into a post-join filter ----
    "q_sql_tpch19" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch19Sql)
    }),

    // ---- SQL API parity: TPC-H Q20 shape (excess inventory) — nested
    //      IN subqueries with a HAVING gate: part probe -> per-supplier
    //      shipped-quantity aggregate -> supplier semi join ----
    // ---- SQL API parity: the four remaining TPC-H shapes (2/9/11/16,
    //      adapted to the partsupp-free schema with lineitem as the
    //      part-supplier relation; each keeps the construct the
    //      original exists to test) — the 22-shape set is complete ----
    "q_sql_tpch2" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch2Sql)
    }),
    "q_sql_tpch9" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch9Sql)
    }),
    "q_sql_tpch11" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch11Sql)
    }),
    "q_sql_tpch16" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch16Sql)
    }),

    "q_sql_tpch20" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch20Sql)
    }),

    // ---- SQL API parity: TPC-H Q21 shape (waiting suppliers) — the
    //      EXISTS + NOT EXISTS pair over lineitem self-joins (another
    //      supplier contributed / no other supplier was late);
    //      l_returnflag='R' stands in for the missing receipt/commit
    //      dates, preserving both correlated quantifiers ----
    "q_sql_tpch21" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch21Sql)
    }),

    // ---- SQL API parity: TPC-H Q22 shape (global sales opportunity) —
    //      substring-derived country code, positive-balance average as
    //      an exact scalar subquery (rearranged to `bal * cnt > sum`),
    //      and a NOT EXISTS anti join against orders ----
    "q_sql_tpch22" -> ((s, dir) => {
      Readers.registerAll(s, dir)
      s.sql(tpch22Sql)
    }),

    // ---- north star: token-budget sequence packing (the loader-facing
    //      packing manifest) — hash-sharded streams, per-shard running
    //      token offsets, bins cut at budget boundaries. Per-shard
    //      window only: no global sort anywhere ----
    "q_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Curation.packShards(d, col("doc_id"),
          size(split(col("text"), " ")), shards = 8, budget = 512L)
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"), col("bin"))
    }),

    // ---- north star: deterministic corpus interleave (reproducible
    //      global shuffle) — per-shard md5 order, arithmetic round-robin
    //      merge; the 100 TB path is shard files walked round-robin ----
    "q_interleave" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Curation.interleave(d, col("doc_id"), shards = 4)
        .select(col("doc_id"), col("shard"), col("pos_in_shard"),
          col("global_pos"))
        .orderBy(col("global_pos"))
    }),

    // ---- dense interleave: 0..n-1 positions even with unequal shards
    //      (closed-form rank from the shard-size vector — no global
    //      window; the loader-facing variant of q_interleave) ----
    "q_interleave_dense" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Curation.interleaveDense(d, col("doc_id"),
          shards = 4)
        .select(col("doc_id"), col("shard"), col("pos_in_shard"),
          col("global_pos"))
        .orderBy(col("global_pos"))
    }),

    // ---- the near-dup SCALE paths, oracle-gated at gate SF: the
    //      adaptive switch (Σ df² budget) would only ever run these at
    //      10x scale, so force them here — outputs must equal the
    //      direct-enumeration oracles exactly ----
    "q_jaccard_prefix" -> ((s, dir) => {
      graft.operators.Dedup.jaccardPairsPrefix(
          t(s, dir, "documents").filter(col("doc_id") < 2500), tau = 0.3)
        .orderBy(col("d1"), col("d2"))
    }),
    "q_containment_prefix" -> ((s, dir) => {
      graft.operators.Dedup.containmentPairsPrefix(
          t(s, dir, "documents").filter(col("doc_id") < 2500), tau = 0.5)
        .orderBy(col("d1"), col("d2"))
    }),

    // ---- north star: exact substring dedup (the "l-token span already
    //      seen elsewhere" rule) — duplicated spans and their excision;
    //      one posting-keyed exchange, per-doc interval merge ----
    "q_span_dedup" -> ((s, dir) => {
      graft.operators.Dedup.duplicateSpans(t(s, dir, "documents"), l = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }),
    "q_span_excise" -> ((s, dir) => {
      graft.operators.Dedup.exciseDuplicateSpans(
          t(s, dir, "documents"), l = 8)
        .orderBy(col("doc_id"))
    }),
    // decontamination by excision: windows seen in the reference corpus
    // (doc_id < 450) are cut out of arriving docs (doc_id >= 450)
    "q_span_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.exciseSeenSpans(
          docs.filter(col("doc_id") >= 450),
          docs.filter(col("doc_id") < 450), l = 8)
        .orderBy(col("doc_id"))
    }),
    // the SCALE knob of the same decontamination: hashKeys=true shuffles
    // an 8-byte xxhash64 per posting instead of the l-token window
    // string (the daily-ingest-vs-stored-corpus regime where `seen` is
    // the big side and the join is a sort-merge on longs). The output
    // contract is IDENTICAL — the hash only compresses the join key —
    // so the string-path oracle gates the hashed plan end-to-end (a
    // 64-bit collision could only over-mark a span; none at any SF here)
    "q_span_decontam_hashed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.exciseSeenSpans(
          docs.filter(col("doc_id") >= 450),
          docs.filter(col("doc_id") < 450), l = 8, hashKeys = true)
        .orderBy(col("doc_id"))
    }),

    // ---- north star: domain-mixture rebalancing — per-language keep
    //      rates (deterministic hash folds, no RNG) with the realized
    //      mixture reported against the original distribution ----
    "q_mixture" -> ((s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents")
      val orig = d.groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
      val kept = Sampling.stratifiedSample(d, col("doc_id"), col("lang"),
          rates = Map("en" -> 2, "zh" -> 8), defaultNum = 5, den = 10)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      orig.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_orig"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
        .orderBy(col("lang"))
    }),

    // ---- north star: temperature-scaled mixture weights (the mT5/
    //      XLM-R alpha-sampling rule, alpha = 1/2): w_l ∝ n_l^alpha.
    //      Each sqrt term is quantized to integer micro-units BEFORE the
    //      cross-language sum, so the normalizing constant is exact
    //      integer math under any aggregation order; the final weight is
    //      one fixed-order double ratio ----
    "q_mixture_alpha" -> ((s, dir) => {
      val perLang = t(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("q_sqrt", floor(sqrt(col("n_docs").cast("double"))
          * 1e6).cast("long"))
      val total = perLang.agg(sum(col("q_sqrt")).as("z"),
        sum(col("n_docs")).as("n_total"))
      perLang.crossJoin(broadcast(total))
        .select(col("lang"), col("n_docs"),
          (col("q_sqrt").cast("double") / col("z").cast("double"))
            .as("alpha_weight"),
          floor(col("q_sqrt").cast("double") / col("z").cast("double")
            * col("n_total").cast("double")).cast("long")
            .as("expected_sample"))
        .orderBy(col("lang"))
    }),

    // ---- north star: k-fold cross-validation assignment — salted hash
    //      folds (decoupled from every other hash split in the
    //      pipeline); per-(fold, lang) census proves balance ----
    "q_folds" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(graft.operators.Curation.cvFold(col("doc_id"), 5).as("fold"),
          col("lang"), col("n_chars"))
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("fold"), col("lang"))
    }),

    // ---- north star: curriculum binning — quartiles over token count
    //      with EXACT ntile semantics but no corpus-wide window: rank =
    //      per-value window (parallel) + broadcast histogram offsets
    //      (Curation.equalCountBins). The only single-partition work is
    //      the tiny token-count histogram ----
    "q_curriculum" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Curation.equalCountBins(
          d.select(col("doc_id"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
          col("n_tok"), col("doc_id"), k = 4)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("n_tok")).as("min_tok"),
          max(col("n_tok")).as("max_tok"), sum(col("n_chars")).as("chars"))
        .orderBy(col("bin"))
    }),

    // ---- north star: split-drift integrity check — per-language counts
    //      in two deterministic hash-halves plus the absolute skew; one
    //      conditional-aggregation pass, integers only ----
    "q_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Curation.halfDrift(d, col("doc_id"), col("lang"))
        .withColumnRenamed("grp", "lang")
        .orderBy(col("lang"))
    }),

    // ---- corpus snapshot diff (two crawl generations): planted adds
    //      (id >= 400 only in new), removes (id < 50 only in old), and
    //      content changes (every 97th doc mutated) — one full outer
    //      join carrying only (id, md5), text never crosses ----
    "q_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") < 400)
      val newSnap = docs.filter(col("doc_id") >= 50)
        .withColumn("text",
          when(col("doc_id") % 97 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.Curation.corpusDiff(oldSnap, newSnap,
          "doc_id", "text")
        .where(col("status") =!= "unchanged")
        .orderBy(col("id"))
    }),

    // ---- CUSUM change-point detection (Page 1954) per event type:
    //      the clamped recursion via its closed two-window form
    //      (prefix sum minus running min), whole inequality scaled by
    //      n so there is NO division — exact integer milli-units end
    //      to end, one key exchange + in-partition sort; h chosen so
    //      the testdata splits into alarming and quiet keys ----
    "q_cusum" -> ((s, dir) => {
      graft.operators.Curation.cusum(t(s, dir, "events"),
          col("event_type"), col("ts"), col("event_id"), col("value"),
          slackMilli = 0L, hMilli = 2000000L)
        .orderBy(col("k"))
    }),

    // ---- fixed-reference CUSUM (the streamable form — μ is a given
    //      monitoring target, not the series mean): plain deviations,
    //      unscaled threshold; EventStream.cusumAlarms is its stateful
    //      streaming twin, spec-locked equal on in-order arrival ----
    "q_cusum_fixed" -> ((s, dir) => {
      graft.operators.Curation.cusumFixed(t(s, dir, "events"),
          col("event_type"), col("ts"), col("event_id"), col("value"),
          muMilli = 53000L, slackMilli = 3000L, hMilli = 300000L)
        .orderBy(col("k"))
    }),

    // ---- FINE-KEYED CUSUM (the scale form of the drift alarm): key =
    //      user_id instead of the 5-value event_type, so parallelism is
    //      the user population (150/1.5k/45k at sf0.01/0.1/3), not the
    //      type count — the measured answer to the r11 "parallelism =
    //      key count" caveat (PLANS.md r12 scale rows). Same operator,
    //      same two-window closed form, per-key series ~n/users rows ----
    "q_cusum_user" -> ((s, dir) => {
      graft.operators.Curation.cusumFixed(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          muMilli = 50000L, slackMilli = 2000L, hMilli = 150000L)
        .orderBy(col("k"))
    }),

    // ---- interval-overlap self-join: cross-user session overlaps via
    //      hour-bucket equi-join (each interval explodes to the buckets
    //      it spans; overlapping intervals always share the bucket that
    //      contains the overlap, so the bucketed join finds exactly the
    //      BNLJ pairs with a shuffle that scales in bucket occupancy,
    //      not sessions²) ----
    "q_join_interval" -> ((s, dir) => {
      val hourUs = 3600000000L
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapUs = lit(30L * 60 * 1000000)
      val sess = t(s, dir, "events")
        .filter(col("user_id") <= 30)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
               unix_micros(col("ts")) - col("prev_us") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session"))
          .over(byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(unix_micros(col("ts"))).as("st"),
          max(unix_micros(col("ts"))).as("en"))
      val bucketed = sess.select(col("user_id"), col("session_id"),
        col("st"), col("en"),
        explode(sequence(floor(col("st") / hourUs).cast("long"),
          floor(col("en") / hourUs).cast("long"))).as("b"))
      val a = bucketed.select(col("b"), col("user_id").as("u1"),
        col("session_id").as("s1"), col("st").as("st1"), col("en").as("en1"))
      val bb = bucketed.select(col("b"), col("user_id").as("u2"),
        col("session_id").as("s2"), col("st").as("st2"), col("en").as("en2"))
      a.join(bb, Seq("b"))
        .filter(col("u1") < col("u2"))
        .filter(col("st1") <= col("en2") && col("st2") <= col("en1"))
        .select(col("u1"), col("s1"), col("u2"), col("s2"),
          (least(col("en1"), col("en2")) - greatest(col("st1"), col("st2")))
            .as("overlap_us"))
        .distinct()
        .orderBy(col("u1"), col("s1"), col("u2"), col("s2"))
    }),

    // ---- north star: classifier evaluation — language-ID confusion
    //      matrix against the labeled corpus (the eval harness every
    //      heuristic filter needs before gating a corpus on it) ----
    "q_langid_eval" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.langIdPosting(d)
        .select(col("doc_id"), col("lang_pred"))
        .join(d.select(col("doc_id"), col("lang").as("lang_true")),
          Seq("doc_id"))
        .groupBy(col("lang_true"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang_true"), col("lang_pred"))
    }),

    // ---- north star: sliding-window chunking (RAG/context-window
    //      ingest: 32-token windows, stride 16 — sized to the synthetic
    //      docs so windowing actually overlaps) — pure per-row explode,
    //      no shuffle except the presentation sort ----
    "q_chunk_windows" -> ((s, dir) => {
      val win = 32
      val stride = 16
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
          col("toks"))
        .select(col("doc_id"), col("n_tok"),
          explode(transform(
            sequence(lit(0),
              when(col("n_tok") <= win, lit(0))
                .otherwise(floor((col("n_tok") - win + stride - 1)
                  .cast("double") / stride).cast("long"))),
            i => struct(i.as("chunk_idx"),
              (i * stride + 1).as("start_tok"),
              least(lit(win.toLong), col("n_tok") - i * stride)
                .as("chunk_toks")))).as("c"))
        .select(col("doc_id"), col("n_tok"),
          col("c.chunk_idx").cast("long").as("chunk_idx"),
          col("c.start_tok").cast("long").as("start_tok"),
          col("c.chunk_toks").cast("long").as("chunk_toks"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- north star: boilerplate excision over shared CDC chunks (the
    //      C4/RefinedWeb template-removal step at chunk granularity);
    //      common-chunk set broadcasts back as a left-anti gate, docs
    //      reconstruct in original order ----
    "q_boilerplate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.stripBoilerplate(d, minDocs = 3)
        .join(d.select(col("doc_id"),
          length(col("text")).cast("long").as("orig_len")), Seq("doc_id"))
        .select(col("doc_id"), col("n_kept"),
          length(col("clean_text")).cast("long").as("clean_len"),
          (col("orig_len") - length(col("clean_text")).cast("long"))
            .as("removed"))
        .orderBy(col("doc_id"))
    }),

    // ---- north star: ANN quality evaluation — recall@5 of the IVF
    //      index against the brute-force ground truth, as exact integer
    //      hit counts (the acceptance gate every production ANN rollout
    //      runs before switching retrieval paths) ----
    "q_simsearch_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Similarity.bruteForceTopK(qs, e, k = 5)
        .select(col("qid"), col("cid"))
      val approx = graft.operators.Similarity.ivfTopK(
          qs, e, k = 5, nlist = 16, nprobe = 4)
        .select(col("qid"), col("cid"))
      val hits = exact.intersect(approx)
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0)
            .as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- ANN quality evaluation for the COMPRESSED indexes: recall@5
    //      of PQ (codes + ADC lookup) against the brute-force ground
    //      truth — the acceptance gate that decides whether a lossy
    //      code budget is shippable; exact integer hit counts, same
    //      device as q_simsearch_recall ----
    "q_pq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Similarity.bruteForceTopK(qs, e, k = 5)
        .select(col("qid"), col("cid"))
      val approx = graft.operators.Similarity.pqTopK(qs, e, k = 5)
        .select(col("qid"), col("cid"))
      val hits = exact.intersect(approx)
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0)
            .as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- recall@5 of SQ8 (per-dim 8-bit scalar quantization) vs the
    //      brute-force truth — PQ's sibling gate ----
    "q_sq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Similarity.bruteForceTopK(qs, e, k = 5)
        .select(col("qid"), col("cid"))
      val approx = graft.operators.Similarity.sqTopK(qs, e, k = 5)
        .select(col("qid"), col("cid"))
      val hits = exact.intersect(approx)
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0)
            .as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- recall@5 of the LSH-bucketed path vs the brute-force truth —
    //      the last index family without an acceptance gate (IVF/PQ/SQ8
    //      got theirs in r11/r13): exact integer INTERSECT hit counts
    //      decide whether the banding admits enough true neighbors ----
    "q_lsh_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
      val exact = graft.operators.Similarity.bruteForceTopK(qs, e, k = 5)
        .select(col("qid"), col("cid"))
      val approx = graft.operators.Similarity.lshTopK(qs, e, k = 5)
        .select(col("qid"), col("cid"))
      val hits = exact.intersect(approx)
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0)
            .as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- north star: content-defined chunking dedup (FastCDC family) —
    //      boundaries from the positional rolling hash (insertion-stable,
    //      unlike fixed-width q_dedup_chunks); shared blocks collapse to
    //      one chunk row regardless of offset ----
    "q_dedup_cdc" -> ((s, dir) => {
      import graft.functions.StableHash.stableHash60
      graft.operators.TextAnalysis.cdcChunks(t(s, dir, "documents"))
        .groupBy(stableHash60(col("chunk")).as("chunk_h"))
        .agg(count(lit(1)).as("n_copies"),
          count_distinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keep_doc"),
          min(length(col("chunk"))).cast("long").as("chunk_len"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("chunk_h"))
    }),

    // ---- event analytics: conversion funnel (view -> click -> purchase,
    //      each stage within 1 day of the previous). Every stage is a
    //      groupBy(user_id) min-aggregate; all three shuffles hash on the
    //      same key, so the exchanges line up and the stage joins never
    //      re-shuffle the larger side ----
    "q_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val day = expr("INTERVAL 1 DAY")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + day)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + day)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      def stage(df: DataFrame, n: Int, name: String, tcol: String) =
        df.agg(count(lit(1)).as("n_users"),
            min(col(tcol)).as("first_ts"), max(col(tcol)).as("last_ts"))
          .select(lit(n.toLong).as("stage_n"), lit(name).as("stage"),
            col("n_users"), col("first_ts"), col("last_ts"))
      stage(v, 1, "view", "t1")
        .unionByName(stage(c, 2, "click", "t2"))
        .unionByName(stage(p, 3, "purchase", "t3"))
        .orderBy(col("stage_n"))
    }),

    // ---- event analytics: cohort retention matrix — cohort = first
    //      active day, cell = distinct users active `d_off` days later.
    //      Two aggregates + one join on user_id (the cohort table is
    //      |users| rows and joins map-side after the first shuffle) ----
    "q_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val firstDay = ev.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("cohort"))
      ev.join(firstDay, Seq("user_id"))
        .select(col("user_id"), col("cohort"),
          datediff(date_trunc("day", col("ts")), col("cohort")).cast("long")
            .as("d_off"))
        .filter(col("d_off") <= 7)
        .distinct()
        // cohort stays TIMESTAMP (midnight) in the dump: a DATE column
        // reads back as pandas date OBJECTS from Spark parquet but
        // datetime64 from the DuckDB oracle — dtype-hash-divergent
        // under the driver's comparator (the q_avro_roundtrip lesson);
        // the date-grain semantics are already pinned by date_trunc
        .groupBy(col("cohort"), col("d_off"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy(col("cohort"), col("d_off"))
    }),

    // ---- event analytics: SCD2 history build (the CDC-dimension twin
    //      of q_upsert's merge): per-key change stream -> validity
    //      intervals via lead(), open interval = current row. One
    //      window shuffle; at 100 TB the change stream is the small
    //      CDC slice, never the full dimension ----
    "q_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("event_id"))
      t(s, dir, "events")
        .filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
          col("value"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    })
  )

  /** Shared Spark/DuckDB SQL for q_sql_tpch7 (volume shipping): the
    * symmetric nation-pair disjunction; year extracted as BIGINT on both
    * engines, revenue exact decimal.
    */
  private val tpch7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
      |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
      |      AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch8 (national market share):
    * ratio of two exact decimal sums — the division is one double op on
    * identical operands, so the share is bit-identical cross-engine.
    */
  private val tpch8Sql: String =
    """SELECT o_year,
      |  CAST(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
      |                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
      |     / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
      |      AS volume,
      |    n2.n_name AS nation
      |  FROM part, supplier, lineitem, orders, customer,
      |       nation n1, nation n2, region
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey
      |    AND n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |    AND s_nationkey = n2.n_nationkey
      |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |    AND p_type = 'ECONOMY'
      |) all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch13 (order-count histogram):
    * LEFT OUTER with an ON-clause filter, two stacked aggregations,
    * integers end-to-end.
    */
  private val tpch13Sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey
      |) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch15 (top supplier): the
    * revenue CTE feeds both the per-supplier join and the max scalar
    * subquery; the argmax equality is on the exact DECIMAL.
    */
  private val tpch15Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
      |      AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name,
      |  CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch17 (small-quantity revenue):
    * the avg gate `q < 0.2 * avg` rearranged to `q * 5 * cnt < sum` —
    * decimal-exact, so the boundary rows agree bit-for-bit. p_type
    * stands in for the missing p_container.
    */
  private val tpch17Sql: String =
    """SELECT
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / 7.0 AS DOUBLE) AS avg_yearly,
      |  count(*) AS n
      |FROM lineitem, part,
      |  (SELECT l_partkey AS a_partkey, count(*) AS cnt,
      |     sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
      |   FROM lineitem GROUP BY l_partkey) agg
      |WHERE p_partkey = l_partkey AND a_partkey = l_partkey
      |  AND p_brand = 'Brand#11' AND p_type = 'SMALL'
      |  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sq""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch19 (discounted revenue, the
    * disjunctive-predicate probe): three brand/size/quantity arms OR'd
    * over one part equi-join.
    */
  private val tpch19Sql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |        AND l_quantity >= 1 AND l_quantity <= 11)
      |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |        AND l_quantity >= 10 AND l_quantity <= 20)
      |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity >= 20 AND l_quantity <= 30))""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch20 (excess inventory):
    * nested IN subqueries — part-name probe, per-supplier shipped
    * quantity with a HAVING gate, supplier semi join.
    */
  /** Shared Spark/DuckDB SQL for q_sql_tpch2 (minimum-cost supplier):
    * the correlated scalar-min subquery over the region-filtered
    * supplier network. lineitem stands in for the missing partsupp
    * (l_extendedprice as the supply cost); the correlated MIN and the
    * two region joins — the shape Q2 exists to test — are intact.
    */
  private val tpch2Sql: String =
    """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
      |FROM part, supplier, lineitem, nation, region
      |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |  AND p_size = 15 AND p_type = 'STANDARD'
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND l_extendedprice = (
      |    SELECT min(l2.l_extendedprice)
      |    FROM lineitem l2, supplier s2, nation n2, region r2
      |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey
      |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin

  /** q_sql_tpch9 (product-type profit): the multi-join profit rollup by
    * nation and order year. Without partsupp the amount drops the
    * ps_supplycost term; DECIMAL casts keep the sums order-independent.
    */
  /** Oracle for BOTH q_span_decontam and q_span_decontam_hashed —
    * the hashed-key plan is output-identical (xxhash64 postings are
    * an internal shuffle compression, not a contract change).
    */
  /** Unigram-LM training unrolled as CTEs (q_unigram_lm /
    * q_unigram_fertility): word freq -> substring seed (top-150 +
    * alphabet) -> micro-nat costs -> 2 hard-EM iterations, each a
    * RECURSIVE enumeration of every segmentation per word with the
    * engine's exact Viterbi tie-break (cost, ntok, longest-token-first
    * via `list_transform(path, x -> -len(x))` ordering) -> prune to
    * top-60 + alphabet -> final costs. Selection branches use
    * UNION ALL with an explicit NOT IN disjointness guard (NOT plain
    * UNION): under WITH RECURSIVE DuckDB skips UNION dedup for
    * branches holding an ORDER/LIMIT subquery, which silently
    * duplicated alphabet rows and inflated every cost total.
    */
  /** dHash CTE shared by q_image_dhash / q_image_neardup: closed-form
    * pixels of the planted-twin PNG corpus (twin = id-5's base image
    * +17 brightness, exact under the 200-cap), 9x7 nearest-neighbor
    * grid, 56 gradient-sign bits.
    */
  private val dhashCte: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 7 THEN doc_id - 5 ELSE doc_id END AS e,
      |    CASE WHEN doc_id % 10 = 7 THEN 17 ELSE 0 END AS sh
      |  FROM documents),
      |dd AS (
      |  SELECT doc_id, e, sh,
      |    CAST(8 + e % 13 AS INT) AS w, CAST(5 + e % 7 AS INT) AS h
      |  FROM d),
      |hs AS (
      |  SELECT doc_id AS media_id,
      |    CAST(list_sum(list_transform(range(0, 56), i ->
      |      CASE WHEN
      |        (((e + (((i // 8) * h // 7) * w + ((i % 8) * w // 9)) * 11)
      |          * 2654435761) % 200 + sh)
      |        >
      |        (((e + (((i // 8) * h // 7) * w
      |             + (((i % 8) + 1) * w // 9)) * 11)
      |          * 2654435761) % 200 + sh)
      |      THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
      |      AS BIGINT) AS dhash
      |  FROM dd)""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_lateral: a LATERAL correlated
    * aggregate subquery (per-customer order census). Spark decorrelates
    * it into agg + outer join; DuckDB executes it natively — results
    * must agree exactly (decimal-exact sum cast to double at the end,
    * the cross-engine numeric policy).
    */
  private val lateralSql: String =
    """SELECT c.c_custkey, t.cnt, t.total
      |FROM customer c,
      |LATERAL (
      |  SELECT count(*) AS cnt,
      |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |      AS total
      |  FROM orders o WHERE o.o_custkey = c.c_custkey) t
      |WHERE c.c_custkey <= 500
      |ORDER BY c.c_custkey""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_recursive: the recursive-CTE
    * parity probe (Spark 4's WITH RECURSIVE). Parent of key k in the
    * implicit binary tree is floor(k/2); the walk starts at the root
    * and descends one level per iteration, so every customer appears
    * exactly once at depth floor(log2(key)). floor(x/2) via double
    * division is exact for keys < 2^52.
    */
  private[graft] val recursiveSql: String =
    """WITH RECURSIVE tree(custkey, depth) AS (
      |  SELECT CAST(c_custkey AS BIGINT), 0 FROM customer
      |  WHERE c_custkey = 1
      |  UNION ALL
      |  SELECT CAST(c.c_custkey AS BIGINT), t.depth + 1
      |  FROM customer c JOIN tree t
      |    ON CAST(floor(c.c_custkey / 2) AS BIGINT) = t.custkey
      |  WHERE c.c_custkey > 1)
      |SELECT depth, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(custkey) AS BIGINT) AS key_sum
      |FROM tree GROUP BY depth ORDER BY depth""".stripMargin

  /** Key cap for [[recursiveTreeCensus]]'s driver tier: customer keys
    * fold into ONE primitive long array (8 B/key — tens of MB at the
    * cap), the depth walk is a sorted-array binary-search fold, and the
    * result is a ≤64-row LocalRelation. Above the cap — or on a
    * duplicate key set, whose UNION ALL multiplicities the local walk
    * does not model — the Spark 4 WITH RECURSIVE plan runs unchanged.
    * The distributed walk is one join + localLimit barrier per tree
    * LEVEL (~14 jobs at sf0.1, ~95% scheduling constants).
    */
  private[graft] val RecursiveLocalMaxKeys = 2000000L

  /** Driver evaluation of [[recursiveSql]]'s tree walk over a DISTINCT
    * key set: depth(k) = depth(k >> 1) + 1 where the whole ancestor
    * chain down to the root 1 is present in the key set, else k is
    * unreachable and excluded — exactly the recursive CTE's semantics
    * (the working table only ever holds reachable keys; parent(k) < k
    * so processing keys ascending sees every parent first). Returns
    * None on a duplicate key (the caller falls back to the SQL plan),
    * else the (depth, n, key_sum) census ordered by depth. Depth is
    * bounded by 62 = log2(Long.MaxValue); sums of in-set keys cannot
    * overflow under the caller's key cap.
    */
  private[graft] def localTreeCensus(
      keys0: Array[Long]): Option[Seq[(Int, Long, Long)]] = {
    val keys = keys0.clone()
    java.util.Arrays.sort(keys)
    var i = 1
    while (i < keys.length) {
      if (keys(i) == keys(i - 1)) return None
      i += 1
    }
    val depth = new Array[Int](keys.length)
    val cnt = new Array[Long](64)
    val sum = new Array[Long](64)
    var maxD = -1
    i = 0
    while (i < keys.length) {
      val k = keys(i)
      val d =
        if (k == 1L) 0
        else if (k > 1L) {
          val pi = java.util.Arrays.binarySearch(keys, k >> 1)
          if (pi >= 0 && depth(pi) >= 0) depth(pi) + 1 else -1
        } else -1
      depth(i) = d
      if (d >= 0) {
        cnt(d) += 1L
        sum(d) += k
        if (d > maxD) maxD = d
      }
      i += 1
    }
    Some((0 to maxD).map(d => (d, cnt(d), sum(d))))
  }

  /** q_sql_recursive execution tier. The SQL text stays the contract
    * (and the oracle); below [[RecursiveLocalMaxKeys]] the same census
    * is computed on the driver — one bounded key collect, which is also
    * the gate, replaces ~14 per-level join jobs — and returned as a
    * LocalRelation carrying the SQL plan's OWN analyzed schema, so
    * names, types and nullability cannot drift. SqlRecursiveSpec pins
    * local == SQL on contiguous, gapped, rootless and adversarial key
    * sets.
    */
  private[graft] def recursiveTreeCensus(s: SparkSession): DataFrame = {
    lazy val sql = s.sql(recursiveSql)
    graft.engine.DriverTier.collect(
        s.table("customer").select(col("c_custkey").cast("long")),
        RecursiveLocalMaxKeys, "graft.recursive: driver tier collect")
      .flatMap(rows => localTreeCensus(
        rows.filterNot(_.isNullAt(0)).map(_.getLong(0)))) match {
      case None => sql
      case Some(rows) =>
        val out = rows.map { case (d, n, ks) =>
          org.apache.spark.sql.Row(d, n, ks): org.apache.spark.sql.Row
        }
        s.createDataFrame(java.util.Arrays.asList(out: _*), sql.schema)
    }
  }

  private val unigramCte: String =
    """WITH RECURSIVE
      |wf AS (
      |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE len(w) > 0 GROUP BY w),
      |seed0 AS (
      |  SELECT token, CAST(sum(f) AS BIGINT) AS cnt FROM (
      |    SELECT freq AS f,
      |      unnest(flatten(list_transform(range(1, least(4, len(word)) + 1),
      |        l -> list_transform(range(1, len(word) - l + 2),
      |          s -> substring(word, s, l))))) AS token
      |    FROM wf) GROUP BY token),
      |chars AS (SELECT DISTINCT token FROM seed0 WHERE len(token) = 1),
      |top0 AS (
      |  SELECT token, cnt FROM seed0 ORDER BY cnt DESC, token LIMIT 150),
      |v0c AS (
      |  SELECT token, cnt FROM top0
      |  UNION ALL
      |  SELECT token, cnt FROM seed0
      |  WHERE token IN (SELECT token FROM chars)
      |    AND token NOT IN (SELECT token FROM top0)),
      |v0 AS (
      |  SELECT token, cnt, CAST(floor(-1000000.0 * ln(CAST(cnt AS DOUBLE) /
      |    CAST((SELECT sum(cnt) FROM v0c) AS DOUBLE)) + 0.5) AS BIGINT)
      |    AS cost
      |  FROM v0c),
      |seg1(word, pos, path, c, ntok) AS (
      |  SELECT word, 0, CAST([] AS VARCHAR[]), CAST(0 AS BIGINT), 0 FROM wf
      |  UNION ALL
      |  SELECT s.word, s.pos + len(v.token), list_append(s.path, v.token),
      |         s.c + v.cost, s.ntok + 1
      |  FROM seg1 s JOIN v0 v
      |    ON substring(s.word, s.pos + 1, len(v.token)) = v.token),
      |best1 AS (
      |  SELECT word, path FROM (
      |    SELECT word, path, row_number() OVER (PARTITION BY word
      |      ORDER BY c, ntok, list_transform(path, x -> -len(x))) AS rn
      |    FROM seg1 WHERE pos = len(word)) WHERE rn = 1),
      |use1 AS (
      |  SELECT token, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT wf.freq, unnest(b.path) AS token
      |    FROM best1 b JOIN wf USING (word)) GROUP BY token),
      |u1 AS (
      |  SELECT token, cnt FROM use1
      |  UNION ALL
      |  SELECT token, CAST(1 AS BIGINT) FROM chars
      |  WHERE token NOT IN (SELECT token FROM use1)),
      |v1 AS (
      |  SELECT token, cnt, CAST(floor(-1000000.0 * ln(CAST(cnt AS DOUBLE) /
      |    CAST((SELECT sum(cnt) FROM u1) AS DOUBLE)) + 0.5) AS BIGINT)
      |    AS cost
      |  FROM u1),
      |seg2(word, pos, path, c, ntok) AS (
      |  SELECT word, 0, CAST([] AS VARCHAR[]), CAST(0 AS BIGINT), 0 FROM wf
      |  UNION ALL
      |  SELECT s.word, s.pos + len(v.token), list_append(s.path, v.token),
      |         s.c + v.cost, s.ntok + 1
      |  FROM seg2 s JOIN v1 v
      |    ON substring(s.word, s.pos + 1, len(v.token)) = v.token),
      |best2 AS (
      |  SELECT word, path FROM (
      |    SELECT word, path, row_number() OVER (PARTITION BY word
      |      ORDER BY c, ntok, list_transform(path, x -> -len(x))) AS rn
      |    FROM seg2 WHERE pos = len(word)) WHERE rn = 1),
      |use2 AS (
      |  SELECT token, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT wf.freq, unnest(b.path) AS token
      |    FROM best2 b JOIN wf USING (word)) GROUP BY token),
      |u2 AS (
      |  SELECT token, cnt FROM use2
      |  UNION ALL
      |  SELECT token, CAST(1 AS BIGINT) FROM chars
      |  WHERE token NOT IN (SELECT token FROM use2)),
      |top2 AS (
      |  SELECT token, cnt FROM u2 ORDER BY cnt DESC, token LIMIT 60),
      |kept AS (
      |  SELECT token, cnt FROM top2
      |  UNION ALL
      |  SELECT token, cnt FROM u2
      |  WHERE token IN (SELECT token FROM chars)
      |    AND token NOT IN (SELECT token FROM top2)),
      |vf AS (
      |  SELECT token, cnt, CAST(floor(-1000000.0 * ln(CAST(cnt AS DOUBLE) /
      |    CAST((SELECT sum(cnt) FROM kept) AS DOUBLE)) + 0.5) AS BIGINT)
      |    AS cost
      |  FROM kept)""".stripMargin

  private val spanDecontamSql: String =
    """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |wN AS (
        |  SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS i
        |  FROM tok WHERE len(ts) >= 8 AND doc_id >= 450),
        |wgN AS (
        |  SELECT doc_id, i, array_to_string(ts[i+1:i+8], ' ') AS gram
        |  FROM wN),
        |gC AS (
        |  SELECT DISTINCT array_to_string(ts[i+1:i+8], ' ') AS gram
        |  FROM (SELECT ts, unnest(range(0, len(ts) - 7)) AS i
        |        FROM tok WHERE len(ts) >= 8 AND doc_id < 450)),
        |cp AS (
        |  SELECT wgN.doc_id, unnest(range(wgN.i, wgN.i + 8)) AS p
        |  FROM wgN JOIN gC USING (gram)),
        |cov AS (SELECT DISTINCT doc_id, p FROM cp),
        |tp AS (
        |  SELECT doc_id, unnest(ts) AS w, unnest(range(0, len(ts))) AS p
        |  FROM tok WHERE doc_id >= 450),
        |cl AS (
        |  SELECT t.doc_id, count(c.p) AS n_removed,
        |    coalesce(string_agg(t.w, ' ' ORDER BY t.p)
        |      FILTER (WHERE c.p IS NULL), '') AS clean_text
        |  FROM tp t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_removed, clean_text FROM cl
        |ORDER BY doc_id""".stripMargin

  private val tpch9Sql: String =
    """SELECT nation, o_year,
      |  CAST(sum(amount) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |      AS amount
      |  FROM part, supplier, lineitem, orders, nation
      |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |    AND p_name LIKE '%red%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** q_sql_tpch11 (important stock): per-key value vs a global-total
    * scalar subquery in HAVING. lineitem value (price x quantity)
    * replaces partsupp; the x1000 rearrangement keeps both sides
    * DECIMAL so the comparison is exact in every engine.
    */
  private val tpch11Sql: String =
    """SELECT l_partkey AS ps_partkey,
      |  CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2)))
      |    AS DOUBLE) AS value
      |FROM lineitem, supplier, nation
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_name = 'NATION_7'
      |GROUP BY l_partkey
      |HAVING sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2))) * 1000 >
      |  (SELECT sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2)))
      |   FROM lineitem, supplier, nation
      |   WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |     AND n_name = 'NATION_7')
      |ORDER BY value DESC, ps_partkey""".stripMargin

  /** q_sql_tpch16 (parts/supplier relationship): count-distinct
    * suppliers per (brand, type, size) with an IN-list, a <> exclusion,
    * and a NOT IN anti-subquery — lineitem as the part-supplier
    * relation, complaint suppliers matched by name pattern.
    */
  private val tpch16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#1' AND p_type NOT IN ('LARGE', 'ECONOMY')
      |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%0007%')
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  private val tpch20Sql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN
      |      (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY l_suppkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 400)
      |ORDER BY s_suppkey""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch21 (waiting suppliers): the
    * correlated EXISTS + NOT EXISTS pair over lineitem self-joins;
    * l_returnflag = 'R' stands in for the missing receipt/commit dates.
    */
  private val tpch21Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |  AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch22 (global sales
    * opportunity): country code from a name substring, the positive-
    * balance average gate rearranged to the exact `bal * cnt > sum`,
    * NOT EXISTS against urgent orders (every synthetic customer has
    * SOME order, so the plain anti join would be empty).
    */
  private val tpch22Sql: String =
    """WITH pos AS (
      |  SELECT count(*) AS cnt,
      |    sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s
      |  FROM customer
      |  WHERE c_acctbal > 0.0
      |    AND substr(c_name, 17, 2)
      |        IN ('00','11','22','33','44','55','66'))
      |SELECT substr(c_name, 17, 2) AS cntrycode, count(*) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |    AS totacctbal
      |FROM customer, pos
      |WHERE substr(c_name, 17, 2)
      |      IN ('00','11','22','33','44','55','66')
      |  AND CAST(c_acctbal AS DECIMAL(18,2)) * cnt > s
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY substr(c_name, 17, 2)
      |ORDER BY cntrycode""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch18 (TPC-H Q18 shape: HAVING
    * subquery -> aggregate + semi join; 250 keeps ~200 orders at sf0.01).
    */
  private val tpch18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  sum(l_quantity) AS sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch5 (6-table star join; the
    * exact-decimal revenue sum and the full ORDER BY tie-break keep it
    * engine-portable, same policy as tpch3).
    */
  private val tpch5Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch12 (shipping-priority line
    * counts): integer CASE-sum aggregates over a fact-fact equi-join —
    * fully deterministic (no float accumulation anywhere). The synthetic
    * lineitem has no l_shipmode column; l_returnflag stands in as the
    * grouping dimension, preserving the query shape.
    */
  private val tpch12Sql: String =
    """SELECT l_returnflag AS shipmode,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag
      |ORDER BY shipmode""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch6 (revenue-change forecast):
    * the pure filter+aggregate — every predicate is parquet-pushdown
    * eligible and the plan is scan -> two-phase aggregate, nothing else.
    * Discount bounds written as >=/<= on the exact double literals.
    */
  private val tpch6Sql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice * l_discount
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch10 (returned-item report):
    * top-20 customers by exact-decimal lost revenue; the unique
    * c_custkey tie-break makes the LIMIT deterministic.
    */
  private val tpch10Sql: String =
    """SELECT c_custkey, c_name,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  c_acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_returnflag = 'R'
      |  AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch4 (order-priority checking):
    * correlated EXISTS under an aggregate, integer counts only.
    */
  private val tpch4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Shared Spark/DuckDB SQL for q_sql_tpch14 (promotion effect): the
    * conditional-share idiom — both CASE-sums are exact decimals, the
    * percentage is one double ratio (identical IEEE expression), and the
    * single-row result needs no ORDER BY.
    */
  private val tpch14Sql: String =
    """SELECT
      |  floor(100.0 *
      |    CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
      |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
      |    CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |      AS DECIMAL(18,6))) AS DOUBLE) * 1e6 + 0.5) / 1e6
      |    AS promo_pct,
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
      |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
      |  count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  /** Shared Spark/DuckDB SQL for q_not_in (null-aware anti join shape;
    * the subquery column is non-null here, so semantics equal plain anti
    * join and results are engine-portable).
    */
  private val notInSql: String =
    """SELECT p_partkey, p_name, p_brand
      |FROM part
      |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
      |                        WHERE l_quantity >= 49)
      |  AND p_size <= 10
      |ORDER BY p_partkey""".stripMargin

  /** Shared Spark/DuckDB SQL for q_scalar_subq (scalar subquery in a
    * predicate). The average is computed over DECIMAL(18,2) sums so both
    * engines compare against the identical boundary value.
    */
  private val scalarSubqSql: String =
    """SELECT p_partkey, p_retailprice
      |FROM part
      |WHERE p_retailprice > (
      |  SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |         / count(*) + 40
      |  FROM part)
      |ORDER BY p_partkey""".stripMargin

  /** Shared Spark/DuckDB SQL for q_exists (correlated EXISTS subqueries). */
  private val existsSql: String =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** DuckDB SQL fragment: 60-bit stable hash (= StableHash.stableHash60). */
  private def hashSql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** DuckDB SQL fragment: distinct 3-gram shingle-hash CTEs over documents
    * (= TextAnalysis.shingleHashes with k=3).
    */
  /** tok (doc_id, ts) + cov (doc_id, p): distinct 0-based token
    * positions covered by a duplicated 8-token window in a
    * non-canonical (doc_id > min holder) document — the DuckDB twin of
    * Dedup.coveredPositions at l = 8.
    */
  private val spanCovCte: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |w AS (
      |  SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS i
      |  FROM tok WHERE len(ts) >= 8),
      |wg AS (
      |  SELECT doc_id, i, array_to_string(ts[i+1:i+8], ' ') AS gram
      |  FROM w),
      |mh AS (
      |  SELECT gram, min(doc_id) AS d0, count(DISTINCT doc_id) AS nd
      |  FROM wg GROUP BY 1),
      |cp AS (
      |  SELECT wg.doc_id, unnest(range(wg.i, wg.i + 8)) AS p
      |  FROM wg JOIN mh USING (gram)
      |  WHERE mh.nd >= 2 AND wg.doc_id > mh.d0),
      |cov AS (SELECT DISTINCT doc_id, p FROM cp)""".stripMargin

  private val shingleCte: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, CASE WHEN len(ts) < 3 THEN 1 ELSE len(ts) - 1 END),
       |    i -> ${hashSql("ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]")})) AS sh
       |  FROM tok
       |)""".stripMargin

  /** DuckDB SQL fragment: integer-quantized dot product of two FLOAT[]
    * (= VectorFunctions.qdot: floor(x*1000) per element, exact int math).
    */
  private def qdotSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(list_zip($a, $b),
       |    z -> CAST(floor(CAST(z[1] AS DOUBLE)*1000) AS BIGINT)
       |       * CAST(floor(CAST(z[2] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT)""".stripMargin

  /** The q_mmr oracle: the greedy MMR walk UNROLLED step by step (the
    * q_unigram_lm EM device) — sel_i carries the picks so far, ms_{i+1}
    * computes each remaining candidate's max similarity to them, and
    * pick_{i+1} takes the argmax of lamNum·rel − (lamDen−lamNum)·ms
    * with ties to the lower cid. All integer arithmetic on the
    * quantized vectors, so the walk is engine-exact.
    */
  private def mmrSql(k: Int, pool: Int, lamNum: Long, lamDen: Long,
                     nq: Int): String = {
    def qdot(a: String, b: String): String =
      s"CAST(list_sum(list_transform(list_zip($a, $b), z -> z[1]*z[2])) AS BIGINT)"
    val head =
      s"""WITH q AS (
         |  SELECT vec_id AS qid, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE)*1000) AS BIGINT)) AS qv
         |  FROM embeddings WHERE vec_id < $nq),
         |c AS (
         |  SELECT vec_id AS cid, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE)*1000) AS BIGINT)) AS cv
         |  FROM embeddings),
         |rel0 AS (
         |  SELECT qid, cid, ${qdot("qv", "cv")} AS rel, cv
         |  FROM q, c WHERE qid != cid),
         |cand AS (
         |  SELECT qid, cid, rel, cv FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY rel DESC, cid) AS rn FROM rel0)
         |  WHERE rn <= $pool),
         |pick1 AS (
         |  SELECT qid, cid, rel, cv, $lamNum*rel AS mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY rel DESC, cid) AS rn FROM cand)
         |  WHERE rn = 1),
         |sel1 AS (SELECT qid, 1 AS rnk, cid, rel, cv, mmr FROM pick1)"""
        .stripMargin
    val steps = (2 to k).map { i =>
      val prev = s"sel${i - 1}"
      s""",
         |ms$i AS (
         |  SELECT c.qid, c.cid, c.rel, c.cv,
         |    max(${qdot("c.cv", "s.cv")}) AS ms
         |  FROM cand c JOIN $prev s USING (qid)
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |    WHERE x.qid = c.qid AND x.cid = c.cid)
         |  GROUP BY c.qid, c.cid, c.rel, c.cv),
         |pick$i AS (
         |  SELECT qid, cid, rel, cv, mmr FROM (
         |    SELECT qid, cid, rel, cv,
         |      $lamNum*rel - ${lamDen - lamNum}*ms AS mmr,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY ($lamNum*rel - ${lamDen - lamNum}*ms) DESC, cid)
         |        AS rn
         |    FROM ms$i)
         |  WHERE rn = 1),
         |sel$i AS (SELECT * FROM $prev UNION ALL
         |  SELECT qid, $i AS rnk, cid, rel, cv, mmr FROM pick$i)"""
        .stripMargin
    }.mkString
    head + steps +
      s"\nSELECT qid, rnk, cid, rel, mmr FROM sel$k ORDER BY qid, rnk"
  }

  /** The pinned-banding (bits=12, bands=4, k=3) k-NN graph as DuckDB
    * CTEs ending at `s` (qid, cid, score) — shared by q_knn_graph_fixed
    * and the q_pagerank edge set so the graph queries rank over the
    * same verified edges.
    */
  private lazy val knnFixedCtes: String =
    s"""hp AS (
       |  SELECT j, list_transform(range(0, 64),
       |    d -> (1103515245 * (j*64 + d) + 12345) % 2001 - 1000) AS h
       |  FROM (SELECT unnest(range(0, 12)) AS j)),
       |q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |b AS (
       |  SELECT q.vec_id, hp.j,
       |    CASE WHEN list_sum(list_transform(list_zip(q.qv, hp.h),
       |      z -> z[1] * z[2])) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM q, hp),
       |bandkeys AS (
       |  SELECT vec_id, j // 3 AS band, sum(bit * (1 << (j % 3))) AS bk
       |  FROM b GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS qid, y.vec_id AS cid
       |  FROM bandkeys x JOIN bandkeys y
       |    ON x.band = y.band AND x.bk = y.bk
       |  WHERE x.vec_id != y.vec_id),
       |s AS (
       |  SELECT c.qid, c.cid, ${qdotSql("a.embedding", "b.embedding")} AS score
       |  FROM cand c JOIN embeddings a ON c.qid = a.vec_id
       |              JOIN embeddings b ON c.cid = b.vec_id)""".stripMargin

  /** PageRank over the pinned-banding k-NN graph, unrolled to
    * [[prIters]] DuckDB CTE pairs (contribution sum, rank update) that
    * replay Graph.pageRank bit-for-bit: per-edge contributions
    * rank/outdeg quantized to BIGINTs (order-free exact sums), the new
    * rank the same IEEE chain (1.0-d)/n + d*(s/1e9) Spark computes.
    * MATERIALIZED on the shared frames: knn feeds deg+e, e feeds every
    * iteration, nodes feeds every rank update.
    */
  private lazy val pagerankSql: String = {
    // CAST keeps the base chain in DOUBLE: DuckDB parses 0.85 as
    // DECIMAL, so un-cast (1.0 - 0.85) folds to decimal 0.15 exactly
    // while the engine computes the IEEE double 0.15000000000000002 —
    // a measured 1e-9 divergence in the final quantization
    val base = "(CAST(1.0 AS DOUBLE) - 0.85) / (SELECT cnt FROM nn)"
    val iterCtes = (1 to prIters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst, sum(CAST(floor(r.rank / e.outdeg * 1000000000.0
         |    + 0.5) AS BIGINT)) AS s
         |  FROM e JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst),
         |r$i AS (
         |  SELECT n.id, $base + 0.85 *
         |    (CAST(coalesce(c.s, 0) AS DOUBLE) / 1000000000.0) AS rank
         |  FROM nodes n LEFT JOIN c$i c ON n.id = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnFixedCtes,
       |knn AS MATERIALIZED (
       |  SELECT qid AS src, cid AS dst FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
       |        AS rnk
       |    FROM s) WHERE rnk <= 3),
       |deg AS (SELECT src, count(*) AS outdeg FROM knn GROUP BY 1),
       |e AS MATERIALIZED (
       |  SELECT k.src, k.dst, d.outdeg FROM knn k JOIN deg d ON k.src = d.src),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
       |nn AS MATERIALIZED (SELECT count(*) AS cnt FROM nodes),
       |r0 AS (SELECT id,
       |  CAST(1.0 AS DOUBLE) / (SELECT cnt FROM nn) AS rank FROM nodes),
       |$iterCtes
       |SELECT id, floor(rank * 1000000000.0 + 0.5) / 1000000000.0 AS pr
       |FROM r$prIters ORDER BY id""".stripMargin
  }

  private def qnormSql(a: String): String =
    s"""CAST(list_sum(list_transform($a,
       |    e -> CAST(floor(CAST(e AS DOUBLE)*1000) AS BIGINT)
       |       * CAST(floor(CAST(e AS DOUBLE)*1000) AS BIGINT))) AS BIGINT)""".stripMargin

  /** DuckDB SQL fragment: dot product of two already-quantized BIGINT
    * lists (= LongArrayDot on pre-quantized columns).
    */
  private def ldotSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(list_zip($a, $b),
       |    z -> z[1] * z[2])) AS BIGINT)""".stripMargin

  /** One Lloyd iteration as DuckDB CTEs (assign -> integer-mean update ->
    * empty-cell carryover), mirroring Similarity.trainCentroids exactly:
    * argmin |c|^2 - 2<v,c> with ties to the lower cent_id, and trunc()
    * matching Spark's toward-zero long cast of the double mean.
    * `corpus` is any (vec_id, cv) CTE — the default corpus "q", or a
    * centroid table re-labeled as a corpus for the two-level coarse
    * Lloyd (which clusters the FINE CENTROIDS). Every stage CTE is
    * MATERIALIZED: DuckDB otherwise inlines CTEs per reference, and a
    * chained-iteration oracle (each iteration referencing the previous
    * ~3x, the two-level query referencing the fine chain ~5x more)
    * re-evaluates the whole chain multiplicatively — the q_semantic_
    * dedup2 oracle went from >12 min (killed) to seconds.
    */
  private def kmeansIterSql(inCents: String, outA: String, outM: String,
                            outC: String,
                            corpus: String = "q"): String =
    s"""$outA AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT $corpus.vec_id, $corpus.cv, $inCents.cent_id,
       |      row_number() OVER (PARTITION BY $corpus.vec_id ORDER BY
       |        ${ldotSql(s"$inCents.cent_v", s"$inCents.cent_v")}
       |        - 2 * ${ldotSql(s"$corpus.cv", s"$inCents.cent_v")} ASC,
       |        $inCents.cent_id ASC) AS rk
       |    FROM $corpus CROSS JOIN $inCents)
       |  WHERE rk = 1),
       |$outM AS MATERIALIZED (
       |  SELECT cent_id, list(m ORDER BY pos) AS cent_v FROM (
       |    SELECT cent_id, u.pos,
       |      CAST(trunc(sum(u.q) * 1.0 / count(*)) AS BIGINT) AS m
       |    FROM $outA, LATERAL (SELECT unnest(cv) AS q,
       |                 generate_subscripts(cv, 1) AS pos) u
       |    GROUP BY cent_id, u.pos)
       |  GROUP BY cent_id),
       |$outC AS MATERIALIZED (
       |  SELECT cent_id, cent_v FROM $outM
       |  UNION ALL
       |  SELECT cent_id, cent_v FROM $inCents
       |  WHERE cent_id NOT IN (SELECT cent_id FROM $outM))"""

  /** k-Center greedy traversal unrolled as CTEs (= q_kcenter):
    * c1 = lowest vec_id; mN = running min-dist² after folding center N
    * in via least(); cN = argmax of m(N-1) with ties to the lower
    * vec_id. Full L2² (|x|² + |c|² - 2<x,c>) in exact BIGINT arithmetic
    * over the quantized vectors.
    */
  private val kcenterK = 8

  private def kcenterDist2(x: String, c: String) =
    s"${ldotSql(x, x)} + ${ldotSql(c, c)} - 2 * ${ldotSql(x, c)}"

  /** The shared k-center traversal CTE chain (q, c1..ck, m1..mk). */
  private lazy val kcenterCtes: String = {
    val k = kcenterK
    val iters = (2 to k).map { n =>
      s"""c$n AS MATERIALIZED (
         |  SELECT vec_id, cv, d2 FROM m${n - 1}
         |  ORDER BY d2 DESC, vec_id LIMIT 1),
         |m$n AS MATERIALIZED (
         |  SELECT m.vec_id, m.cv,
         |    least(m.d2, ${kcenterDist2("m.cv", "c.cv")}) AS d2
         |  FROM m${n - 1} m, c$n c
         |  WHERE m.vec_id <> c.vec_id)"""
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS cv
       |  FROM embeddings),
       |c1 AS MATERIALIZED (
       |  SELECT vec_id, cv FROM q ORDER BY vec_id LIMIT 1),
       |m1 AS MATERIALIZED (
       |  SELECT q.vec_id, q.cv,
       |    ${kcenterDist2("q.cv", "c.cv")} AS d2
       |  FROM q, c1 c
       |  WHERE q.vec_id <> c.vec_id),
       |$iters"""
  }

  private lazy val kcenterSql: String = {
    val union = (2 to kcenterK).map(n =>
      s"  UNION ALL SELECT $n, vec_id, d2 FROM c$n").mkString("\n")
    s"""$kcenterCtes
       |SELECT * FROM (
       |  SELECT CAST(1 AS INT) AS sel_order, vec_id,
       |    CAST(0 AS BIGINT) AS radius2 FROM c1
       |$union
       |) ORDER BY sel_order""".stripMargin
  }

  /** Coreset coverage census (= q_kcenter_census): every vector to its
    * nearest selected center (full L2², ties to the lower center id),
    * per-center member count + realized max distance².
    */
  private lazy val kcenterCensusSql: String = {
    val centerUnion = (Seq(
      s"  SELECT CAST(1 AS INT) AS sel_order, vec_id, cv FROM c1") ++
      (2 to kcenterK).map(n =>
        s"  UNION ALL SELECT $n, vec_id, cv FROM c$n")).mkString("\n")
    s"""$kcenterCtes,
       |ctr AS MATERIALIZED (
       |$centerUnion
       |),
       |asg AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id, ctr.sel_order, ctr.vec_id AS center_id,
       |      ${kcenterDist2("q.cv", "ctr.cv")} AS d2,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${kcenterDist2("q.cv", "ctr.cv")} ASC,
       |        ctr.vec_id ASC) AS rk
       |    FROM q CROSS JOIN ctr)
       |  WHERE rk = 1)
       |SELECT sel_order, center_id,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(max(d2) AS BIGINT) AS max_d2
       |FROM asg GROUP BY sel_order, center_id
       |ORDER BY sel_order""".stripMargin
  }

  /** One BPE merge iteration as CTEs: pair counts over the previous
    * segmentation (overlap-inclusive, frequency-weighted), the winning
    * pair (count desc, then lexicographic), and the greedy
    * left-to-right rewrite as the SAME list fold the engine runs
    * (`list_reduce` over the symbol list with an `ends_with` last-symbol
    * check) — NOT a `replace()` over the delimited string, which
    * diverges on back-to-back occurrences of the winning pair ("abab"
    * shares the middle delimiter, so replace() merges only the first;
    * and in a==b runs of 6+ the resume-after-replacement scan merges
    * different positions than the left-to-right fold). The LEFT JOIN ON
    * TRUE passes the segmentation through unchanged when t$n is empty
    * (merge exhaustion) — mirroring the engine's early stop instead of
    * CROSS JOIN-ing the table away. MATERIALIZED is load-bearing: each
    * s(N-1) is referenced twice per iteration, so inlining would
    * re-evaluate the chain exponentially.
    */
  private def bpeIterSql(prev: String, n: Int): String =
    s"""p$n AS MATERIALIZED (
       |  SELECT c[i.g] AS a, c[i.g + 1] AS b, sum(freq) AS cnt
       |  FROM (SELECT freq, string_split(trim(seq, chr(31)), chr(31)) AS c
       |        FROM $prev) x,
       |    LATERAL (SELECT unnest(generate_series(1, len(c) - 1)) AS g) i
       |  WHERE len(c) > 1
       |  GROUP BY 1, 2),
       |t$n AS MATERIALIZED (
       |  SELECT a, b, cnt FROM p$n ORDER BY cnt DESC, a, b LIMIT 1),
       |s$n AS MATERIALIZED (SELECT word, freq,
       |  $bpeFoldSql AS seq
       |  FROM $prev LEFT JOIN t$n ON TRUE)"""

  /** The fold expression shared by the training rewrite and the
    * merge-application chain (columns in scope: seq, a, b).
    */
  private lazy val bpeFoldSql: String =
    """CASE WHEN a IS NULL THEN seq ELSE
      |    list_reduce(
      |      list_prepend('', string_split(trim(seq, chr(31)), chr(31))),
      |      (acc, x) -> CASE
      |        WHEN ends_with(acc, chr(31) || a) AND x = b
      |        THEN left(acc, len(acc) - len(a)) || a || b
      |        ELSE acc || chr(31) || x END) || chr(31)
      |  END""".stripMargin

  private val bpeIters = 10

  /** The shared BPE training chain: word frequencies (the only
    * corpus-scale CTE), char-level initial segmentation, `bpeIters`
    * unrolled merge iterations. `src` is the training corpus relation
    * (q_bpe_apply trains on a language slice).
    */
  private def bpeCtesFrom(src: String): String = {
    val iters = (1 to bpeIters)
      .map(n => bpeIterSql(s"s${n - 1}", n)).mkString(",\n")
    s"""WITH w AS MATERIALIZED (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM $src)
       |  WHERE word <> '' GROUP BY word),
       |s0 AS MATERIALIZED (SELECT word, freq,
       |  chr(31) || array_to_string(string_split(word, ''), chr(31))
       |    || chr(31) AS seq
       |  FROM w),
       |$iters"""
  }

  private lazy val bpeCtes: String = bpeCtesFrom("documents")

  /** Cross-corpus BPE application (= q_bpe_apply): train on the 'en'
    * slice, replay the k merges in priority order over the FULL
    * corpus' distinct words (the same fold, one chain CTE per merge),
    * then count per-doc tokens — the production encode path for
    * corpora the tokenizer was not trained on.
    */
  private lazy val bpeApplySql: String = {
    val applies = (1 to bpeIters).map { n =>
      s"""b$n AS MATERIALIZED (SELECT word,
         |  $bpeFoldSql AS seq
         |  FROM b${n - 1} LEFT JOIN t$n ON TRUE)"""
    }.mkString(",\n")
    s"""${bpeCtesFrom("(SELECT * FROM documents WHERE lang = 'en')")},
       |b0 AS MATERIALIZED (
       |  SELECT DISTINCT word,
       |    chr(31) || array_to_string(string_split(word, ''), chr(31))
       |      || chr(31) AS seq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE word <> ''),
       |$applies,
       |seg AS MATERIALIZED (SELECT word,
       |  CAST(len(string_split(trim(seq, chr(31)), chr(31))) AS BIGINT)
       |    AS n_sub
       |  FROM b$bpeIters),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |       FROM documents)
       |SELECT dw.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(seg.n_sub) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN seg USING (word)
       |WHERE word <> ''
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
  }

  /** The learned merge table (= q_bpe). */
  private lazy val bpeSql: String = {
    val union = (1 to bpeIters).map(n =>
      s"""  SELECT CAST($n AS INT) AS iter, a AS lhs, b AS rhs,
         |    a || b AS merged, CAST(cnt AS BIGINT) AS cnt FROM t$n"""
    ).mkString("\n  UNION ALL\n")
    s"""$bpeCtes
       |SELECT * FROM (
       |$union
       |) ORDER BY iter""".stripMargin
  }

  /** One WordPiece merge iteration as CTEs: pair counts (the BPE
    * shape), unit counts over ALL symbol occurrences (1-symbol words
    * included — merge outputs keep their denominator mass), the winner
    * by integer micro-nat likelihood score floor(1e6*(ln cnt_ab -
    * ln cnt_a - ln cnt_b) + 0.5) with (score DESC, a, b) ties, and the
    * SAME greedy rewrite fold as BPE.
    */
  private def wpIterSql(prev: String, n: Int): String =
    s"""wp$n AS MATERIALIZED (
       |  SELECT c[i.g] AS a, c[i.g + 1] AS b, sum(freq) AS cnt
       |  FROM (SELECT freq, string_split(trim(seq, chr(31)), chr(31)) AS c
       |        FROM $prev) x,
       |    LATERAL (SELECT unnest(generate_series(1, len(c) - 1)) AS g) i
       |  WHERE len(c) > 1
       |  GROUP BY 1, 2),
       |wu$n AS MATERIALIZED (
       |  SELECT c[i.g] AS u, sum(freq) AS cnt
       |  FROM (SELECT freq, string_split(trim(seq, chr(31)), chr(31)) AS c
       |        FROM $prev) x,
       |    LATERAL (SELECT unnest(generate_series(1, len(c))) AS g) i
       |  GROUP BY 1),
       |wt$n AS MATERIALIZED (
       |  SELECT a, b, cnt, cnt_l, cnt_r,
       |    CAST(floor(1000000.0 * (ln(CAST(cnt AS DOUBLE))
       |      - ln(CAST(cnt_l AS DOUBLE)) - ln(CAST(cnt_r AS DOUBLE)))
       |      + 0.5) AS BIGINT) AS score
       |  FROM (SELECT p.a, p.b, p.cnt, ua.cnt AS cnt_l, ub.cnt AS cnt_r
       |        FROM wp$n p JOIN wu$n ua ON p.a = ua.u
       |          JOIN wu$n ub ON p.b = ub.u)
       |  ORDER BY score DESC, a, b LIMIT 1),
       |ws$n AS MATERIALIZED (SELECT word, freq,
       |  $bpeFoldSql AS seq
       |  FROM $prev LEFT JOIN wt$n ON TRUE)"""

  private val wpIters = 8

  /** The WordPiece training chain (WITH RECURSIVE so the encode oracle
    * can append its greedy-walk CTE): word frequencies, char-level
    * initial segmentation, `wpIters` unrolled likelihood iterations.
    */
  private lazy val wordpieceCtes: String = {
    val iters = (1 to wpIters)
      .map(n => wpIterSql(s"ws${n - 1}", n)).mkString(",\n")
    s"""WITH RECURSIVE w AS MATERIALIZED (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |ws0 AS MATERIALIZED (SELECT word, freq,
       |  chr(31) || array_to_string(string_split(word, ''), chr(31))
       |    || chr(31) AS seq
       |  FROM w),
       |$iters"""
  }

  /** The greedy-LZ77 walk CTEs shared by q_comp_ratio and
    * q_comp_filter: per doc, scan left to right; at codepoint position
    * pos take the LONGEST L in [4, 32] whose window also occurs
    * starting at or before pos (instr over the overlap-inclusive
    * prefix — valid ⇔ first occurrence index <= pos, 1-based), advance
    * by L (matched += L) or by 1. `cr` emits (doc_id, n_chars,
    * matched, ratio_micro) with ratio_micro = 1e6*matched div n. The
    * scalar subquery form is load-bearing: DuckDB rejects LATERAL
    * table-function parameters inside a recursive CTE.
    */
  private lazy val lzWalkCtes: String = {
    def lm(z: Int): String =
      "coalesce((SELECT max(L) FROM range(4, 33) t(L) " +
        "WHERE L <= d.n - w.pos " +
        "AND instr(substr(d.text, 1, CAST(w.pos + L - 1 AS INT)), " +
        "substr(d.text, CAST(w.pos + 1 AS INT), CAST(L AS INT))) " +
        s"BETWEEN 1 AND w.pos), $z)"
    s"""WITH RECURSIVE d AS MATERIALIZED (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |walk(doc_id, pos, matched) AS (
       |  SELECT doc_id, 0, 0 FROM d
       |  UNION ALL
       |  SELECT w.doc_id, w.pos + ${lm(1)}, w.matched + ${lm(0)}
       |  FROM walk w JOIN d ON d.doc_id = w.doc_id
       |  WHERE w.pos < d.n),
       |cr AS (
       |  SELECT w.doc_id, d.n AS n_chars,
       |    CAST(max(w.matched) AS BIGINT) AS matched,
       |    CAST(CASE WHEN d.n = 0 THEN 0
       |      ELSE (1000000 * max(w.matched)) // d.n END AS BIGINT)
       |      AS ratio_micro
       |  FROM walk w JOIN d USING (doc_id) GROUP BY w.doc_id, d.n)"""
  }

  /** The learned WordPiece merge table (= q_wordpiece). */
  private lazy val wordpieceSql: String = {
    val union = (1 to wpIters).map(n =>
      s"""  SELECT CAST($n AS INT) AS iter, a AS lhs, b AS rhs,
         |    a || b AS merged, CAST(cnt AS BIGINT) AS cnt,
         |    CAST(cnt_l AS BIGINT) AS cnt_l,
         |    CAST(cnt_r AS BIGINT) AS cnt_r, score FROM wt$n"""
    ).mkString("\n  UNION ALL\n")
    s"""$wordpieceCtes
       |SELECT * FROM (
       |$union
       |) ORDER BY iter""".stripMargin
  }

  /** The greedy-inference CTEs shared by q_wordpiece_encode and
    * q_wordpiece_fertility: piece vocab from the final segmentation
    * (first symbol bare, later ones ##-prefixed) plus alphabet coverage
    * in both forms; the greedy walk is materialized as the per-(word,
    * position) LONGEST-match successor table, then a recursive walk
    * from position 0 — a word whose walk dead-ends before its end is
    * [UNK] (counts 1 token, NULL n_sub in `seg`).
    */
  private lazy val wordpieceSegCtes: String =
    s"""$wordpieceCtes,
       |pieces AS (
       |  SELECT DISTINCT CASE WHEN i.g = 1 THEN c[i.g]
       |    ELSE '##' || c[i.g] END AS piece
       |  FROM (SELECT string_split(trim(seq, chr(31)), chr(31)) AS c
       |        FROM ws$wpIters) x,
       |    LATERAL (SELECT unnest(generate_series(1, len(c))) AS g) i),
       |chars AS (
       |  SELECT DISTINCT unnest(string_split(word, '')) AS ch FROM w),
       |vocab AS (
       |  SELECT DISTINCT raw, is_cont FROM (
       |    -- the literal piece '##' is WORD-INITIAL (WordPieceSegment's
       |    -- length>2 rule): only '##'+non-empty raw is a continuation —
       |    -- a bare-'##' continuation would have raw='' and loop forever
       |    SELECT CASE WHEN starts_with(piece, '##') AND len(piece) > 2
       |        THEN substring(piece, 3) ELSE piece END AS raw,
       |      starts_with(piece, '##') AND len(piece) > 2 AS is_cont
       |    FROM pieces
       |    UNION ALL SELECT ch, false FROM chars
       |    UNION ALL SELECT ch, true FROM chars)),
       |wpos AS (SELECT word, unnest(range(0, len(word))) AS pos FROM w),
       |succ AS MATERIALIZED (
       |  SELECT word, pos, raw, pos + len(raw) AS next_pos FROM (
       |    SELECT p.word, p.pos, v.raw,
       |      row_number() OVER (PARTITION BY p.word, p.pos
       |        ORDER BY len(v.raw) DESC) AS rn
       |    FROM wpos p JOIN vocab v
       |      ON substring(p.word, p.pos + 1, len(v.raw)) = v.raw
       |     AND v.is_cont = (p.pos > 0)) WHERE rn = 1),
       |walk(word, pos, ntok) AS (
       |  SELECT word, 0, 0 FROM w
       |  UNION ALL
       |  SELECT wk.word, s.next_pos, wk.ntok + 1
       |  FROM walk wk JOIN succ s USING (word, pos)),
       |seg AS (
       |  SELECT word, CASE WHEN max(pos) = len(word)
       |    THEN arg_max(ntok, pos) END AS n_sub
       |  FROM walk GROUP BY word)"""

  private lazy val wordpieceEncodeSql: String =
    s"""$wordpieceSegCtes,
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |       FROM documents)
       |SELECT dw.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(coalesce(seg.n_sub, 1)) AS BIGINT) AS n_wp_tokens,
       |  CAST(sum(CASE WHEN seg.n_sub IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_unk
       |FROM dw LEFT JOIN seg USING (word)
       |WHERE word <> ''
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin

  /** Per-language fertility under greedy WordPiece (= the q_bpe/
    * q_unigram fertility shape with WordPiece token counts).
    */
  private lazy val wordpieceFertilitySql: String =
    s"""$wordpieceSegCtes,
       |dw AS (SELECT lang, unnest(string_split(text, ' ')) AS word
       |       FROM documents)
       |SELECT dw.lang,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(dw.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(coalesce(seg.n_sub, 1)) AS BIGINT) AS n_wp_tokens
       |FROM dw LEFT JOIN seg USING (word)
       |WHERE word <> ''
       |GROUP BY dw.lang ORDER BY dw.lang""".stripMargin

  /** Per-doc token counts under the learned segmentation
    * (= q_bpe_encode).
    */
  private lazy val bpeEncodeSql: String =
    s"""$bpeCtes,
       |seg AS MATERIALIZED (SELECT word,
       |  CAST(len(string_split(trim(seq, chr(31)), chr(31))) AS BIGINT)
       |    AS n_sub
       |  FROM s$bpeIters),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |       FROM documents)
       |SELECT dw.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(COALESCE(seg.n_sub, len(dw.word))) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM dw LEFT JOIN seg USING (word)
       |WHERE word <> ''
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin

  /** Shared bigram-LM scoring chain (= q_lm_ppl through the per-bigram
    * micro-nat scores CTE `sc`); q_ppl_filter ranks on top of it.
    */
  private val lmPplCtes: String =
    """WITH w AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |pr AS MATERIALIZED (
      |  SELECT doc_id, ws[CAST(x.i AS INT)] AS a,
      |    ws[CAST(x.i + 1 AS INT)] AS b
      |  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) x),
      |uni AS MATERIALIZED (
      |  SELECT tokw, count(*) AS cu FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tokw FROM documents)
      |  GROUP BY tokw),
      |tot AS (SELECT sum(cu) AS t FROM uni),
      |lm AS MATERIALIZED (
      |  SELECT a, b, count(*) AS cab FROM pr GROUP BY a, b),
      |sc AS (
      |  SELECT pr.doc_id,
      |    CAST(floor(1e6 * ln(
      |      0.9 * (CAST(lm.cab AS DOUBLE) / CAST(ua.cu AS DOUBLE))
      |      + 0.1 * (CAST(ub.cu AS DOUBLE) / CAST(tot.t AS DOUBLE))))
      |      AS BIGINT) AS s
      |  FROM pr
      |    JOIN lm USING (a, b)
      |    JOIN uni ua ON ua.tokw = pr.a
      |    JOIN uni ub ON ub.tokw = pr.b
      |    CROSS JOIN tot)""".stripMargin

  /** The q_bm25_mmr oracle: BM25 rel (the q_bm25 chain, renamed CTEs)
    * quantized to micro, top-`pool` candidates joined to their distinct
    * shingle-hash sets, then the greedy MMR walk UNROLLED step by step
    * with `len(list_intersect(...))` as the overlap — the q_mmr device
    * on the lexical side.
    */
  private def bm25MmrSql(k: Int, pool: Int, lamNum: Long, lamDen: Long,
                         scale: Long): String = {
    val pen = lamDen - lamNum
    val head =
      s"""$shingleCte,
         |btok AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |         unnest(string_split(text, ' ')) AS w FROM documents),
         |btf AS (SELECT doc_id, w, count(*) AS tf, min(dl) AS dl
         |  FROM btok WHERE w IN ('data','join','hash','scan','batch')
         |  GROUP BY doc_id, w),
         |bdf AS (SELECT w, count(*) AS df FROM btf GROUP BY w),
         |bst AS (SELECT count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tok
         |  FROM documents),
         |bc AS (SELECT btf.doc_id, btf.w,
         |    ln(1.0 + (bst.n_docs - bdf.df + 0.5) / (bdf.df + 0.5)) *
         |      ((btf.tf * 2.2) / (btf.tf + 1.2 *
         |        (0.25 + 0.75 * (CAST(btf.dl AS DOUBLE) /
         |          (CAST(bst.total_tok AS DOUBLE) / bst.n_docs))))) AS c
         |  FROM btf JOIN bdf USING (w) CROSS JOIN bst),
         |bpiv AS (SELECT doc_id,
         |    max(CASE WHEN w = 'data'  THEN c END) AS c_0,
         |    max(CASE WHEN w = 'join'  THEN c END) AS c_1,
         |    max(CASE WHEN w = 'hash'  THEN c END) AS c_2,
         |    max(CASE WHEN w = 'scan'  THEN c END) AS c_3,
         |    max(CASE WHEN w = 'batch' THEN c END) AS c_4
         |  FROM bc GROUP BY doc_id),
         |rel AS (SELECT doc_id,
         |  CAST(floor((coalesce(c_0, 0.0) + coalesce(c_1, 0.0)
         |    + coalesce(c_2, 0.0) + coalesce(c_3, 0.0)
         |    + coalesce(c_4, 0.0)) * 1e6 + 0.5) AS BIGINT)
         |    AS rel_micro FROM bpiv),
         |cand AS (
         |  SELECT r.doc_id, r.rel_micro, sh.sh FROM (
         |    SELECT *, row_number() OVER (ORDER BY rel_micro DESC, doc_id)
         |      AS prn FROM rel) r JOIN sh ON sh.doc_id = r.doc_id
         |  WHERE prn <= $pool),
         |pick1 AS (
         |  SELECT doc_id, rel_micro, sh, $lamNum*rel_micro AS mmr FROM (
         |    SELECT *, row_number() OVER (ORDER BY rel_micro DESC, doc_id)
         |      AS rn FROM cand)
         |  WHERE rn = 1),
         |sel1 AS (SELECT 1 AS rnk, doc_id, rel_micro, sh, mmr FROM pick1)"""
        .stripMargin
    val steps = (2 to k).map { i =>
      val prev = s"sel${i - 1}"
      s""",
         |ms$i AS (
         |  SELECT c.doc_id, c.rel_micro, c.sh,
         |    max(len(list_intersect(c.sh, s.sh))) AS ms
         |  FROM cand c, $prev s
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |    WHERE x.doc_id = c.doc_id)
         |  GROUP BY c.doc_id, c.rel_micro, c.sh),
         |pick$i AS (
         |  SELECT doc_id, rel_micro, sh, mmr FROM (
         |    SELECT doc_id, rel_micro, sh,
         |      $lamNum*rel_micro - $pen*ms*$scale AS mmr,
         |      row_number() OVER (ORDER BY
         |        ($lamNum*rel_micro - $pen*ms*$scale) DESC, doc_id) AS rn
         |    FROM ms$i)
         |  WHERE rn = 1),
         |sel$i AS (SELECT * FROM $prev UNION ALL
         |  SELECT $i AS rnk, doc_id, rel_micro, sh, mmr FROM pick$i)"""
        .stripMargin
    }.mkString
    head + steps +
      s"\nSELECT rnk, doc_id, rel_micro, mmr FROM sel$k ORDER BY rnk"
  }

  /** Kneser–Ney bigram CTEs ending at `sc` (doc_id, s micro-nats) —
    * shared by q_kn_ppl and q_kn_filter so both gate the SAME walk.
    */
  private val knPplCtes: String =
    """WITH w AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |pr AS MATERIALIZED (
      |  SELECT doc_id, ws[CAST(x.i AS INT)] AS a,
      |    ws[CAST(x.i + 1 AS INT)] AS b
      |  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) x),
      |lm AS MATERIALIZED (
      |  SELECT a, b, count(*) AS cab FROM pr GROUP BY a, b),
      |hist AS (SELECT a, sum(cab) AS ca_dot, count(*) AS n1p_a
      |         FROM lm GROUP BY a),
      |cont AS (SELECT b, count(*) AS n1p_b FROM lm GROUP BY b),
      |ty AS (SELECT count(*) AS n_types FROM lm),
      |sc AS (
      |  SELECT pr.doc_id,
      |    CAST(floor(1e6 * ln(
      |      (CAST(lm.cab AS DOUBLE) - 0.75) / CAST(h.ca_dot AS DOUBLE)
      |      + 0.75 * CAST(h.n1p_a AS DOUBLE) / CAST(h.ca_dot AS DOUBLE)
      |        * (CAST(cn.n1p_b AS DOUBLE) / CAST(ty.n_types AS DOUBLE))))
      |      AS BIGINT) AS s
      |  FROM pr
      |    JOIN lm USING (a, b)
      |    JOIN hist h ON h.a = pr.a
      |    JOIN cont cn ON cn.b = pr.b
      |    CROSS JOIN ty)""".stripMargin

  /** Per-language fertility under the learned segmentation
    * (= q_bpe_fertility): the [[bpeEncodeSql]] aggregation keyed on
    * lang, plus the two ratio metrics.
    */
  private lazy val bpeFertilitySql: String =
    s"""$bpeCtes,
       |seg AS MATERIALIZED (SELECT word,
       |  CAST(len(string_split(trim(seq, chr(31)), chr(31))) AS BIGINT)
       |    AS n_sub
       |  FROM s$bpeIters),
       |dw AS (SELECT lang, unnest(string_split(text, ' ')) AS word
       |       FROM documents),
       |g AS (SELECT lang,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(word)) AS BIGINT) AS n_chars,
       |  CAST(sum(COALESCE(seg.n_sub, len(dw.word))) AS BIGINT)
       |    AS n_bpe_tokens
       |FROM dw LEFT JOIN seg USING (word)
       |WHERE word <> ''
       |GROUP BY lang)
       |SELECT lang, n_words, n_bpe_tokens,
       |  floor(CAST(n_bpe_tokens AS DOUBLE) / n_words * 1e6 + 0.5) / 1e6
       |    AS fertility,
       |  floor(CAST(n_chars AS DOUBLE) / n_bpe_tokens * 1e6 + 0.5) / 1e6
       |    AS chars_per_token
       |FROM g ORDER BY lang""".stripMargin

  /** PageRank iteration count shared by q_pagerank and its oracle. */
  private val prIters = 10

  /** Oracle flags CTE shared by the q_curation_audit / q_audit_rates
    * oracles — one boolean per [[auditRules]] rule plus exact_dup,
    * folded to the sorted fail-name list exactly as
    * `Curation.curationAudit` does.
    */
  private val auditFlagsCte: String =
    """WITH x AS (
      |  SELECT doc_id, lang, text, string_split(text, ' ') AS ts
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    length(text) < 120 AS too_short,
      |    lang NOT IN ('en','es','fr','de') AS bad_lang,
      |    CAST(len(list_distinct(ts)) AS DOUBLE)
      |      / greatest(len(ts), 1) < 0.35 AS low_ttr,
      |    CAST(len(list_filter(ts,
      |        t -> t IN ('a','the','of','and','to','in'))) AS DOUBLE)
      |      / greatest(len(ts), 1) < 0.03 AS low_stopword,
      |    (len(list_filter(range(1, length(text) - 1),
      |        i -> substr(text, i, 3) = 'dup'))
      |     + len(list_filter(range(1, length(text) - 2),
      |        i -> substr(text, i, 4) = 'slow'))
      |     + len(list_filter(range(1, length(text) - 1),
      |        i -> substr(text, i, 3) = 'low'))
      |     + len(list_filter(range(1, length(text) - 8),
      |        i -> substr(text, i, 10) = 'scan batch'))) > 2
      |      AS blocklist,
      |    doc_id <> min(doc_id) OVER (PARTITION BY text) AS exact_dup
      |  FROM x),
      |a AS (
      |  SELECT doc_id, list_sort(list_filter([
      |    CASE WHEN too_short THEN 'too_short' END,
      |    CASE WHEN bad_lang THEN 'bad_lang' END,
      |    CASE WHEN low_ttr THEN 'low_ttr' END,
      |    CASE WHEN low_stopword THEN 'low_stopword' END,
      |    CASE WHEN blocklist THEN 'blocklist' END,
      |    CASE WHEN exact_dup THEN 'exact_dup' END],
      |    z -> z IS NOT NULL)) AS fl
      |  FROM f)""".stripMargin

  /** Audit rule battery shared by q_curation_audit and q_audit_rates.
    * The ratio rules reuse `TextAnalysis.qualityFeatures` expressions
    * so the oracle's q_quality CTEs replay them exactly; the blocklist
    * rule is the q_blocklist Aho–Corasick screen at the same threshold.
    */
  private[graft] def auditRules: Seq[(String, Column)] = {
    val feats = graft.operators.TextAnalysis
      .qualityFeatures(col("text")).toMap
    Seq(
      "too_short" -> (length(col("text")) < 120),
      "bad_lang" -> !col("lang").isin("en", "es", "fr", "de"),
      "low_ttr" -> (feats("type_token_ratio") < 0.35),
      "low_stopword" -> (feats("stopword_ratio") < 0.03),
      "blocklist" -> (graft.plans.MultiPatternCount(col("text"),
        Seq("dup", "slow", "low", "scan batch")) > 2L))
  }

  /** Two-dump crawl simulation shared by q_snapshot_dedup and its
    * oracle: dump 0 = the corpus; dump 1 recrawls every page, with
    * every third page's content changed. fetch_id = doc_id*2 + snap is
    * unique per fetch and increases with snap for a fixed page, so the
    * oracle's min(fetch_id) equals the engine's min-(snap, fetch_id)
    * struct on this fixture (the general tie-break law is spec-locked
    * in DedupSpec).
    */
  private[graft] def simulatedCrawl(docs: DataFrame): DataFrame = {
    val base = docs.select(
      concat(col("source"), lit("/"), col("doc_id")).as("url"),
      col("doc_id"), col("text"))
    base.select(col("url"), lit(0).as("snap"), col("text"),
        (col("doc_id") * 2).as("fetch_id"))
      .unionAll(base.select(col("url"), lit(1).as("snap"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")).as("text"),
        (col("doc_id") * 2 + 1).as("fetch_id")))
  }

  private val clsIters = 40
  private val clsLr = 1.5
  private val clsBuckets = 16

  /** Oracle replay of `Classifier.train` over the blocklist-distillation
    * task: the featurize CTEs mirror `Classifier.featurize`
    * expression-for-expression (teacher label = the q_blocklist
    * Aho-Corasick hit count > 2, features = stableHash60-bucketed token
    * frequencies squashed tf/(tf+5)), then each gradient iteration is an
    * unrolled (p, g, w) CTE triple. Because the link is the algebraic
    * softsign (no transcendentals) and per-row gradient contributions are
    * quantized to BIGINTs before the sum, every double on both engines is
    * bit-identical and the row-visit order can't matter — the whole
    * training trajectory replays exactly. Margin folds and update chains
    * are written with the same associativity the Spark side uses
    * (left-to-right). MATERIALIZED is load-bearing: w(i-1) is referenced
    * twice per iteration, so inlining would re-expand the chain
    * exponentially.
    */
  private lazy val classifierTrainCtes: String = {
    val tfs = (0 until clsBuckets).map(j =>
      s"    sum(CASE WHEN CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)" +
        s" % $clsBuckets = $j THEN 1 ELSE 0 END) AS tf$j").mkString(",\n")
    val fs = (0 until clsBuckets).map(j =>
      f"    tf$j / (tf$j + 5.0) AS f$j%02d").mkString(",\n")
    val featNames = (0 until clsBuckets).map(j => f"f$j%02d")
    val head =
      s"""lab AS MATERIALIZED (
         |  SELECT doc_id, CASE WHEN
         |    len(list_filter(range(1, length(text) - 1),
         |        i -> substr(text, i, 3) = 'dup'))
         |    + len(list_filter(range(1, length(text) - 2),
         |        i -> substr(text, i, 4) = 'slow'))
         |    + len(list_filter(range(1, length(text) - 1),
         |        i -> substr(text, i, 3) = 'low'))
         |    + len(list_filter(range(1, length(text) - 8),
         |        i -> substr(text, i, 10) = 'scan batch'))
         |    > 2 THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |tfx AS MATERIALIZED (
         |  SELECT doc_id,
         |$tfs
         |  FROM tok GROUP BY doc_id),
         |feat AS MATERIALIZED (
         |  SELECT tfx.doc_id, y,
         |$fs
         |  FROM tfx JOIN lab USING (doc_id)),
         |w0 AS MATERIALIZED (SELECT 0.0 AS b, ${(1 to clsBuckets)
        .map(k => "0.0 AS v" + k).mkString(", ")})""".stripMargin
    val margin = "b + " + featNames.zipWithIndex
      .map { case (f, j) => s"v${j + 1} * $f" }.mkString(" + ")
    val iterCtes = (1 to clsIters).map { i =>
      val gs = featNames.zipWithIndex.map { case (f, j) =>
        s"    sum(CAST(floor(e * $f * 1000000.0 + 0.5) AS BIGINT))" +
          s" AS g${j + 1},"
      }.mkString("\n")
      val ws = (1 to clsBuckets).map(k =>
        s"         v$k - $clsLr * (g$k / 1000000.0 / n) AS v$k")
        .mkString(",\n")
      s"""p$i AS MATERIALIZED (
         |  SELECT ${featNames.mkString(", ")},
         |    (0.5 + (0.5 * m) / (1.0 + abs(m))) - y AS e
         |  FROM (SELECT f.*, $margin AS m
         |        FROM feat f, w${i - 1})),
         |g$i AS MATERIALIZED (
         |  SELECT
         |    sum(CAST(floor(e * 1000000.0 + 0.5) AS BIGINT)) AS g0,
         |$gs
         |    sum(CAST(floor(e * e * 1000000.0 + 0.5) AS BIGINT)) AS se,
         |    count(*) AS n
         |  FROM p$i),
         |w$i AS MATERIALIZED (
         |  SELECT b - $clsLr * (g0 / 1000000.0 / n) AS b,
         |$ws
         |  FROM w${i - 1}, g$i)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$iterCtes"
  }

  /** Training trajectory (= q_classifier_train): post-update weights and
    * the pass's mean squared error, one (iter, term, value) row each.
    */
  private lazy val classifierTrainSql: String = {
    val rows = (1 to clsIters).flatMap { i =>
      Seq(s"SELECT $i AS iter, 'bias' AS term, b AS value FROM w$i") ++
        (0 until clsBuckets).map(j =>
          f"SELECT $i, 'w_f$j%02d', v${j + 1} FROM w$i") ++
        Seq(s"SELECT $i, 'mse', se / 1000000.0 / n FROM g$i")
    }.mkString("\n  UNION ALL ")
    s"""WITH $classifierTrainCtes,
       |sel AS (
       |  $rows)
       |SELECT iter, term, value FROM sel ORDER BY iter, term""".stripMargin
  }

  /** Train-then-score with the learned weights (= q_classifier_score):
    * the same CTE chain, final weights applied to every document.
    */
  private lazy val classifierScoreSql: String = {
    val margin = "b + " + (0 until clsBuckets)
      .map(j => f"v${j + 1} * f$j%02d").mkString(" + ")
    s"""WITH $classifierTrainCtes,
       |msel AS (
       |  SELECT f.doc_id, $margin AS m
       |  FROM feat f, w$clsIters),
       |ps AS (SELECT doc_id,
       |         0.5 + (0.5 * m) / (1.0 + abs(m)) AS p FROM msel)
       |SELECT doc_id,
       |  floor(p * 1000000.0 + 0.5) / 1000000.0 AS q_score,
       |  CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS keep
       |FROM ps ORDER BY doc_id""".stripMargin
  }

  /** The URL-canonicalization rule chain
    * ([[graft.operators.Curation.canonicalUrl]]) as oracle CTEs over an
    * input CTE named `d` carrying a `url` column — extra columns (snap,
    * text, fetch_id, ...) ride through the `SELECT *`s; the final stage
    * `s6` adds `canon`. Shared by q_urlnorm and q_snapshot_urlnorm so
    * the rule is written once.
    */
  private def urlCanonChainSql(dCte: String): String =
    // the input CTE arrives already margin-stripped: concatenate, don't
    // re-strip (a second stripMargin eats one pipe of every
    // line-leading '||' string concatenation)
    dCte + ",\n" +
    """s1 AS (SELECT *, split_part(url, '#', 1) AS nf FROM d),
       |s2 AS (SELECT *, instr(nf, '://') AS sp,
       |         lower(split_part(nf, '://', 1)) AS scheme,
       |         substr(nf, instr(nf, '://') + 3) AS rest FROM s1),
       |s3 AS (SELECT *, split_part(rest, '/', 1) AS auth,
       |         substr(rest, len(split_part(rest, '/', 1)) + 1) AS pathq
       |       FROM s2),
       |s4 AS (SELECT *,
       |  regexp_replace(CASE
       |      WHEN scheme = 'http'
       |        THEN regexp_replace(lower(auth), ':80$', '')
       |      WHEN scheme = 'https'
       |        THEN regexp_replace(lower(auth), ':443$', '')
       |      ELSE lower(auth) END, '^www\.', '') AS host,
       |  CASE WHEN len(split_part(pathq, '?', 1)) = 0 THEN '/'
       |    ELSE split_part(pathq, '?', 1) END AS path,
       |  CASE WHEN instr(pathq, '?') > 0
       |    THEN substr(pathq, instr(pathq, '?') + 1)
       |    ELSE '' END AS query0
       |  FROM s3),
       |s5 AS (SELECT *,
       |  array_to_string(list_sort(list_filter(string_split(query0, '&'),
       |    p -> len(p) > 0
       |      AND NOT starts_with(split_part(p, '=', 1), 'utm_')
       |      AND split_part(p, '=', 1) NOT IN
       |        ('fbclid', 'gclid', 'msclkid', 'ref', 'ref_src'))), '&')
       |    AS q
       |  FROM s4),
       |s6 AS (SELECT *,
       |  CASE WHEN sp = 0 THEN nf
       |    ELSE scheme || '://' || host || path ||
       |      CASE WHEN len(q) > 0 THEN '?' || q ELSE '' END END AS canon
       |  FROM s5)""".stripMargin

  /** Per-column table profile over lineitem (= q_profile): one arm per
    * column; min/max representation by type matches
    * [[graft.engine.DataProfile.repr]] exactly.
    */
  private lazy val profileSql: String = {
    def arm(name: String, dtype: String, mn: String, mx: String,
            distinctOf: String): String =
      s"""  SELECT '$name' AS "column", '$dtype' AS dtype,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(count(*) - count($name) AS BIGINT) AS n_nulls,
         |    CAST(count(DISTINCT $distinctOf) AS BIGINT) AS n_distinct,
         |    $mn AS min_repr, $mx AS max_repr
         |  FROM lineitem"""
    def intArm(n: String, dt: String) =
      arm(n, dt, s"CAST(min($n) AS VARCHAR)", s"CAST(max($n) AS VARCHAR)", n)
    def dblArm(n: String) =
      arm(n, "double",
        s"CAST(CAST(floor(min($n) * 1000000.0) AS BIGINT) AS VARCHAR)",
        s"CAST(CAST(floor(max($n) * 1000000.0) AS BIGINT) AS VARCHAR)", n)
    def strArm(n: String) = arm(n, "string", s"min($n)", s"max($n)", n)
    def tsArm(n: String) =
      arm(n, "timestamp",
        s"strftime(min(CAST($n AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')",
        s"strftime(max(CAST($n AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')",
        s"CAST($n AS TIMESTAMP)")
    val arms = Seq(
      intArm("l_orderkey", "bigint"), intArm("l_partkey", "bigint"),
      intArm("l_suppkey", "bigint"), intArm("l_linenumber", "int"),
      dblArm("l_quantity"), dblArm("l_extendedprice"),
      dblArm("l_discount"), dblArm("l_tax"),
      strArm("l_returnflag"), strArm("l_linestatus"),
      tsArm("l_shipdate"))
    arms.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      .stripMargin
  }

  /** q_table_profile_approx's oracle: the exact profile plus the
    * literal-TRUE bound verdict — the engine must come back with every
    * exact column identical AND the HLL estimate inside ±5% + 10.
    * (DuckDB permits the inner ORDER BY; the outer one governs.)
    */
  private lazy val profileApproxSql: String =
    s"""SELECT p.*, TRUE AS approx_within_5pct FROM (
       |$profileSql
       |) p ORDER BY "column"""".stripMargin

  /** Exact AUC + confusion over the trained classifier (= q_clf_auc):
    * the score chain of classifierScoreSql joined back to the label,
    * then tie-averaged Mann–Whitney ranks over distinct quantized
    * scores — U2 = Σ_pos (minrank + maxrank), auc_micro =
    * 1e6·(U2 − nPos(nPos+1)) div (2·nPos·nNeg), numerator provably
    * non-negative so truncating and floor division agree.
    */
  private lazy val clfAucSql: String = {
    val margin = "b + " + (0 until clsBuckets)
      .map(j => f"v${j + 1} * f$j%02d").mkString(" + ")
    s"""WITH $classifierTrainCtes,
       |msel AS (SELECT f.doc_id, $margin AS m FROM feat f, w$clsIters),
       |ps AS (SELECT doc_id,
       |         0.5 + (0.5 * m) / (1.0 + abs(m)) AS p FROM msel),
       |si AS (SELECT ps.doc_id,
       |    CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS s,
       |    CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS INT) AS keep,
       |    CAST(y AS INT) AS y
       |  FROM ps JOIN lab USING (doc_id)),
       |conf AS (SELECT
       |    CAST(sum(keep * y) AS BIGINT) AS tp,
       |    CAST(sum(keep * (1 - y)) AS BIGINT) AS fp,
       |    CAST(sum((1 - keep) * y) AS BIGINT) AS fn,
       |    CAST(sum((1 - keep) * (1 - y)) AS BIGINT) AS tn
       |  FROM si),
       |g AS (SELECT s, count(*) AS n, sum(y) AS np FROM si GROUP BY s),
       |r AS (SELECT s, n, np, sum(n) OVER (ORDER BY s) AS cum FROM g),
       |u AS (SELECT
       |    CAST(sum(np * ((cum - n + 1) + cum)) AS BIGINT) AS u2,
       |    CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(n - np) AS BIGINT) AS n_neg FROM r)
       |SELECT n_pos, n_neg, tp, fp, fn, tn, u2,
       |  CASE WHEN n_pos * n_neg = 0 THEN NULL
       |    ELSE (1000000 * (u2 - n_pos * (n_pos + 1)))
       |      // (2 * n_pos * n_neg) END AS auc_micro
       |FROM u, conf ORDER BY n_pos""".stripMargin
  }

  /** Full two-iteration k-means + final cell census (= q_kmeans). */
  private lazy val kmeansSql: String =
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS cv
       |  FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS cent_id, cv AS cent_v FROM q
       |  ORDER BY vec_id LIMIT 8),
       |${kmeansIterSql("c0", "a1", "m1", "c1")},
       |${kmeansIterSql("c1", "a2", "m2", "c2")},
       |af AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id, c2.cent_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${ldotSql("c2.cent_v", "c2.cent_v")}
       |        - 2 * ${ldotSql("q.cv", "c2.cent_v")} ASC,
       |        c2.cent_id ASC) AS rk
       |    FROM q CROSS JOIN c2)
       |  WHERE rk = 1),
       |cnt AS (SELECT cent_id, count(*) AS n_members FROM af
       |        GROUP BY cent_id)
       |SELECT c2.cent_id,
       |  COALESCE(cnt.n_members, 0) AS n_members,
       |  ${ldotSql("c2.cent_v", "c2.cent_v")} AS cnorm2,
       |  c2.cent_v[1] AS c0, c2.cent_v[33] AS c32
       |FROM c2 LEFT JOIN cnt USING (cent_id)
       |ORDER BY c2.cent_id""".stripMargin

  def oracleSql: Map[String, String] = oracleSqlLiteral ++ Map(
    // the YAML-driven pipeline runs the exact operator composition of
    // q_corpus_pipeline (PipelineSpec pins config == code row-for-row),
    // so it is gated by the same oracle
    "q_yaml_pipeline" -> oracleSqlLiteral("q_corpus_pipeline"),
    // the persisted-index paths load artifacts written by the SAME
    // deterministic build rules the inline paths compute, through the
    // same search kernels — gated by the inline oracles
    "q_simsearch_ivf_idx" -> oracleSqlLiteral("q_simsearch_ivf"),
    // incremental maintenance: build(A)+append(B) ≡ build(A ∪ B), so
    // the maintained-index queries share the built-at-once oracles
    "q_iceberg_append" -> oracleSqlLiteral("q_iceberg_scan"),
    // compaction never changes answers: same oracle as the delete
    "q_iceberg_compact" -> oracleSqlLiteral("q_iceberg_delete"),
    "q_simsearch_ivf_incr" -> oracleSqlLiteral("q_simsearch_ivf"),
    "q_simsearch_pq_incr" -> oracleSqlLiteral("q_simsearch_pq"),
    "q_simsearch_sq_incr" -> oracleSqlLiteral("q_simsearch_sq"),
    "q_dedup_minhash_incr" -> oracleSqlLiteral("q_dedup_minhash_idx"),
    "q_simsearch_pq_idx" -> oracleSqlLiteral("q_simsearch_pq"),
    "q_simsearch_sq_idx" -> oracleSqlLiteral("q_simsearch_sq")
  )

  private def oracleSqlLiteral: Map[String, String] = Map(
    "ingest_lineitem" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS l_quantity,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
        |    AS l_extendedprice,
        |  l_returnflag, CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_returnflag, l_shipdate""".stripMargin,

    "q_align" ->
      """SELECT CAST(l_orderkey AS INT) AS "L_ORDERKEY",
        |  CAST(NULL AS VARCHAR) AS missing_flag,
        |  CAST(CAST(l_shipdate AS TIMESTAMP) AS VARCHAR) AS l_shipdate,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_shipdate""".stripMargin,

    // the oracle spells out the expected COPY TEXT bytes with standard-
    // conforming (non-escaping) string literals: '\t' is backslash+t,
    // '\N' is backslash+N — the POST-escape wire form
    "q_pgcopy" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey AS VARCHAR)
        |  || chr(9) || CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR)
        |  || chr(9) || (CASE WHEN l_orderkey % 2 = 0 THEN 't' ELSE 'f' END)
        |  || chr(9) || CAST(CAST(l_shipdate AS DATE) AS VARCHAR)
        |  || chr(9) || COALESCE(NULLIF(l_returnflag, 'A'), '\N')
        |  || chr(9) || l_linestatus || '\t<\n>\\end'
        |  || chr(9) || '{' || CAST(l_linenumber AS VARCHAR) || ','
        |      || CAST(l_orderkey % 10 AS VARCHAR) || '}'
        |  AS copy_line
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber, copy_line""".stripMargin,

    // the oracle recomputes the avro-round-tripped slice straight from
    // parquet — any lossy conversion in either direction hash-mismatches
    "q_avro_roundtrip" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty_dec,
        |  NULLIF(l_returnflag, 'A') AS rflag_n,
        |  l_shipdate,
        |  CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP) AS ship_day,
        |  (l_orderkey % 2 = 0) AS even,
        |  l_extendedprice,
        |  CAST(l_linenumber AS VARCHAR) || ','
        |    || CAST(l_orderkey % 10 AS VARCHAR) AS arr_s,
        |  CAST(l_linenumber AS BIGINT) AS m_ln,
        |  l_orderkey % 7 AS m_ok7,
        |  l_suppkey AS st_a,
        |  l_linestatus AS st_b
        |FROM lineitem WHERE l_orderkey % 50 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_orc_ingest" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  NULLIF(l_returnflag, 'A') AS rflag_n, l_shipdate
        |FROM lineitem WHERE l_orderkey % 40 = 2
        |ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  rflag_n NULLS FIRST, l_shipdate""".stripMargin,

    "q_iceberg_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate
        |FROM lineitem WHERE l_orderkey % 60 = 0
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate""".stripMargin,

    "q_iceberg_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate
        |FROM lineitem WHERE l_orderkey % 60 = 0 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate""".stripMargin,

    "q_iceberg_timetravel" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate
        |FROM lineitem WHERE l_orderkey % 120 = 0
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate""".stripMargin,

    "q_iceberg_stats_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate
        |FROM lineitem
        |WHERE l_orderkey % 60 = 0 AND l_orderkey BETWEEN 1000 AND 15000
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate""".stripMargin,

    "q_iceberg_multi" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  CAST(l_linenumber % 3 AS BIGINT) AS bucket
        |FROM lineitem
        |WHERE l_orderkey % 30 = 0 AND l_returnflag = 'R'
        |  AND l_linenumber % 3 = 1
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  bucket""".stripMargin,

    // the %60=0 build shard plus the %30=0-but-not-%60=0 post-rename
    // append = the %30=0 slice, with l_quantity under its renamed
    // display name
    "q_iceberg_fieldid" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty, l_returnflag
        |FROM lineitem WHERE l_orderkey % 30 = 0
        |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag""".stripMargin,

    "q_iceberg_delete" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate
        |FROM lineitem
        |WHERE l_orderkey % 60 = 0 AND NOT (l_quantity > 25.0)
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  l_shipdate""".stripMargin,

    "q_iceberg_addcol" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  CASE WHEN l_orderkey % 60 = 30 THEN 'batch2' END AS note
        |FROM lineitem
        |WHERE l_orderkey % 60 = 0 OR l_orderkey % 60 = 30
        |ORDER BY l_orderkey, l_linenumber, l_returnflag,
        |  note NULLS FIRST""".stripMargin,

    // build ∪ append, upserted quantities on %120 keys, then the
    // predicate delete — the whole five-snapshot history in one
    // closed form
    "q_lakehouse_pipeline" ->
      """WITH s AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 120 = 0 THEN l_quantity + 100.0
        |         ELSE l_quantity END AS l_quantity,
        |    l_returnflag
        |  FROM lineitem
        |  WHERE l_orderkey % 60 = 0 OR l_orderkey % 60 = 30)
        |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM s WHERE NOT (l_quantity <= 5.0)
        |ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  l_returnflag""".stripMargin,

    // latest-wins closed-form: %120 keys carry the upserted quantity,
    // the %60=30 slice inserts, the rest of the build persists
    "q_iceberg_upsert" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey % 120 = 0 THEN l_quantity + 100.0
        |       ELSE l_quantity END AS l_quantity,
        |  l_returnflag
        |FROM lineitem
        |WHERE l_orderkey % 60 = 0 OR l_orderkey % 60 = 30
        |ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  l_returnflag""".stripMargin,

    // both shards pass through float before the double widening (the
    // build shard physically, the appended shard by the same casts),
    // so the oracle replays double(float(x)) — IEEE conversions are
    // engine-identical
    "q_iceberg_promote" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(CAST(l_quantity AS REAL) AS DOUBLE) AS l_quantity,
        |  l_returnflag
        |FROM lineitem
        |WHERE l_orderkey % 60 = 0 OR l_orderkey % 60 = 30
        |ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  l_returnflag""".stripMargin,

    "q_iceberg_bucket" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_orderkey % 20 = 0
        |  AND l_orderkey = (SELECT min(l_orderkey) FROM lineitem
        |                    WHERE l_orderkey % 20 = 0)
        |ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  l_returnflag""".stripMargin,

    // the build slice (< 1995-04-01) strictly contains the probed
    // window, so the oracle is the window alone
    "q_iceberg_days" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1995-02-01'
        |  AND TIMESTAMP '1995-02-14'
        |ORDER BY o_orderkey, o_custkey, o_totalprice,
        |  o_orderdate""".stripMargin,

    "q_iceberg_truncate" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_orderkey % 20 = 0 AND l_orderkey BETWEEN 2000 AND 9999
        |ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  l_returnflag""".stripMargin,

    // both build slices survive evolution untouched; the probe window
    // selects from each (old spec row-filtered, new spec pruned)
    "q_iceberg_evolve" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate
        |FROM orders
        |WHERE o_orderkey % 4 IN (0, 1)
        |  AND o_orderdate BETWEEN TIMESTAMP '1995-02-01'
        |    AND TIMESTAMP '1995-02-14'
        |ORDER BY o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate""".stripMargin,

    // post-publish main == base shard + both branch-staged shards;
    // the probe slices one identity partition
    "q_iceberg_branch" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_orderkey % 12 IN (0, 1, 2) AND l_returnflag = 'A'
        |ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  l_returnflag""".stripMargin,

    // the whole config-driven flow (job -> iceberg sink -> compact ->
    // tag) is answer-invariant: the probe is just the source slice
    "q_yaml_lakehouse" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders WHERE o_custkey = 37
        |ORDER BY o_orderkey""".stripMargin,

    "q_csv_ingest" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  NULLIF(l_returnflag, 'A') AS rflag_n, l_shipdate
        |FROM lineitem WHERE l_orderkey % 40 = 0
        |ORDER BY l_orderkey, l_linenumber, l_quantity,
        |  rflag_n NULLS FIRST, l_shipdate""".stripMargin,

    "q_json_ingest" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  NULLIF(l_returnflag, 'A') AS rflag_n, l_shipdate,
        |  l_suppkey AS st_a, l_linestatus AS st_b,
        |  CAST(l_linenumber AS VARCHAR) || ','
        |    || CAST(l_orderkey % 10 AS VARCHAR) AS arr_s
        |FROM lineitem WHERE l_orderkey % 40 = 1
        |ORDER BY l_orderkey, l_linenumber, st_a, st_b, arr_s,
        |  l_extendedprice, rflag_n NULLS FIRST, l_shipdate""".stripMargin,

    "q_stringagg" ->
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |    AS statuses,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    AS mean,
        |  (CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4)))
        |      AS DOUBLE)
        |   - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |     * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |     / count(*))
        |  / (count(*) - 1) AS variance
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // five exact decimal sums -> identical IEEE closed forms (see the
    // Spark side); floor-round is belt and braces on the final doubles
    "q_corr" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4)))
        |      AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(l_discount AS DECIMAL(18,2))
        |        * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4)))
        |      AS DOUBLE) AS syy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4)))
        |      AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  floor((sxy - sx * sy / n) / n * 1e6 + 0.5) / 1e6 AS covar_pop,
        |  floor((n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |    * 1e6 + 0.5) / 1e6 AS corr
        |FROM s ORDER BY l_returnflag""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bin_lo,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS bin_total
        |FROM orders GROUP BY 1 ORDER BY bin_lo""".stripMargin,

    "q_profile" ->
      """SELECT count(*) AS n_rows,
        |  count(o_custkey) AS nn_custkey,
        |  count(DISTINCT o_orderstatus) AS d_status,
        |  count(DISTINCT o_orderpriority) AS d_priority,
        |  min(CAST(o_orderdate AS TIMESTAMP)) AS min_date,
        |  max(CAST(o_orderdate AS TIMESTAMP)) AS max_date,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders""".stripMargin,

    "q_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 <> 0),
        |changes AS (
        |  SELECT o_orderkey AS c_key, 'U' AS c_status,
        |    o_totalprice + 1000.0 AS c_price
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(o_orderkey, c_key) AS o_orderkey,
        |  COALESCE(c_status, o_orderstatus) AS o_orderstatus,
        |  COALESCE(c_price, o_totalprice) AS o_totalprice
        |FROM base FULL OUTER JOIN changes ON o_orderkey = c_key
        |ORDER BY o_orderkey""".stripMargin,

    "q_union_evolve" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR)
        |    AS o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,

    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-02-01'
        |  AND l_discount > 0.05 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_star" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,

    "q_join_semi" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_outer" ->
      """SELECT c_custkey,
        |  count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_agg_distinct" ->
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status,
        |  l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status,
        |  l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_sql_tpch3" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    // identical SQL runs on both engines (timestamp cast is a no-op in
    // DuckDB; doubles sum exactly: l_quantity is integral)
    "q_sql_tpch18" -> tpch18Sql,

    "q_kmeans" -> kmeansSql,

    "q_lm_ppl" ->
      s"""$lmPplCtes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(s) AS BIGINT) AS s_micro,
         |  floor((-CAST(sum(s) AS DOUBLE) / 1e6 / count(*)) * 1e6 + 0.5)
         |    / 1e6 AS xent
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the KN walk: every count summary (joint, true history, right/left
    // continuation types, total types) recomputed from the same bigram
    // stream; probability expression in the SAME operation order as the
    // Catalyst one, quantized to micro-nats before the per-doc fold
    "q_kn_ppl" ->
      s"""$knPplCtes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(s) AS BIGINT) AS s_micro,
         |  floor((-CAST(sum(s) AS DOUBLE) / 1e6 / count(*)) * 1e6 + 0.5)
         |    / 1e6 AS xent
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // KN CTEs + the identical integer-rank keep rule as q_ppl_filter
    "q_kn_filter" ->
      s"""$knPplCtes,
         |ppl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(s) AS BIGINT) AS s_micro FROM sc GROUP BY doc_id),
         |x AS (SELECT p.doc_id, d.lang,
         |  CAST(floor((-CAST(s_micro AS DOUBLE) / 1e6 / n_bigrams)
         |    * 1e6 + 0.5) AS BIGINT) AS xent_micro
         |  FROM ppl p JOIN documents d USING (doc_id)),
         |r AS (SELECT doc_id, lang, xent_micro,
         |  row_number() OVER (PARTITION BY lang
         |                     ORDER BY xent_micro, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n FROM x)
         |SELECT doc_id, lang, xent_micro FROM r
         |WHERE (rn - 1) * 10 < n * 7 ORDER BY doc_id""".stripMargin,

    // ppl CTEs + the integer-rank keep rule of q_group_quantile:
    // keep the most-fluent 70% per language
    "q_comp_ratio" ->
      s"""$lzWalkCtes
         |SELECT doc_id, n_chars, matched, ratio_micro FROM cr
         |ORDER BY doc_id""".stripMargin,

    "q_comp_filter" ->
      s"""$lzWalkCtes,
         |x AS (SELECT cr.doc_id, d2.lang, cr.ratio_micro
         |      FROM cr JOIN documents d2 USING (doc_id)),
         |r AS (SELECT doc_id, lang, ratio_micro,
         |  row_number() OVER (PARTITION BY lang
         |                     ORDER BY ratio_micro, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n FROM x)
         |SELECT doc_id, lang, ratio_micro FROM r
         |WHERE (rn - 1) * 10 < n * 7 ORDER BY doc_id""".stripMargin,

    "q_ppl_filter" ->
      s"""$lmPplCtes,
         |ppl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(s) AS BIGINT) AS s_micro FROM sc GROUP BY doc_id),
         |x AS (SELECT p.doc_id, d.lang,
         |  CAST(floor((-CAST(s_micro AS DOUBLE) / 1e6 / n_bigrams)
         |    * 1e6 + 0.5) AS BIGINT) AS xent_micro
         |  FROM ppl p JOIN documents d USING (doc_id)),
         |r AS (SELECT doc_id, lang, xent_micro,
         |  row_number() OVER (PARTITION BY lang
         |                     ORDER BY xent_micro, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n FROM x)
         |SELECT doc_id, lang, xent_micro FROM r
         |WHERE (rn - 1) * 10 < n * 7 ORDER BY doc_id""".stripMargin,

    "q_dsir" ->
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, (lang = 'en') AS tgt, w,
         |    ${hashSql("w")} % 256 AS b
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |  WHERE w <> ''),
         |bc AS (
         |  SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         |         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
         |  FROM tok GROUP BY b),
         |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM bc),
         |sc AS (
         |  SELECT b, CAST(floor(1e6 * ln(
         |      CAST((ct + 1) * (tr + 256) AS DOUBLE)
         |        / CAST((cr + 1) * (tt + 256) AS DOUBLE)))
         |    AS BIGINT) AS s
         |  FROM bc, tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(s) AS BIGINT) AS w_micro,
         |  CASE WHEN sum(s) >= 0 THEN 1 ELSE 0 END AS keep
         |FROM tok JOIN sc USING (b)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_kcenter" -> kcenterSql,

    "q_kcenter_census" -> kcenterCensusSql,

    "q_bpe" -> bpeSql,

    "q_bpe_encode" -> bpeEncodeSql,

    "q_bpe_fertility" -> bpeFertilitySql,

    // bit i of l_orderkey at position 2i, of l_partkey at 2i+1, low 21
    // bits each ((1<<21)-1 = 2097151); the two addends never share bits
    "q_zorder" ->
      """SELECT l_orderkey, l_partkey,
        |  CAST(list_sum(list_transform(range(0, 21), i ->
        |    ((((l_orderkey & 2097151) >> i) & 1) << (2*i))
        |    + ((((l_partkey & 2097151) >> i) & 1) << (2*i + 1))))
        |    AS BIGINT) AS zval
        |FROM lineitem
        |ORDER BY zval, l_orderkey, l_partkey""".stripMargin,

    "q_wordpiece" -> wordpieceSql,

    "q_wordpiece_encode" -> wordpieceEncodeSql,

    "q_wordpiece_fertility" -> wordpieceFertilitySql,

    // integer-rank keep rule: rn <= ceil(3n/5) written as
    // (rn-1)*5 < 3n so neither engine computes a float ceil
    "q_group_quantile" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY -n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM r
        |WHERE (rn - 1) * 5 < n * 3 ORDER BY doc_id""".stripMargin,

    "q_bpe_apply" -> bpeApplySql,
    "q_sql_tpch5" -> tpch5Sql,
    "q_sql_tpch6" -> tpch6Sql,
    "q_sql_tpch10" -> tpch10Sql,
    "q_sql_tpch4" -> tpch4Sql,
    "q_sql_tpch14" -> tpch14Sql,

    // the bloom pre-filter is semantics-free (false positives removed by
    // the exact semi-join), so the oracle is the plain semi-join
    "q_bloom_join" ->
      """SELECT l_suppkey, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                    WHERE s_acctbal > 8000)
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    // struct-max argmin/argmax: ties resolved exactly like Spark's
    // lexicographic struct ordering (max -> larger key, min -> smaller)
    "q_argminmax" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rx,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
        |  FROM orders)
        |SELECT o_orderpriority,
        |  max(CASE WHEN rx = 1 THEN o_orderkey END) AS max_key,
        |  max(CASE WHEN rx = 1 THEN o_totalprice END) AS max_price,
        |  max(CASE WHEN rn = 1 THEN o_orderkey END) AS min_key,
        |  max(CASE WHEN rn = 1 THEN o_totalprice END) AS min_price,
        |  count(*) AS n
        |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // z-score anomalies from exact decimal sums; mean/sd/z are the
    // identical IEEE expressions on both engines
    "q_zscore" ->
      """WITH s AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6)) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type),
        |z AS (
        |  SELECT event_id, e.event_type, value,
        |    (value - sx / n) /
        |      sqrt((sxx - sx * sx / n) / (n - 1)) AS z
        |  FROM events e JOIN s ON e.event_type = s.event_type)
        |SELECT event_id, event_type, value,
        |  floor(z * 1e6 + 0.5) / 1e6 AS z
        |FROM z WHERE abs(z) > 3 ORDER BY event_id""".stripMargin,

    // MAD outliers: med and mad rounded to 1e-6 BEFORE the 5×MAD
    // threshold so the boundary is the identical double on both engines
    "q_mad" ->
      """WITH m AS (
        |  SELECT event_type,
        |    floor(quantile_cont(value, 0.5) * 1e6 + 0.5) / 1e6 AS med
        |  FROM events GROUP BY event_type),
        |d AS (
        |  SELECT event_type, abs(value - med) AS ad, med
        |  FROM events JOIN m USING (event_type)),
        |md AS (
        |  SELECT event_type,
        |    floor(quantile_cont(ad, 0.5) * 1e6 + 0.5) / 1e6 AS mad
        |  FROM d GROUP BY event_type)
        |SELECT event_type,
        |  min(med) AS med, min(mad) AS mad, count(*) AS n,
        |  CAST(sum(CASE WHEN ad > 5 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_out
        |FROM d JOIN md USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // hourly downsample: last observation = (ts, event_id, value)
    // struct-max == row_number over the same DESC ordering
    "q_resample" ->
      """WITH e AS (
        |  SELECT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |    CAST(ts AS TIMESTAMP) AS tsu, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type, hour_start
        |      ORDER BY tsu DESC, event_id DESC, value DESC) AS rn
        |  FROM e),
        |a AS (
        |  SELECT event_type, hour_start, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |  FROM e GROUP BY event_type, hour_start)
        |SELECT a.event_type, a.hour_start,
        |  r.event_id AS last_event_id, r.value AS last_value,
        |  sv / n AS avg_value, n
        |FROM a JOIN r ON a.event_type = r.event_type
        |             AND a.hour_start = r.hour_start
        |WHERE r.rn = 1
        |ORDER BY a.event_type, a.hour_start""".stripMargin,

    "q_sql_tpch12" -> tpch12Sql,
    "q_sql_tpch7" -> tpch7Sql,
    "q_sql_tpch8" -> tpch8Sql,
    "q_sql_tpch13" -> tpch13Sql,

    "q_sql_lateral" -> lateralSql,

    "q_sql_recursive" -> recursiveSql,
    "q_sql_tpch15" -> tpch15Sql,
    "q_sql_tpch17" -> tpch17Sql,
    "q_sql_tpch19" -> tpch19Sql,
    "q_sql_tpch2" -> tpch2Sql,
    "q_sql_tpch9" -> tpch9Sql,
    "q_sql_tpch11" -> tpch11Sql,
    "q_sql_tpch16" -> tpch16Sql,
    "q_sql_tpch20" -> tpch20Sql,
    "q_sql_tpch21" -> tpch21Sql,
    "q_sql_tpch22" -> tpch22Sql,

    // token-budget packing manifest: hash shards, per-shard running
    // offsets, bins cut every 512 tokens (mirrors Curation.packShards)
    "q_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    ${hashSql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT shard, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT shard,
         |  CAST(FLOOR(CAST(cum - n_tok AS DOUBLE) / 512) AS BIGINT)
         |    AS bin,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

    // deterministic interleave: per-shard md5 order, round-robin merge
    "q_interleave" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    ${hashSql("CAST(doc_id AS VARCHAR)")} % 4 AS shard,
         |    md5(CAST(doc_id AS VARCHAR) || ':shuf') AS sort_key
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, shard,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY sort_key, doc_id) AS BIGINT) AS pos_in_shard
         |  FROM t)
         |SELECT doc_id, shard, pos_in_shard,
         |  (pos_in_shard - 1) * 4 + shard AS global_pos
         |FROM r ORDER BY global_pos""".stripMargin,

    // dense variant: rank of the sparse round-robin position
    "q_interleave_dense" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    ${hashSql("CAST(doc_id AS VARCHAR)")} % 4 AS shard,
         |    md5(CAST(doc_id AS VARCHAR) || ':shuf') AS sort_key
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, shard,
         |    CAST(row_number() OVER (PARTITION BY shard
         |      ORDER BY sort_key, doc_id) AS BIGINT) AS pos_in_shard
         |  FROM t)
         |SELECT doc_id, shard, pos_in_shard,
         |  CAST(row_number() OVER (
         |    ORDER BY (pos_in_shard - 1) * 4 + shard) - 1 AS BIGINT)
         |    AS global_pos
         |FROM r ORDER BY global_pos""".stripMargin,

    // mixture rebalancing: hash-fold keep rates en 2/10, zh 8/10,
    // default 5/10 (the q_sample fold family, different rates)
    "q_mixture" ->
      s"""WITH orig AS (
         |  SELECT lang, count(*) AS n_orig FROM documents GROUP BY lang),
         |kept AS (
         |  SELECT lang, count(*) AS n_kept,
         |    CAST(sum(n_chars) AS BIGINT) AS chars_kept
         |  FROM documents
         |  WHERE ${hashSql("CAST(doc_id AS VARCHAR)")} % 10 <
         |    CASE WHEN lang = 'en' THEN 2
         |         WHEN lang = 'zh' THEN 8 ELSE 5 END
         |  GROUP BY lang)
         |SELECT orig.lang AS lang, n_orig,
         |  COALESCE(n_kept, 0) AS n_kept,
         |  COALESCE(chars_kept, 0) AS chars_kept
         |FROM orig LEFT JOIN kept ON orig.lang = kept.lang
         |ORDER BY lang""".stripMargin,

    // alpha-sampling weights: sqrt terms quantized to integer micro-
    // units before the normalizing sum (exact under any order); final
    // ratios are fixed-order double expressions
    "q_mixture_alpha" ->
      """WITH pl AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS q_sqrt
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(q_sqrt) AS BIGINT) AS z,
        |               CAST(sum(n_docs) AS BIGINT) AS n_total
        |        FROM pl)
        |SELECT lang, n_docs,
        |  CAST(q_sqrt AS DOUBLE) / CAST(z AS DOUBLE) AS alpha_weight,
        |  CAST(floor(CAST(q_sqrt AS DOUBLE) / CAST(z AS DOUBLE)
        |    * CAST(n_total AS DOUBLE)) AS BIGINT) AS expected_sample
        |FROM pl CROSS JOIN tot
        |ORDER BY lang""".stripMargin,

    // salted k-fold assignment census (salt ':cv' decouples from the
    // q_sample fold family)
    "q_folds" ->
      s"""SELECT ${hashSql("CAST(doc_id AS VARCHAR) || ':cv'")} % 5
         |    AS fold,
         |  lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM documents
         |GROUP BY fold, lang
         |ORDER BY fold, lang""".stripMargin,

    // curriculum quartiles over token count, rank-based (ntile), ties
    // broken by doc_id
    "q_curriculum" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_chars, n_tok,
        |    CAST(ntile(4) OVER (ORDER BY n_tok, doc_id) AS BIGINT) AS bin
        |  FROM t)
        |SELECT bin, count(*) AS n, min(n_tok) AS min_tok,
        |  max(n_tok) AS max_tok, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // interval overlap: sessions built exactly as q_sessionize (users
    // <= 30), then the direct quadratic overlap join — the oracle takes
    // the BNLJ path the Spark side's bucketed join is proven against
    "q_join_interval" ->
      """WITH x AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events WHERE user_id <= 30
        |), y AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |             THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM x
        |), sess AS (
        |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |    min(epoch_us(ts)) AS st, max(epoch_us(ts)) AS en
        |  FROM y GROUP BY user_id, session_id)
        |SELECT a.user_id AS u1, a.session_id AS s1,
        |  b.user_id AS u2, b.session_id AS s2,
        |  least(a.en, b.en) - greatest(a.st, b.st) AS overlap_us
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id
        | AND a.st <= b.en AND b.st <= a.en
        |ORDER BY u1, s1, u2, s2""".stripMargin,

    // langid confusion matrix: the q_langid scorer joined to the truth
    // labels (zh has no stopword list — it lands on the en fallback arm,
    // which is the point of measuring the confusion)
    "q_langid_eval" ->
      """WITH x AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ts, t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |      / greatest(len(ts), 1) AS score_en,
        |    CAST(len(list_filter(ts, t -> t IN ('el','la','de','y','que'))) AS DOUBLE)
        |      / greatest(len(ts), 1) AS score_es,
        |    CAST(len(list_filter(ts, t -> t IN ('le','la','et','de','un'))) AS DOUBLE)
        |      / greatest(len(ts), 1) AS score_fr,
        |    CAST(len(list_filter(ts, t -> t IN ('der','die','und','das','ist'))) AS DOUBLE)
        |      / greatest(len(ts), 1) AS score_de
        |  FROM x),
        |p AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN score_en >= score_es AND score_en >= score_fr
        |           AND score_en >= score_de THEN 'en'
        |      WHEN score_es >= score_fr AND score_es >= score_de THEN 'es'
        |      WHEN score_fr >= score_de THEN 'fr'
        |      ELSE 'de' END AS lang_pred
        |  FROM sc)
        |SELECT d.lang AS lang_true, p.lang_pred AS lang_pred,
        |  count(*) AS n
        |FROM p JOIN documents d ON p.doc_id = d.doc_id
        |GROUP BY lang_true, lang_pred
        |ORDER BY lang_true, lang_pred""".stripMargin,

    // sliding-window chunk manifest: win 32, stride 16; last window
    // clipped; docs at or under one window emit a single chunk
    "q_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    unnest(range(0, CASE WHEN n_tok <= 32 THEN 1
        |      ELSE CAST(FLOOR(CAST(n_tok - 32 + 15 AS DOUBLE) / 16)
        |             AS BIGINT) + 1 END)) AS chunk_idx
        |  FROM t)
        |SELECT doc_id, n_tok, chunk_idx,
        |  chunk_idx * 16 + 1 AS start_tok,
        |  least(32, n_tok - chunk_idx * 16) AS chunk_toks
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // boilerplate excision: the q_dedup_cdc chunk CTEs with positions,
    // chunks in >= 3 distinct docs removed, ordered reconstruction
    "q_boilerplate" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(
        |      range(1, CASE WHEN length(text) < 16 THEN 1
        |               ELSE length(text) - 14 END),
        |      i -> CASE WHEN (
        |        list_reduce(list_transform(range(0, 16),
        |          j -> CAST(unicode(substr(text, CAST(i+j AS INT), 1))
        |                    AS BIGINT)),
        |          (a, x) -> (a * 131 + x) % 1000000007)
        |        * 1000000009
        |        + list_reduce(list_transform(range(0, 16),
        |          j -> CAST(unicode(substr(text, CAST(i+j AS INT), 1))
        |                    AS BIGINT)),
        |          (a, x) -> (a * 137 + x) % 1000000009)) % 64 = 0
        |        THEN i + 15 END),
        |      x -> x IS NOT NULL) AS cuts
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |    ([1] || list_transform(cuts, x -> x + 1)) AS starts,
        |    (cuts || [length(text)]) AS ends
        |  FROM c),
        |chlist AS (
        |  SELECT doc_id, list_filter(
        |    list_transform(range(1, len(starts) + 1),
        |      j -> substr(text, CAST(starts[CAST(j AS INT)] AS INT),
        |        CAST(ends[CAST(j AS INT)] - starts[CAST(j AS INT)] + 1
        |          AS INT))),
        |    x -> length(x) > 0) AS lst
        |  FROM s),
        |chx AS (
        |  SELECT doc_id, unnest(generate_series(1, len(lst))) AS j, lst
        |  FROM chlist),
        |ch AS (
        |  SELECT doc_id, j - 1 AS idx, lst[CAST(j AS INT)] AS chunk
        |  FROM chx),
        |common AS (
        |  SELECT chunk FROM ch GROUP BY chunk
        |  HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (
        |  SELECT doc_id, idx, chunk FROM ch
        |  WHERE chunk NOT IN (SELECT chunk FROM common)),
        |res AS (
        |  SELECT doc_id,
        |    string_agg(chunk, '' ORDER BY idx) AS clean_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        |  COALESCE(n_kept, 0) AS n_kept,
        |  CAST(length(COALESCE(clean_text, '')) AS BIGINT) AS clean_len,
        |  CAST(length(d.text) - length(COALESCE(clean_text, ''))
        |    AS BIGINT) AS removed
        |FROM documents d LEFT JOIN res ON res.doc_id = d.doc_id
        |ORDER BY doc_id""".stripMargin,

    // recall@5 of IVF vs brute force: both sides are the proven
    // q_simsearch / q_simsearch_ivf pipelines (renamed CTEs), hits via
    // INTERSECT, zero-hit queries kept by the left join
    "q_simsearch_recall" ->
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS qv
         |            FROM embeddings WHERE vec_id < 10),
         |bc AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
         |bs AS (
         |  SELECT qid, cid, ${qdotSql("qv", "cv")} AS score
         |  FROM bq, bc WHERE qid != cid),
         |ex AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, cid) AS rnk
         |    FROM bs) WHERE rnk <= 5),
         |cent AS (SELECT vec_id AS cent_id, embedding AS cent_v
         |         FROM embeddings WHERE vec_id < 16),
         |asg AS (
         |  SELECT cid, cv, cent_id FROM (
         |    SELECT cid, cv, cent_id, row_number() OVER (
         |      PARTITION BY cid ORDER BY cscore DESC, cent_id) AS crank
         |    FROM (SELECT cid, cv, cent_id,
         |            ${qdotSql("cv", "cent_v")} AS cscore
         |          FROM bc, cent))
         |  WHERE crank = 1),
         |probes AS (
         |  SELECT qid, qv, cent_id FROM (
         |    SELECT qid, qv, cent_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY pscore DESC, cent_id) AS prank
         |    FROM (SELECT qid, qv, cent_id,
         |            ${qdotSql("qv", "cent_v")} AS pscore
         |          FROM bq, cent))
         |  WHERE prank <= 4),
         |ap AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, cid) AS rnk
         |    FROM (SELECT p.qid, a.cid, ${qdotSql("p.qv", "a.cv")} AS score
         |          FROM probes p JOIN asg a USING (cent_id)
         |          WHERE p.qid != a.cid))
         |  WHERE rnk <= 5),
         |h AS (
         |  SELECT qid, count(*) AS n_hits FROM (
         |    SELECT qid, cid FROM ex INTERSECT SELECT qid, cid FROM ap)
         |  GROUP BY qid)
         |SELECT bq.qid AS qid,
         |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM bq LEFT JOIN h ON bq.qid = h.qid
         |ORDER BY qid""".stripMargin,

    // recall@5 of PQ vs brute force: exact branch = q_simsearch's
    // proven pipeline, approx branch = q_simsearch_pq's (renamed into
    // an `ap` CTE), hits via INTERSECT, zero-hit queries kept
    "q_pq_recall" ->
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS bqv
         |            FROM embeddings WHERE vec_id < 10),
         |bc AS (SELECT vec_id AS bcid, embedding AS bcv FROM embeddings),
         |bs AS (
         |  SELECT qid, bcid AS cid, ${qdotSql("bqv", "bcv")} AS score
         |  FROM bq, bc WHERE qid != bcid),
         |ex AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, cid) AS rnk
         |    FROM bs) WHERE rnk <= 5),
         |q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |sub AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS s),
         |base AS (SELECT vec_id AS code_id, qv FROM q
         |         ORDER BY vec_id LIMIT 16),
         |cb AS (
         |  SELECT code_id, s.s AS s,
         |    qv[(s.s*8+1):(s.s*8+8)] AS cent
         |  FROM base, sub s),
         |cs AS (
         |  SELECT vec_id AS cid, s.s AS s,
         |    qv[(s.s*8+1):(s.s*8+8)] AS sv
         |  FROM q, sub s),
         |enc AS (
         |  SELECT cid, s, code_id FROM (
         |    SELECT cs.cid, cs.s, cb.code_id, row_number() OVER (
         |      PARTITION BY cs.cid, cs.s
         |      ORDER BY ${ldotSql("cent", "cent")}
         |               - 2 * ${ldotSql("sv", "cent")} ASC, cb.code_id) AS r
         |    FROM cs JOIN cb USING (s))
         |  WHERE r = 1),
         |lutq AS (SELECT vec_id AS qid, qv FROM q WHERE vec_id < 10),
         |lut AS (
         |  SELECT qid, cb.s, cb.code_id,
         |    ${ldotSql("lutq.qv[(cb.s*8+1):(cb.s*8+8)]", "cb.cent")} AS p
         |  FROM lutq, cb),
         |sc AS (
         |  SELECT l.qid, e.cid, CAST(sum(l.p) AS BIGINT) AS score
         |  FROM enc e JOIN lut l ON e.s = l.s AND e.code_id = l.code_id
         |  WHERE l.qid != e.cid
         |  GROUP BY l.qid, e.cid),
         |ap AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, cid) AS rnk
         |    FROM sc) WHERE rnk <= 5),
         |h AS (
         |  SELECT qid, count(*) AS n_hits FROM (
         |    SELECT qid, cid FROM ex INTERSECT SELECT qid, cid FROM ap)
         |  GROUP BY qid)
         |SELECT bq.qid AS qid,
         |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM bq LEFT JOIN h ON bq.qid = h.qid
         |ORDER BY qid""".stripMargin,

    // recall@5 of SQ8 vs brute force — q_simsearch_sq's pipeline as
    // the `ap` branch
    "q_sq_recall" ->
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS bqv
         |            FROM embeddings WHERE vec_id < 10),
         |bc AS (SELECT vec_id AS bcid, embedding AS bcv FROM embeddings),
         |bs AS (
         |  SELECT qid, bcid AS cid, ${qdotSql("bqv", "bcv")} AS score
         |  FROM bq, bc WHERE qid != bcid),
         |ex AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, cid) AS rnk
         |    FROM bs) WHERE rnk <= 5),
         |q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |st AS (
         |  SELECT d, min(qv[d + 1]) AS lo, max(qv[d + 1]) AS hi
         |  FROM q, (SELECT CAST(unnest(range(0, 64)) AS INT) AS d)
         |  GROUP BY d),
         |stl AS (
         |  SELECT list(lo ORDER BY d) AS los, list(hi ORDER BY d) AS his
         |  FROM st),
         |enc AS (
         |  SELECT vec_id AS cid,
         |    list_transform(range(0, 64), i ->
         |      255 * los[i + 1]
         |      + (((qv[i + 1] - los[i + 1]) * 255)
         |         // greatest(his[i + 1] - los[i + 1], 1))
         |        * (his[i + 1] - los[i + 1])) AS dq
         |  FROM q, stl),
         |sc AS (
         |  SELECT qq.vec_id AS qid, e.cid,
         |    CAST(list_sum(list_transform(range(0, 64),
         |      i -> qq.qv[i + 1] * e.dq[i + 1])) AS BIGINT) AS score
         |  FROM (SELECT vec_id, qv FROM q WHERE vec_id < 10) qq, enc e
         |  WHERE qq.vec_id <> e.cid),
         |ap AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, cid) AS rnk
         |    FROM sc) WHERE rnk <= 5),
         |h AS (
         |  SELECT qid, count(*) AS n_hits FROM (
         |    SELECT qid, cid FROM ex INTERSECT SELECT qid, cid FROM ap)
         |  GROUP BY qid)
         |SELECT bq.qid AS qid,
         |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM bq LEFT JOIN h ON bq.qid = h.qid
         |ORDER BY qid""".stripMargin,

    // recall@5 of the LSH-bucketed path vs brute force —
    // q_simsearch_lsh's proven CTEs as the `ap` branch, the pq/sq
    // INTERSECT device for the hit counts
    "q_lsh_recall" ->
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS bqv
         |            FROM embeddings WHERE vec_id < 10),
         |bc AS (SELECT vec_id AS bcid, embedding AS bcv FROM embeddings),
         |bs AS (
         |  SELECT qid, bcid AS cid, ${qdotSql("bqv", "bcv")} AS score
         |  FROM bq, bc WHERE qid != bcid),
         |ex AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, cid) AS rnk
         |    FROM bs) WHERE rnk <= 5),
         |hp AS (
         |  SELECT j, list_transform(range(0, 64),
         |    d -> (1103515245 * (j*64 + d) + 12345) % 2001 - 1000) AS h
         |  FROM (SELECT unnest(range(0, 12)) AS j)),
         |q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |b AS (
         |  SELECT q.vec_id, hp.j,
         |    CASE WHEN list_sum(list_transform(list_zip(q.qv, hp.h),
         |      z -> z[1] * z[2])) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM q, hp),
         |bandkeys AS (
         |  SELECT vec_id, j // 3 AS band, sum(bit * (1 << (j % 3))) AS bk
         |  FROM b GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS qid, y.vec_id AS cid
         |  FROM bandkeys x JOIN bandkeys y
         |    ON x.band = y.band AND x.bk = y.bk
         |  WHERE x.vec_id < 10 AND x.vec_id != y.vec_id),
         |sc AS (
         |  SELECT c.qid, c.cid,
         |    ${qdotSql("a.embedding", "b.embedding")} AS score
         |  FROM cand c JOIN embeddings a ON c.qid = a.vec_id
         |              JOIN embeddings b ON c.cid = b.vec_id),
         |ap AS (
         |  SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, cid) AS rnk
         |    FROM sc) WHERE rnk <= 5),
         |h AS (
         |  SELECT qid, count(*) AS n_hits FROM (
         |    SELECT qid, cid FROM ex INTERSECT SELECT qid, cid FROM ap)
         |  GROUP BY qid)
         |SELECT bq.qid AS qid,
         |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM bq LEFT JOIN h ON bq.qid = h.qid
         |ORDER BY qid""".stripMargin,

    // content-defined chunking: positional rolling 16-gram double-prime
    // hash (the q_winnow kernel), cut after char i+15 where h % 64 = 0,
    // chunks between cuts, shared (n_docs >= 2) chunks only
    "q_dedup_cdc" ->
      s"""WITH c AS (
         |  SELECT doc_id, text,
         |    list_filter(list_transform(
         |      range(1, CASE WHEN length(text) < 16 THEN 1
         |               ELSE length(text) - 14 END),
         |      i -> CASE WHEN (
         |        list_reduce(list_transform(range(0, 16),
         |          j -> CAST(unicode(substr(text, CAST(i+j AS INT), 1))
         |                    AS BIGINT)),
         |          (a, x) -> (a * 131 + x) % 1000000007)
         |        * 1000000009
         |        + list_reduce(list_transform(range(0, 16),
         |          j -> CAST(unicode(substr(text, CAST(i+j AS INT), 1))
         |                    AS BIGINT)),
         |          (a, x) -> (a * 137 + x) % 1000000009)) % 64 = 0
         |        THEN i + 15 END),
         |      x -> x IS NOT NULL) AS cuts
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, text,
         |    ([1] || list_transform(cuts, x -> x + 1)) AS starts,
         |    (cuts || [length(text)]) AS ends
         |  FROM c),
         |ch AS (
         |  SELECT doc_id, unnest(list_filter(
         |    list_transform(range(1, len(starts) + 1),
         |      j -> substr(text, CAST(starts[CAST(j AS INT)] AS INT),
         |        CAST(ends[CAST(j AS INT)] - starts[CAST(j AS INT)] + 1
         |          AS INT))),
         |    x -> length(x) > 0)) AS chunk
         |  FROM s)
         |SELECT ${hashSql("chunk")} AS chunk_h,
         |  count(*) AS n_copies,
         |  count(DISTINCT doc_id) AS n_docs,
         |  min(doc_id) AS keep_doc,
         |  CAST(min(length(chunk)) AS BIGINT) AS chunk_len
         |FROM ch
         |GROUP BY chunk_h
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_h""".stripMargin,

    // 1-day-window conversion funnel; stage thresholds are timestamp
    // comparisons at µs granularity (ts cast to TIMESTAMP both sides)
    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |    AND CAST(e.ts AS TIMESTAMP) > v.t1
        |    AND CAST(e.ts AS TIMESTAMP) <= v.t1 + INTERVAL 1 DAY
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |    AND CAST(e.ts AS TIMESTAMP) > c.t2
        |    AND CAST(e.ts AS TIMESTAMP) <= c.t2 + INTERVAL 1 DAY
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS stage_n, 'view' AS stage,
        |  count(*) AS n_users, min(t1) AS first_ts, max(t1) AS last_ts
        |FROM v
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', count(*), min(t2), max(t2)
        |FROM c
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', count(*), min(t3), max(t3)
        |FROM p
        |ORDER BY stage_n""".stripMargin,

    // cohort retention: first-active day x day offset, distinct users
    "q_retention" ->
      """WITH f AS (
        |  SELECT user_id,
        |    date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS cohort
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT e.user_id, f.cohort,
        |    CAST(datediff('day', f.cohort,
        |      date_trunc('day', CAST(e.ts AS TIMESTAMP))) AS BIGINT)
        |      AS d_off
        |  FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort, d_off,
        |  count(*) AS n_active
        |FROM a WHERE d_off <= 7
        |GROUP BY cohort, d_off
        |ORDER BY cohort, d_off""".stripMargin,

    // SCD2 validity intervals over the signup change stream
    "q_scd2" ->
      """SELECT user_id, event_id,
        |  CAST(ts AS TIMESTAMP) AS valid_from, value,
        |  lead(CAST(ts AS TIMESTAMP), 1) OVER (
        |    PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS valid_to,
        |  lead(CAST(ts AS TIMESTAMP), 1) OVER (
        |    PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
        |    AS is_current
        |FROM events WHERE event_type = 'signup'
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    // hash-half drift census (salt ':drift'), integers only
    "q_drift" ->
      s"""SELECT lang,
         |  CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_a,
         |  CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_b,
         |  CAST(abs(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END)
         |    - sum(CASE WHEN h = 1 THEN 1 ELSE 0 END)) AS BIGINT)
         |    AS skew
         |FROM (SELECT lang,
         |    ${hashSql("CAST(doc_id AS VARCHAR) || ':drift'")} % 2 AS h
         |  FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // the variant walk replayed on the raw JSON: typed field access via
    // json_extract, missing path -> NULL, and the closed-form
    // schema_of_variant string for the fixture's uniform {"k": int}
    "q_variant" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  CAST(NULL AS VARCHAR) AS m,
        |  'OBJECT<k: BIGINT>' AS sch,
        |  (CAST(json_extract(props, '$.k') AS BIGINT) % 7 = 0) AS k_div7
        |FROM events ORDER BY event_id""".stripMargin,

    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id AS id, md5(text) AS h_old
        |           FROM documents WHERE doc_id < 400),
        |n AS (SELECT doc_id AS id,
        |    md5(CASE WHEN doc_id % 97 = 0 THEN text || ' v2'
        |        ELSE text END) AS h_new
        |  FROM documents WHERE doc_id >= 50),
        |d AS (
        |  SELECT COALESCE(o.id, n.id) AS id,
        |    CASE WHEN o.id IS NULL THEN 'added'
        |         WHEN n.id IS NULL THEN 'removed'
        |         WHEN h_old <> h_new THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN n ON o.id = n.id)
        |SELECT id, status FROM d WHERE status <> 'unchanged'
        |ORDER BY id""".stripMargin,

    // the same two windows (prefix sum − running min) over the same
    // integer deviations; alarm rule replayed with the n-scaled h
    "q_cusum" ->
      """WITH b AS (
        |  SELECT event_type AS k, ts AS o, event_id AS tie,
        |    CAST(floor(value * 1000) AS BIGINT) AS x
        |  FROM events),
        |t AS (
        |  SELECT *, sum(x) OVER (PARTITION BY k) AS s_tot,
        |    count(*) OVER (PARTITION BY k) AS n
        |  FROM b),
        |p AS (
        |  SELECT *, sum(n*x - s_tot) OVER w AS pp,
        |    row_number() OVER (PARTITION BY k ORDER BY o, tie) AS pos
        |  FROM t
        |  WINDOW w AS (PARTITION BY k ORDER BY o, tie
        |               ROWS UNBOUNDED PRECEDING)),
        |s AS (
        |  SELECT *, pp - least(0, min(pp) OVER
        |    (PARTITION BY k ORDER BY o, tie ROWS UNBOUNDED PRECEDING))
        |    AS ss
        |  FROM p)
        |SELECT k, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(ss) AS BIGINT) AS max_stat,
        |  CAST(sum(CASE WHEN ss > n * 2000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_alarms,
        |  CAST(min(CASE WHEN ss > n * 2000000 THEN pos END) AS INT)
        |    AS first_alarm_pos
        |FROM s GROUP BY k ORDER BY k""".stripMargin,

    "q_cusum_fixed" ->
      """WITH b AS (
        |  SELECT event_type AS k, ts AS o, event_id AS tie,
        |    CAST(floor(value * 1000) AS BIGINT) - 53000 - 3000 AS d
        |  FROM events),
        |p AS (
        |  SELECT *, sum(d) OVER w AS pp,
        |    row_number() OVER (PARTITION BY k ORDER BY o, tie) AS pos
        |  FROM b
        |  WINDOW w AS (PARTITION BY k ORDER BY o, tie
        |               ROWS UNBOUNDED PRECEDING)),
        |s AS (
        |  SELECT *, pp - least(0, min(pp) OVER
        |    (PARTITION BY k ORDER BY o, tie ROWS UNBOUNDED PRECEDING))
        |    AS ss
        |  FROM p)
        |SELECT k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(ss) AS BIGINT) AS max_stat,
        |  CAST(sum(CASE WHEN ss > 300000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_alarms,
        |  CAST(min(CASE WHEN ss > 300000 THEN pos END) AS INT)
        |    AS first_alarm_pos
        |FROM s GROUP BY k ORDER BY k""".stripMargin,

    "q_cusum_user" ->
      """WITH b AS (
        |  SELECT user_id AS k, ts AS o, event_id AS tie,
        |    CAST(floor(value * 1000) AS BIGINT) - 50000 - 2000 AS d
        |  FROM events),
        |p AS (
        |  SELECT *, sum(d) OVER w AS pp,
        |    row_number() OVER (PARTITION BY k ORDER BY o, tie) AS pos
        |  FROM b
        |  WINDOW w AS (PARTITION BY k ORDER BY o, tie
        |               ROWS UNBOUNDED PRECEDING)),
        |s AS (
        |  SELECT *, pp - least(0, min(pp) OVER
        |    (PARTITION BY k ORDER BY o, tie ROWS UNBOUNDED PRECEDING))
        |    AS ss
        |  FROM p)
        |SELECT k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(ss) AS BIGINT) AS max_stat,
        |  CAST(sum(CASE WHEN ss > 150000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_alarms,
        |  CAST(min(CASE WHEN ss > 150000 THEN pos END) AS INT)
        |    AS first_alarm_pos
        |FROM s GROUP BY k ORDER BY k""".stripMargin,

    "q_window_range" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS near_qty,
        |  count(*) OVER w AS near_n
        |FROM lineitem WHERE l_suppkey <= 10
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice
        |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY l_suppkey, l_extendedprice, l_orderkey, l_linenumber""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderpriority,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |  o_orderkey, o_totalprice
        |FROM orders
        |QUALIFY rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,

    "q_window_first" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WHERE o_custkey <= 200
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_dist" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  o_totalprice - lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS delta
        |FROM orders
        |QUALIFY prev_price IS NOT NULL
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_qty
        |FROM lineitem WHERE l_suppkey <= 10
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "q_setops" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |     p AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM f INTERSECT SELECT * FROM p)
        |UNION ALL
        |SELECT 'only_f' AS tag, o_custkey FROM (SELECT * FROM f EXCEPT SELECT * FROM p)
        |UNION ALL
        |SELECT 'only_p' AS tag, o_custkey FROM (SELECT * FROM p EXCEPT SELECT * FROM f)
        |ORDER BY tag, o_custkey""".stripMargin,

    "q_topk_agg" ->
      """SELECT o_orderstatus, rnk, o_orderkey, cents FROM (
        |  SELECT o_orderstatus,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY floor(o_totalprice * 100) DESC, o_orderkey)
        |      AS INT) AS rnk,
        |    o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_orderstatus, rnk""".stripMargin,

    "q_setops_all" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |p AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'),
        |ea AS (SELECT * FROM f EXCEPT ALL SELECT * FROM p),
        |ia AS (SELECT * FROM f INTERSECT ALL SELECT * FROM p)
        |SELECT 'except_all' AS tag, count(*) AS n,
        |  count(DISTINCT o_custkey) AS nd FROM ea
        |UNION ALL
        |SELECT 'inter_all', count(*), count(DISTINCT o_custkey) FROM ia
        |ORDER BY tag""".stripMargin,

    "q_scalar_str" ->
      """SELECT p_partkey,
        |  upper(substr(p_name, 1, 8)) AS name_prefix,
        |  concat_ws('-', p_brand, p_type) AS brand_type,
        |  length(p_name) AS name_len,
        |  p_size % 7 AS size_mod,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |  translate(p_brand, 'AEIOU', 'aeiou') AS brand_tr,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  reverse(p_name) AS name_rev
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_scalar_regex" ->
      """SELECT doc_id,
        |  regexp_extract(text, '^([a-z]+)', 1) AS first_word,
        |  regexp_matches(text, '[0-9]') AS has_digit,
        |  split_part(text, ' ', 2) AS second_word,
        |  CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
        |    AS vowel_runs
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_scalar_date" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS o_year,
        |  month(o_orderdate) AS o_month,
        |  dayofmonth(o_orderdate) AS o_day,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
        |    AS month_end,
        |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus30,
        |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
        |    AS TIMESTAMP) AS plus2m,
        |  CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS isodow
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_scalar_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS n_dims,
        |  embedding[1] AS first_val,
        |  list_max(embedding) AS max_val,
        |  list_min(embedding) AS min_val,
        |  list_sort(embedding)[1] AS low1,
        |  list_sort(embedding)[2] AS low2,
        |  list_sort(embedding)[3] AS low3
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_scalar_map" ->
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS ks,
        |  array_to_string(list_sort([CAST(
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR)]),
        |    ',') AS vs,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    "q_scalar_misc" ->
      """SELECT vec_id,
        |  embedding[1] AS f1, embedding[2] AS f2,
        |  embedding[3] AS f3, embedding[4] AS f4,
        |  nullif(label, 0) AS label_nz,
        |  CASE WHEN nullif(label, 0) IS NOT NULL THEN 'labeled'
        |       ELSE 'zero' END AS label_kind,
        |  array_to_string(list_transform(embedding[1:3],
        |    v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)), ',')
        |    AS q3
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_event_window" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY hour_start, event_type
        |ORDER BY hour_start, event_type""".stripMargin,

    "q_gapfill" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events WHERE user_id <= 3),
        |hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour_start,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS hour_value
        |  FROM e GROUP BY 1, 2),
        |spans AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS lo,
        |    date_trunc('hour', max(ts)) AS hi
        |  FROM e GROUP BY 1),
        |slots AS (
        |  SELECT user_id,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
        |  FROM spans),
        |filled AS (
        |  SELECT s.user_id, s.hour_start, COALESCE(h.n, 0) AS n,
        |    h.hour_value
        |  FROM slots s LEFT JOIN hourly h
        |    ON s.user_id = h.user_id AND s.hour_start = h.hour_start)
        |SELECT user_id, hour_start, n,
        |  last_value(hour_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY hour_start
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
        |FROM filled ORDER BY user_id, hour_start""".stripMargin,

    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events
        |), y AS (
        |  SELECT user_id, event_id, ts,
        |    sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |             THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM x
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM y GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    // session_window's half-open [ts, ts+gap) windows: a gap of exactly
    // 30min does NOT merge (>=), and session_end = last ts + gap
    "q_session_window" ->
      """WITH x AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events
        |), y AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
        |             THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM x
        |)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM y GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_asof" ->
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
        |        event_id AS click_id, value AS click_value
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts,
        |  c.click_id, c.cts AS click_ts, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.cts <= p.ts
        |ORDER BY p.user_id, p.event_id""".stripMargin,

    // forward as-of via explicit arg-min window (no native ASOF here: its
    // equal-timestamp tie-break is not a documented contract; the window
    // pins ties to the smallest click_id exactly like the Spark side)
    "q_asof_forward" ->
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
        |        event_id AS click_id, value AS click_value
        |      FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.user_id, p.event_id, p.ts,
        |    c.click_id, c.cts, c.click_value,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY c.cts NULLS LAST, c.click_id NULLS LAST) AS rn
        |  FROM p LEFT JOIN c
        |    ON p.user_id = c.user_id AND c.cts >= p.ts)
        |SELECT user_id, event_id, ts, click_id, cts AS click_ts, click_value
        |FROM j WHERE rn = 1
        |ORDER BY user_id, event_id""".stripMargin,

    // nearest via global argmin over all candidate clicks: abs time delta,
    // then backward-preferred, then the per-direction id tie (largest for
    // backward, smallest for forward) — exactly the Spark combine rule
    "q_asof_nearest" ->
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
        |        event_id AS click_id, value AS click_value
        |      FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.user_id, p.event_id, p.ts,
        |    c.click_id, c.cts, c.click_value,
        |    row_number() OVER (PARTITION BY p.user_id, p.event_id
        |      ORDER BY abs(epoch_us(c.cts) - epoch_us(p.ts)) NULLS LAST,
        |        CASE WHEN c.cts <= p.ts THEN 0 ELSE 1 END,
        |        CASE WHEN c.cts <= p.ts THEN -c.click_id
        |             ELSE c.click_id END NULLS LAST) AS rn
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id)
        |SELECT user_id, event_id, ts, click_id, cts AS click_ts, click_value
        |FROM j WHERE rn = 1
        |ORDER BY user_id, event_id""".stripMargin,

    "q_dedup_chunks" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(CAST(ceil(length(text)/64.0) AS INT), 1)),
        |    i -> substr(text, CAST(i*64 + 1 AS INT), 64))) AS chunk
        |  FROM documents)
        |SELECT chunk, count(*) AS n_copies,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keep_doc
        |FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY chunk""".stripMargin,

    "q_centroids" ->
      """SELECT label,
        |  CAST(u.pos - 1 AS INT) AS pos,
        |  CAST(sum(CAST(floor(CAST(u.q AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS qsum,
        |  count(*) AS n
        |FROM embeddings,
        |  LATERAL (SELECT unnest(embedding) AS q,
        |           generate_subscripts(embedding, 1) AS pos) u
        |GROUP BY label, u.pos
        |ORDER BY label, pos""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q_text_jaccard" ->
      s"""$shingleCte,
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
         |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         |pair AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
         |  inter * 1.0 / (s1.n + s2.n - inter) AS jaccard
         |FROM pair JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.3
         |ORDER BY d1, d2""".stripMargin,

    // the forced prefix path must reproduce the SAME direct-enumeration
    // oracle as q_text_jaccard
    "q_jaccard_prefix" ->
      s"""${shingleCte.replace("FROM documents",
        "FROM documents WHERE doc_id < 2500")},
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
         |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         |pair AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
         |  inter * 1.0 / (s1.n + s2.n - inter) AS jaccard
         |FROM pair JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.3
         |ORDER BY d1, d2""".stripMargin,

    // exact substring dedup: an 8-token window occurring in >= 2 distinct
    // docs is duplicated; the lowest doc_id keeps it, every covered
    // position elsewhere is marked; maximal marked runs are the spans
    // (0-based inclusive token indices)
    "q_span_dedup" ->
      s"""$spanCovCte,
         |isl AS (
         |  SELECT doc_id, p,
         |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
         |  FROM cov)
         |SELECT doc_id, min(p) AS span_start, max(p) AS span_end
         |FROM isl GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin,

    // excision keeps the uncovered tokens in order; untouched docs come
    // back whole (single-space normalized), fully-covered docs as ''
    "q_span_excise" ->
      s"""$spanCovCte,
         |tp AS (
         |  SELECT doc_id, unnest(ts) AS w,
         |         unnest(range(0, len(ts))) AS p
         |  FROM tok),
         |cl AS (
         |  SELECT t.doc_id,
         |    count(c.p) AS n_removed,
         |    coalesce(string_agg(t.w, ' ' ORDER BY t.p)
         |      FILTER (WHERE c.p IS NULL), '') AS clean_text
         |  FROM tp t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
         |  GROUP BY t.doc_id)
         |SELECT doc_id, n_removed, clean_text FROM cl
         |ORDER BY doc_id""".stripMargin,

    // seen-side (corpus, doc_id < 450) windows are authoritative; every
    // covered position in the arriving docs (doc_id >= 450) is excised.
    // The hashed-key twin shares this oracle verbatim: xxhash64 postings
    // are an internal shuffle compression, not an output contract change
    "q_span_decontam" -> spanDecontamSql,
    "q_span_decontam_hashed" -> spanDecontamSql,


    // char-shingle hash = DOUBLE-PRIME Horner fold over each 16-char
    // window: h1 = fold (a*131 + c) % 1e9+7, h2 = fold (a*137 + c) % 1e9+9,
    // combined h1*(1e9+9)+h2 (~2^60 space) — same values as the codegen'd
    // rolling hash (RollingShingleHashes); list_reduce's first-element
    // seed equals a zero-seeded Horner, exact BIGINT math throughout
    // (combined < (1e9+7)*(1e9+9) ~ 1.0e18 < 2^63)
    "q_chargram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, CASE WHEN length(text) < 16 THEN 1
         |             ELSE length(text) - 14 END),
         |    i -> list_reduce(list_transform(range(0, 16),
         |           j -> CAST(unicode(substr(text, CAST(i+j AS INT), 1))
         |                     AS BIGINT)),
         |         (a, c) -> (a * 131 + c) % 1000000007)
         |         * 1000000009
         |         + list_reduce(list_transform(range(0, 16),
         |           j -> CAST(unicode(substr(text, CAST(i+j AS INT), 1))
         |                     AS BIGINT)),
         |         (a, c) -> (a * 137 + c) % 1000000009))) AS sh
         |  FROM documents
         |),
         |sets AS (SELECT doc_id, sh, len(sh) AS n FROM sh WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, n, unnest(sh) AS h FROM sets),
         |pair AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    a.n AS n1, b.n AS n2, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT d1, d2, inter, CAST(n1 AS BIGINT) AS n1,
         |  CAST(n2 AS BIGINT) AS n2,
         |  inter * 1.0 / (n1 + n2 - inter) AS jaccard
         |FROM pair
         |WHERE inter * 1.0 / (n1 + n2 - inter) >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    // same transitive-closure machinery as q_dedup_cc, extended through
    // the normalize/quality/sample stages — every stage exact SQL
    "q_corpus_pipeline" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
         |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         |pair AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT d1, d2 FROM pair
         |  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.3),
         |e AS (SELECT d1 AS a, d2 AS b FROM jp
         |      UNION ALL SELECT d2 AS a, d1 AS b FROM jp),
         |reach(node, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node),
         |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
         |removed AS (SELECT node FROM comp WHERE node <> component),
         |kept AS (SELECT * FROM documents
         |         WHERE doc_id NOT IN (SELECT node FROM removed)),
         |norm AS (SELECT doc_id, lang,
         |    trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
         |  FROM kept),
         |gated AS (SELECT doc_id, lang,
         |    CAST(len(string_split(nt, ' ')) AS BIGINT) AS n_tok
         |  FROM norm
         |  WHERE len(string_split(nt, ' ')) BETWEEN 20 AND 200)
         |SELECT doc_id, lang, n_tok FROM gated
         |WHERE ${hashSql("CAST(doc_id AS VARCHAR)")} % 10
         |      < CASE WHEN lang = 'en' THEN 5 ELSE 8 END
         |ORDER BY doc_id""".stripMargin,

    // recursive CTE computes the same transitive closure (set-semantics
    // UNION converges); component = min reachable doc_id on both sides
    // detectors vote pairs (one overlap scan scores both metrics; exact
    // tier via text equality), union -> reachability labels -> survivors
    // (docs that are their component's minimum, or unpaired)
    "q_dedup_ensemble" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
         |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         |pair AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |gp AS (
         |  SELECT d1, d2 FROM pair
         |  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.3
         |     OR inter * 1.0 / least(s1.n, s2.n) >= 0.5),
         |tp AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |       FROM documents a JOIN documents b
         |         ON a.text = b.text AND a.doc_id < b.doc_id),
         |ap AS (SELECT d1, d2 FROM gp UNION SELECT d1, d2 FROM tp),
         |e AS (SELECT d1 AS a, d2 AS b FROM ap
         |      UNION ALL SELECT d2 AS a, d1 AS b FROM ap),
         |reach(node, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node),
         |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM lab WHERE component < node)
         |ORDER BY doc_id""".stripMargin,

    // STFT-style byte windows (win 256, hop 128, trailing partial kept);
    // ASCII corpus text -> unicode(char) == byte value; list_reduce's
    // first-element seed equals the zero-seeded Horner fold
    "q_audio" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(length(text) / 128.0) AS BIGINT)))
        |      AS k
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id, CAST(k AS INT) AS win_no,
        |    k * 128 AS start_byte,
        |    substr(text, CAST(k * 128 + 1 AS INT), 256) AS seg
        |  FROM w),
        |b AS (
        |  SELECT doc_id, win_no, start_byte,
        |    list_transform(range(1, length(seg) + 1),
        |      i -> CAST(unicode(substr(seg, CAST(i AS INT), 1)) AS BIGINT))
        |      AS bs
        |  FROM seg)
        |SELECT doc_id AS media_id, win_no, start_byte,
        |  CAST(len(bs) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(bs) AS BIGINT) AS amp_sum,
        |  CAST(list_max(bs) AS INT) AS peak,
        |  CAST(list_reduce(bs, (a, c) -> (31 * a + c) % 1000000007)
        |    AS BIGINT) AS checksum
        |FROM b ORDER BY media_id, win_no""".stripMargin,

    // recomputes every DECODED sample from the closed-form waveform
    // s(id, i) = ((id + i*2654435761) % 65536) - 32768 — byte-level WAV
    // parsing happens only on the Spark side; agreement proves the
    // decode (n_samples per blob = 160 + id % 200, win 64 / hop 32)
    "q_audio_wav" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(160 + doc_id % 200 AS BIGINT) AS ns
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, ns, unnest(range(0, (ns + 31) // 32)) AS k
        |  FROM d),
        |win AS (
        |  SELECT doc_id, CAST(k AS INT) AS win_no, k * 32 AS s0,
        |    least(k * 32 + 64, ns) AS s1
        |  FROM w),
        |sm AS (
        |  SELECT doc_id, win_no, s0, s1,
        |    list_transform(range(s0, s1),
        |      i -> CAST((doc_id + i * 2654435761) % 65536 - 32768 AS BIGINT))
        |      AS ss
        |  FROM win)
        |SELECT doc_id AS media_id, win_no,
        |  CAST(s0 AS BIGINT) AS start_sample,
        |  CAST(s1 - s0 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(ss, s -> s * s)) AS BIGINT)
        |    AS energy,
        |  CAST(len(list_filter(range(2, len(ss) + 1),
        |    j -> ss[CAST(j - 1 AS INT)] * ss[CAST(j AS INT)] < 0))
        |    AS BIGINT) AS zero_crossings,
        |  CAST(list_max(list_transform(ss, s -> abs(s))) AS INT)
        |    AS peak_abs
        |FROM sm ORDER BY media_id, win_no""".stripMargin,

    // replays the IMA ADPCM decoder state machine nibble for nibble:
    // sample 0 = header predictor p0 = ((id*2654435761) % 65536) -
    // 32768, index i0 = id % 89; nibble j = ((id + j*2654435761) % 16)
    // steps (pred, idx) through the public step/index tables with
    // int16/[0,88] clamps — byte-level WAV/nibble parsing happens only
    // on the Spark side, agreement proves the decode
    "q_audio_adpcm" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST(120 + (doc_id % 60) * 2 AS BIGINT) AS nn,
        |    CAST((doc_id * 2654435761) % 65536 - 32768 AS BIGINT) AS p0,
        |    CAST(doc_id % 89 AS BIGINT) AS i0
        |  FROM documents),
        |st(doc_id, j, pred, idx) AS (
        |  SELECT doc_id, CAST(0 AS BIGINT), p0, i0 FROM d
        |  UNION ALL
        |  SELECT doc_id, j + 1,
        |    greatest(-32768, least(32767,
        |      pred + CASE WHEN nib >= 8 THEN -dif ELSE dif END)),
        |    greatest(0, least(88,
        |      idx + CASE WHEN nib % 8 < 4 THEN -1
        |                 ELSE (nib % 8 - 3) * 2 END))
        |  FROM (
        |    SELECT doc_id, j, pred, idx, nib,
        |      stp // 8
        |        + CASE WHEN nib % 2 = 1 THEN stp // 4 ELSE 0 END
        |        + CASE WHEN (nib // 2) % 2 = 1 THEN stp // 2 ELSE 0 END
        |        + CASE WHEN (nib // 4) % 2 = 1 THEN stp ELSE 0 END AS dif
        |    FROM (
        |      SELECT st.doc_id, st.j, st.pred, st.idx,
        |        (st.doc_id + st.j * 2654435761) % 16 AS nib,
        |        [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,
        |         41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,
        |         173,190,209,230,253,279,307,337,371,408,449,494,544,
        |         598,658,724,796,876,963,1060,1166,1282,1411,1552,
        |         1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,
        |         4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,
        |         11487,12635,13899,15289,16818,18500,20350,22385,
        |         24623,27086,29794,32767][CAST(st.idx AS INT) + 1]
        |          AS stp
        |      FROM st JOIN d USING (doc_id)
        |      WHERE st.j < d.nn) a) b),
        |sq AS (
        |  SELECT doc_id, j, pred,
        |    lag(pred) OVER (PARTITION BY doc_id ORDER BY j) AS prev
        |  FROM st)
        |SELECT doc_id AS media_id,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(pred) AS BIGINT) AS sum_s,
        |  CAST(sum(pred * pred) AS BIGINT) AS energy,
        |  CAST(max(abs(pred)) AS INT) AS peak_abs,
        |  CAST(sum(CASE WHEN prev * pred < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS zero_crossings
        |FROM sq GROUP BY doc_id ORDER BY media_id""".stripMargin,

    // the FLAC oracle never touches bytes: FLAC is lossless, so the
    // decoded samples must equal the closed-form waveform the fixture
    // encoded — features recomputed straight from the closed form
    "q_audio_flac" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(128 + doc_id % 161 AS BIGINT) AS n,
        |    CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS nch
        |  FROM documents),
        |chs AS (
        |  SELECT doc_id, n, nch, unnest(range(0, nch)) AS ch FROM d),
        |sm AS (
        |  SELECT doc_id, nch, ch,
        |    list_transform(range(0, n), i ->
        |      CASE WHEN i < 64
        |        THEN CAST(((doc_id % 65536 + ch*7919) * 31) % 65536
        |               - 32768 AS BIGINT)
        |        WHEN doc_id % 2 = 0
        |        THEN CAST((doc_id % 65536 + ch*7919 + i * 2654435761)
        |               % 65536 - 32768 AS BIGINT)
        |        ELSE CAST((doc_id % 65536 + ch*7919 + i * 37) % 8192
        |               - 4096 AS BIGINT)
        |      END) AS ss
        |  FROM chs),
        |per_ch AS (
        |  SELECT doc_id, nch, ch, len(ss) AS ns,
        |    list_sum(ss) AS sum_1,
        |    list_sum(list_transform(ss, s -> s*s)) AS energy_1,
        |    list_max(list_transform(ss, s -> abs(s))) AS peak_1,
        |    len(list_filter(range(2, len(ss) + 1),
        |      j -> ss[CAST(j - 1 AS INT)] * ss[CAST(j AS INT)] < 0))
        |      AS zc_1
        |  FROM sm)
        |SELECT doc_id AS media_id, CAST(max(nch) AS INT) AS n_channels,
        |  CAST(sum(ns) AS BIGINT) AS n_samples,
        |  CAST(sum(sum_1) AS BIGINT) AS sum_s,
        |  CAST(sum(energy_1) AS BIGINT) AS energy,
        |  CAST(max(peak_1) AS INT) AS peak_abs,
        |  CAST(sum(zc_1) AS BIGINT) AS zero_crossings
        |FROM per_ch GROUP BY doc_id ORDER BY media_id""".stripMargin,

    // flat 8x8 block b of JPEG id decodes to exactly
    // ((id + b*131) * 2654435761) % 256 (DC-only blocks are lossless);
    // features are exact sums/extrema over the (1+id%3) x (1+id%2)
    // block grid
    "q_image_jpeg" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS INT) AS bw,
        |    CAST(1 + doc_id % 2 AS INT) AS bh
        |  FROM documents)
        |SELECT doc_id AS media_id, bw * 8 AS width, bh * 8 AS height,
        |  CAST(list_sum(list_transform(range(0, bw*bh),
        |    b -> 64 * (((doc_id + b*131) * 2654435761) % 256)))
        |    AS BIGINT) AS sum_y,
        |  CAST(list_min(list_transform(range(0, bw*bh),
        |    b -> ((doc_id + b*131) * 2654435761) % 256)) AS INT) AS min_y,
        |  CAST(list_max(list_transform(range(0, bw*bh),
        |    b -> ((doc_id + b*131) * 2654435761) % 256)) AS INT) AS max_y
        |FROM d ORDER BY media_id""".stripMargin,

    // palette index of pixel p = ((id + p*7) * 2654435761) % 256; the
    // grayscale palette maps index i to gray i, so the features are
    // arithmetic over the closed-form index stream
    "q_image_gif" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 17 AS INT) AS w,
        |    CAST(6 + doc_id % 11 AS INT) AS h
        |  FROM documents)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    p -> ((doc_id + p*7) * 2654435761) % 256)) AS BIGINT)
        |    AS sum_gray,
        |  CAST(list_min(list_transform(range(0, w*h),
        |    p -> ((doc_id + p*7) * 2654435761) % 256)) AS INT) AS min_gray,
        |  CAST(list_max(list_transform(range(0, w*h),
        |    p -> ((doc_id + p*7) * 2654435761) % 256)) AS INT) AS max_gray
        |FROM d ORDER BY media_id""".stripMargin,

    // pixel p of image id = ((id + p*11) * 2654435761) % 256; the PNG
    // filter/deflate round-trip is lossless, so decoded samples equal
    // the closed form and the features are pure arithmetic
    "q_image_png" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 13 AS INT) AS w,
        |    CAST(5 + doc_id % 7 AS INT) AS h
        |  FROM documents)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    p -> ((doc_id + p*11) * 2654435761) % 256)) AS BIGINT)
        |    AS sum_gray,
        |  CAST(list_min(list_transform(range(0, w*h),
        |    p -> ((doc_id + p*11) * 2654435761) % 256)) AS INT) AS min_gray,
        |  CAST(list_max(list_transform(range(0, w*h),
        |    p -> ((doc_id + p*11) * 2654435761) % 256)) AS INT) AS max_gray
        |FROM d ORDER BY media_id""".stripMargin,

    // audio fingerprint oracle: sample i = ((id + i*2654435761) %
    // 65536) - 32768, n = 160 + id%200; window energies as a 57-list,
    // bit b = [e(b) > e(b+1)]
    "q_audio_fp" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(160 + doc_id % 200 AS INT) AS n
        |  FROM documents),
        |en AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 57), k ->
        |      coalesce(list_sum(list_transform(
        |        range(k * n // 57, (k + 1) * n // 57),
        |        i -> abs(((doc_id + i * 2654435761) % 65536) - 32768))),
        |        0)) AS es
        |  FROM d)
        |SELECT doc_id AS media_id,
        |  CAST(list_sum(list_transform(range(0, 56), b ->
        |    CASE WHEN es[b + 1] > es[b + 2]
        |    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
        |    AS BIGINT) AS fp
        |FROM en ORDER BY media_id""".stripMargin,

    // video dHash oracle: luma byte p of frame f =
    // ((id + f*131 + p) * 2654435761) % 256; same 9x7 grid arithmetic
    "q_video_dhash" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(8 + (doc_id % 5) * 2 AS INT) AS w,
        |    CAST(6 + (doc_id % 4) * 2 AS INT) AS h,
        |    CAST(3 + doc_id % 4 AS INT) AS nf
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM d)
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_no,
        |  CAST(list_sum(list_transform(range(0, 56), i ->
        |    CASE WHEN
        |      (((doc_id + f * 131
        |         + (((i // 8) * h // 7) * w + ((i % 8) * w // 9)))
        |        * 2654435761) % 256)
        |      >
        |      (((doc_id + f * 131
        |         + (((i // 8) * h // 7) * w + (((i % 8) + 1) * w // 9)))
        |        * 2654435761) % 256)
        |    THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
        |    AS BIGINT) AS dhash
        |FROM fr WHERE f % 2 = 0
        |ORDER BY media_id, frame_no""".stripMargin,

    // dHash oracle: effective id e (twins use id-5's pixels +17), grid
    // sample (r, c) from source index ((r*h)//7)*w + (c*w)//9, bit i
    // set when the gradient at (i//8, i%8) is positive
    "q_image_dhash" ->
      s"""$dhashCte
         |SELECT media_id, dhash FROM hs ORDER BY media_id""".stripMargin,

    // near-dup oracle is BRUTE-FORCE all-pairs — the Spark side runs
    // the banded-LSH plan; equality proves the pigeonhole recall at
    // Hamming distance <= 3
    "q_image_neardup" ->
      s"""$dhashCte
         |SELECT a.media_id AS id1, b.media_id AS id2,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS dist
         |FROM hs a, hs b
         |WHERE a.media_id < b.media_id
         |  AND bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY id1, id2""".stripMargin,

    // pixel (p, c) of image id = ((id + p*3 + c) * 2654435761) % 256;
    // luma = (299r + 587g + 114b) // 1000; nearest-neighbor source pixel
    // for resized (x2, y2) at 6x4 = ((y2*h)//4)*w + (x2*w)//6
    "q_image_ppm" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 9 AS INT) AS w,
        |    CAST(6 + doc_id % 7 AS INT) AS h
        |  FROM documents)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    p -> ((doc_id + p*3) * 2654435761) % 256)) AS BIGINT) AS sum_r,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    p -> ((doc_id + p*3 + 1) * 2654435761) % 256)) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    p -> ((doc_id + p*3 + 2) * 2654435761) % 256)) AS BIGINT) AS sum_b,
        |  CAST(len(list_filter(range(0, w*h),
        |    p -> p % w < w - 1 AND abs(
        |      (299*(((doc_id + p*3) * 2654435761) % 256)
        |       + 587*(((doc_id + p*3 + 1) * 2654435761) % 256)
        |       + 114*(((doc_id + p*3 + 2) * 2654435761) % 256)) // 1000
        |      - (299*(((doc_id + (p+1)*3) * 2654435761) % 256)
        |       + 587*(((doc_id + (p+1)*3 + 1) * 2654435761) % 256)
        |       + 114*(((doc_id + (p+1)*3 + 2) * 2654435761) % 256)) // 1000
        |    ) > 64)) AS BIGINT) AS hedges,
        |  CAST(list_sum(list_transform(range(0, 24),
        |    p2 -> ((doc_id + (((p2 // 6) * h // 4) * w
        |                      + ((p2 % 6) * w // 6)) * 3)
        |           * 2654435761) % 256)) AS BIGINT) AS rz_sum_r,
        |  CAST(list_sum(list_transform(range(0, 24),
        |    p2 -> ((doc_id + (((p2 // 6) * h // 4) * w
        |                      + ((p2 % 6) * w // 6)) * 3 + 1)
        |           * 2654435761) % 256)) AS BIGINT) AS rz_sum_g,
        |  CAST(list_sum(list_transform(range(0, 24),
        |    p2 -> ((doc_id + (((p2 // 6) * h // 4) * w
        |                      + ((p2 % 6) * w // 6)) * 3 + 2)
        |           * 2654435761) % 256)) AS BIGINT) AS rz_sum_b
        |FROM d ORDER BY media_id""".stripMargin,

    // byte j of frame f = ((id + f*131 + j) * 2654435761) % 256; planes:
    // Y = [0, wh), U = [wh, wh + wh/4), V = [wh + wh/4, 3wh/2)
    "q_video_y4m" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(8 + (doc_id % 5) * 2 AS INT) AS w,
        |    CAST(6 + (doc_id % 4) * 2 AS INT) AS h,
        |    CAST(3 + doc_id % 4 AS INT) AS nf
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h,
        |    unnest(list_filter(range(0, nf), f -> f % 2 = 0)) AS f
        |  FROM d)
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_no,
        |  CAST(list_sum(list_transform(range(0, w*h),
        |    j -> ((doc_id + f*131 + j) * 2654435761) % 256))
        |    AS BIGINT) AS sum_y,
        |  CAST(list_sum(list_transform(range(w*h, w*h + (w*h)//4),
        |    j -> ((doc_id + f*131 + j) * 2654435761) % 256))
        |    AS BIGINT) AS sum_u,
        |  CAST(list_sum(list_transform(range(w*h + (w*h)//4, (w*h*3)//2),
        |    j -> ((doc_id + f*131 + j) * 2654435761) % 256))
        |    AS BIGINT) AS sum_v
        |FROM fr ORDER BY media_id, frame_no""".stripMargin,

    // flat 8x8 block b of frame f decodes to exactly
    // ((id + f*131 + b*17) * 2654435761) % 256 (DC-only blocks are
    // lossless); clips have nf = 2 + id%3 frames, every 2nd kept, on a
    // (1+id%3) x (1+id%2) block grid — byte-level AVI/JPEG parsing
    // happens only on the Spark side, agreement proves the decode
    "q_video_mjpeg" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS INT) AS bw,
        |    CAST(1 + doc_id % 2 AS INT) AS bh,
        |    CAST(2 + doc_id % 3 AS INT) AS nf
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, bw, bh,
        |    unnest(list_filter(range(0, nf), f -> f % 2 = 0)) AS f
        |  FROM d)
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_no,
        |  bw * 8 AS width, bh * 8 AS height,
        |  CAST(list_sum(list_transform(range(0, bw*bh),
        |    b -> 64 * (((doc_id + f*131 + b*17) * 2654435761) % 256)))
        |    AS BIGINT) AS sum_y,
        |  CAST(list_min(list_transform(range(0, bw*bh),
        |    b -> ((doc_id + f*131 + b*17) * 2654435761) % 256)) AS INT)
        |    AS min_y,
        |  CAST(list_max(list_transform(range(0, bw*bh),
        |    b -> ((doc_id + f*131 + b*17) * 2654435761) % 256)) AS INT)
        |    AS max_y
        |FROM fr ORDER BY media_id, frame_no""".stripMargin,

    "q_dedup_cc" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
         |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         |pair AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT d1, d2 FROM pair
         |  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.3),
         |e AS (SELECT d1 AS a, d2 AS b FROM jp
         |      UNION ALL SELECT d2 AS a, d1 AS b FROM jp),
         |reach(node, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node)
         |SELECT node, min(r) AS component FROM reach GROUP BY node
         |ORDER BY node""".stripMargin,

    // same clusters as q_dedup_cc; the keep policy is max n_chars per
    // component (ties -> lowest doc_id), singletons keep themselves
    "q_dedup_keepbest" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
         |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         |pair AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT d1, d2 FROM pair
         |  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.3),
         |e AS (SELECT d1 AS a, d2 AS b FROM jp
         |      UNION ALL SELECT d2 AS a, d1 AS b FROM jp),
         |reach(node, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node),
         |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
         |fl AS (
         |  SELECT d.doc_id, d.lang, d.n_chars,
         |         coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         |rk AS (
         |  SELECT doc_id, lang, n_chars,
         |    row_number() OVER (PARTITION BY component
         |                       ORDER BY n_chars DESC, doc_id) AS r
         |  FROM fl)
         |SELECT doc_id, lang, n_chars FROM rk WHERE r = 1
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""$shingleCte,
         |shnz AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
         |sig AS (
         |  SELECT doc_id, sh, list_transform(range(0, 32),
         |    i -> list_min(list_transform(sh,
         |      h -> ((2*i+1) * (h % 2147483647)
         |            + (1000003*(i+1)) % 2147483647) % 2147483647))) AS sg
         |  FROM shnz),
         |bands AS (
         |  SELECT doc_id, sh,
         |    b, ${hashSql("b::VARCHAR || ',' || sg[2*b+1]::VARCHAR || ',' || sg[2*b+2]::VARCHAR")} AS bk
         |  FROM (SELECT doc_id, sh, sg, unnest(range(0, 16)) AS b FROM sig)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |ver AS (
         |  SELECT d1, d2,
         |    len(list_intersect(s1.sh, s2.sh)) AS inter,
         |    len(s1.sh) AS n1, len(s2.sh) AS n2
         |  FROM cand JOIN shnz s1 ON d1 = s1.doc_id
         |            JOIN shnz s2 ON d2 = s2.doc_id)
         |SELECT d1, d2, inter * 1.0 / (n1 + n2 - inter) AS jaccard
         |FROM ver WHERE inter * 1.0 / (n1 + n2 - inter) >= 0.3
         |ORDER BY d1, d2""".stripMargin,

    // the indexed path is the same deterministic family — the oracle is
    // the inline minhash SQL restricted to (corpus, new) cross pairs
    "q_dedup_minhash_idx" ->
      s"""$shingleCte,
         |shnz AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
         |sig AS (
         |  SELECT doc_id, sh, list_transform(range(0, 32),
         |    i -> list_min(list_transform(sh,
         |      h -> ((2*i+1) * (h % 2147483647)
         |            + (1000003*(i+1)) % 2147483647) % 2147483647))) AS sg
         |  FROM shnz),
         |bands AS (
         |  SELECT doc_id,
         |    b, ${hashSql("b::VARCHAR || ',' || sg[2*b+1]::VARCHAR || ',' || sg[2*b+2]::VARCHAR")} AS bk
         |  FROM (SELECT doc_id, sg, unnest(range(0, 16)) AS b FROM sig)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk
         |  WHERE a.doc_id < 450 AND b.doc_id >= 450),
         |ver AS (
         |  SELECT d1, d2,
         |    len(list_intersect(s1.sh, s2.sh)) AS inter,
         |    len(s1.sh) AS n1, len(s2.sh) AS n2
         |  FROM cand JOIN shnz s1 ON d1 = s1.doc_id
         |            JOIN shnz s2 ON d2 = s2.doc_id)
         |SELECT d1, d2, inter * 1.0 / (n1 + n2 - inter) AS jaccard
         |FROM ver WHERE inter * 1.0 / (n1 + n2 - inter) >= 0.3
         |ORDER BY d1, d2""".stripMargin,

    // estimator calibration: the q_dedup_minhash CTEs, keeping the
    // matching-component count next to the exact overlap
    "q_minhash_calib" ->
      s"""$shingleCte,
         |shnz AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
         |sig AS (
         |  SELECT doc_id, sh, list_transform(range(0, 32),
         |    i -> list_min(list_transform(sh,
         |      h -> ((2*i+1) * (h % 2147483647)
         |            + (1000003*(i+1)) % 2147483647) % 2147483647))) AS sg
         |  FROM shnz),
         |bands AS (
         |  SELECT doc_id,
         |    b, ${hashSql("b::VARCHAR || ',' || sg[2*b+1]::VARCHAR || ',' || sg[2*b+2]::VARCHAR")} AS bk
         |  FROM (SELECT doc_id, sg, unnest(range(0, 16)) AS b FROM sig)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id)
         |SELECT d1, d2,
         |  CAST(len(list_filter(range(1, 33),
         |    i -> s1.sg[CAST(i AS INT)] = s2.sg[CAST(i AS INT)]))
         |    AS BIGINT) AS n_match,
         |  CAST(len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS inter,
         |  CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))
         |    AS BIGINT) AS un,
         |  CAST(len(list_filter(range(1, 33),
         |    i -> s1.sg[CAST(i AS INT)] = s2.sg[CAST(i AS INT)]))
         |    AS DOUBLE) / 32 AS est,
         |  CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
         |    / CAST(len(s1.sh) + len(s2.sh)
         |           - len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
         |    AS jaccard,
         |  abs(CAST(len(list_filter(range(1, 33),
         |    i -> s1.sg[CAST(i AS INT)] = s2.sg[CAST(i AS INT)]))
         |    AS DOUBLE) / 32
         |    - CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
         |      / CAST(len(s1.sh) + len(s2.sh)
         |             - len(list_intersect(s1.sh, s2.sh)) AS DOUBLE))
         |    AS abs_err
         |FROM cand JOIN sig s1 ON d1 = s1.doc_id
         |          JOIN sig s2 ON d2 = s2.doc_id
         |ORDER BY d1, d2""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH th AS (
         |  SELECT doc_id, ${hashSql("w")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents)),
         |bits AS (
         |  SELECT doc_id, bl.b AS b,
         |    sum(CASE WHEN ((h >> CAST(bl.b AS INT)) & 1) = 1
         |             THEN 1 ELSE -1 END) AS v
         |  FROM th, (SELECT unnest(range(0, 64)) AS b) bl
         |  GROUP BY doc_id, bl.b),
         |fp AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN
         |      CASE WHEN b = 63 THEN -9223372036854775807 - 1
         |           ELSE (1::BIGINT << CAST(b AS INT)) END
         |      ELSE 0 END) AS BIGINT) AS fp
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY d1, d2""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH q AS (
         |  SELECT a.label AS blk, a.vec_id AS v1, b.vec_id AS v2,
         |    ${qdotSql("a.embedding", "b.embedding")} AS d,
         |    ${qnormSql("a.embedding")} AS qn1,
         |    ${qnormSql("b.embedding")} AS qn2
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT blk, v1, v2 FROM q
         |WHERE d > 0
         |  AND CAST(d AS HUGEINT) * d * 100 >= 16 * CAST(qn1 AS HUGEINT) * qn2
         |ORDER BY v1, v2""".stripMargin,

    // SemDeDup: the kmeans CTE chain (same fragments as q_kmeans) for
    // the final assignment, within-cluster pairs gated on the exact
    // quantized cosine (same gate as q_dedup_embedding), recursive
    // reachability for components, min-id canonical with singleton
    // fallback
    "q_semantic_dedup" ->
      s"""WITH RECURSIVE q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS cv
         |  FROM embeddings),
         |c0 AS (
         |  SELECT vec_id AS cent_id, cv AS cent_v FROM q
         |  ORDER BY vec_id LIMIT 8),
         |${kmeansIterSql("c0", "a1", "m1", "c1")},
         |${kmeansIterSql("c1", "a2", "m2", "c2")},
         |af AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT q.vec_id, q.cv, c2.cent_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${ldotSql("c2.cent_v", "c2.cent_v")}
         |        - 2 * ${ldotSql("q.cv", "c2.cent_v")} ASC,
         |        c2.cent_id ASC) AS rk
         |    FROM q CROSS JOIN c2)
         |  WHERE rk = 1),
         |pr AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    ${ldotSql("a.cv", "b.cv")} AS d,
         |    ${ldotSql("a.cv", "a.cv")} AS qn1,
         |    ${ldotSql("b.cv", "b.cv")} AS qn2
         |  FROM af a JOIN af b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
         |jp AS (
         |  SELECT v1, v2 FROM pr
         |  WHERE d > 0
         |    AND CAST(d AS HUGEINT) * d * 100 >= 16 * CAST(qn1 AS HUGEINT) * qn2),
         |e AS (SELECT v1 AS a, v2 AS b FROM jp
         |      UNION ALL SELECT v2 AS a, v1 AS b FROM jp),
         |reach(node, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node),
         |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
         |SELECT af.vec_id, af.cent_id,
         |  coalesce(comp.component, af.vec_id) AS canonical
         |FROM af LEFT JOIN comp ON af.vec_id = comp.node
         |ORDER BY af.vec_id""".stripMargin,

    // frozen-quantizer SemDeDup: k-means trained on the stored half
    // (vec_id < 100) ONLY, assignment over the whole table — the batch
    // reference the streaming incremental operator must equal;
    // pair/cc tail identical to q_semantic_dedup
    "q_semantic_dedup_frozen" ->
      s"""WITH RECURSIVE q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS cv
         |  FROM embeddings),
         |tr AS MATERIALIZED (SELECT vec_id, cv FROM q WHERE vec_id < 100),
         |c0 AS (
         |  SELECT vec_id AS cent_id, cv AS cent_v FROM tr
         |  ORDER BY vec_id LIMIT 8),
         |${kmeansIterSql("c0", "fa1", "fm1", "fc1", corpus = "tr")},
         |${kmeansIterSql("fc1", "fa2", "fm2", "fc2", corpus = "tr")},
         |af AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT q.vec_id, q.cv, fc2.cent_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${ldotSql("fc2.cent_v", "fc2.cent_v")}
         |        - 2 * ${ldotSql("q.cv", "fc2.cent_v")} ASC,
         |        fc2.cent_id ASC) AS rk
         |    FROM q CROSS JOIN fc2)
         |  WHERE rk = 1),
         |pr AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    ${ldotSql("a.cv", "b.cv")} AS d,
         |    ${ldotSql("a.cv", "a.cv")} AS qn1,
         |    ${ldotSql("b.cv", "b.cv")} AS qn2
         |  FROM af a JOIN af b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
         |jp AS (
         |  SELECT v1, v2 FROM pr
         |  WHERE d > 0
         |    AND CAST(d AS HUGEINT) * d * 100 >= 16 * CAST(qn1 AS HUGEINT) * qn2),
         |e AS (SELECT v1 AS a, v2 AS b FROM jp
         |      UNION ALL SELECT v2 AS a, v1 AS b FROM jp),
         |reach(node, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node),
         |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
         |SELECT af.vec_id, af.cent_id,
         |  coalesce(comp.component, af.vec_id) AS canonical
         |FROM af LEFT JOIN comp ON af.vec_id = comp.node
         |ORDER BY af.vec_id""".stripMargin,

    // cross-frame pairs: shard (vec_id >= 100) x stored (vec_id < 100)
    // sharing a label block, exact quantized cosine >= 3/10 (same gate
    // algebra as q_dedup_embedding at the lower tau)
    "q_emb_pairs_across" ->
      s"""WITH q0 AS (
         |  SELECT vec_id, label, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS cv
         |  FROM embeddings),
         |pr AS (
         |  SELECT a.label AS blk, a.vec_id AS v1, b.vec_id AS v2,
         |    ${ldotSql("a.cv", "b.cv")} AS d,
         |    ${ldotSql("a.cv", "a.cv")} AS qn1,
         |    ${ldotSql("b.cv", "b.cv")} AS qn2
         |  FROM q0 a JOIN q0 b
         |    ON a.label = b.label AND a.vec_id >= 100 AND b.vec_id < 100)
         |SELECT blk, v1, v2 FROM pr
         |WHERE d > 0
         |  AND CAST(d AS HUGEINT) * d * 100 >= 9 * CAST(qn1 AS HUGEINT) * qn2
         |ORDER BY v1, v2""".stripMargin,

    // two-level: fine k-means as above (full-corpus sample), then the
    // coarse Lloyd RE-RUNS the same iteration CTEs with the fine
    // centroid table as the corpus (kCoarse=2 seeds = 2 lowest fine
    // ids — label-equivalent to the driver's index-keyed Lloyd, ties
    // identical), a coarse argmin per vector (nprobe=1 == top-1 of the
    // bounded heap), and the fine argmin restricted to the probed
    // group; pair/cc tail unchanged
    "q_semantic_dedup2" ->
      s"""WITH RECURSIVE q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS cv
         |  FROM embeddings),
         |c0 AS (
         |  SELECT vec_id AS cent_id, cv AS cent_v FROM q
         |  ORDER BY vec_id LIMIT 8),
         |${kmeansIterSql("c0", "a1", "m1", "c1")},
         |${kmeansIterSql("c1", "a2", "m2", "c2")},
         |g AS MATERIALIZED (SELECT cent_id AS vec_id, cent_v AS cv FROM c2),
         |k0 AS MATERIALIZED (
         |  SELECT vec_id AS cent_id, cv AS cent_v FROM g
         |  ORDER BY vec_id LIMIT 2),
         |${kmeansIterSql("k0", "ka1", "km1", "k1", corpus = "g")},
         |${kmeansIterSql("k1", "ka2", "km2", "k2", corpus = "g")},
         |fc AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT g.vec_id AS fine_id, g.cv AS fine_v,
         |      k2.cent_id AS coarse_id,
         |      row_number() OVER (PARTITION BY g.vec_id ORDER BY
         |        ${ldotSql("k2.cent_v", "k2.cent_v")}
         |        - 2 * ${ldotSql("g.cv", "k2.cent_v")} ASC,
         |        k2.cent_id ASC) AS rk
         |    FROM g CROSS JOIN k2)
         |  WHERE rk = 1),
         |cp AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT q.vec_id, q.cv, k2.cent_id AS coarse_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${ldotSql("k2.cent_v", "k2.cent_v")}
         |        - 2 * ${ldotSql("q.cv", "k2.cent_v")} ASC,
         |        k2.cent_id ASC) AS rk
         |    FROM q CROSS JOIN k2
         |    WHERE k2.cent_id IN (SELECT coarse_id FROM fc))
         |  WHERE rk = 1),
         |af AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT cp.vec_id, cp.cv, fc.fine_id AS cent_id,
         |      row_number() OVER (PARTITION BY cp.vec_id ORDER BY
         |        ${ldotSql("fc.fine_v", "fc.fine_v")}
         |        - 2 * ${ldotSql("cp.cv", "fc.fine_v")} ASC,
         |        fc.fine_id ASC) AS rk
         |    FROM cp JOIN fc ON cp.coarse_id = fc.coarse_id)
         |  WHERE rk = 1),
         |pr AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    ${ldotSql("a.cv", "b.cv")} AS d,
         |    ${ldotSql("a.cv", "a.cv")} AS qn1,
         |    ${ldotSql("b.cv", "b.cv")} AS qn2
         |  FROM af a JOIN af b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
         |jp AS (
         |  SELECT v1, v2 FROM pr
         |  WHERE d > 0
         |    AND CAST(d AS HUGEINT) * d * 100 >= 16 * CAST(qn1 AS HUGEINT) * qn2),
         |e AS (SELECT v1 AS a, v2 AS b FROM jp
         |      UNION ALL SELECT v2 AS a, v1 AS b FROM jp),
         |reach(node, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node),
         |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
         |SELECT af.vec_id, af.cent_id,
         |  coalesce(comp.component, af.vec_id) AS canonical
         |FROM af LEFT JOIN comp ON af.vec_id = comp.node
         |ORDER BY af.vec_id""".stripMargin,

    // per-source quota: first-k-by-salted-hash per source, with the
    // per-source hash-order rank
    "q_source_quota" ->
      s"""SELECT doc_id, source, lang, rn AS qrank FROM (
         |  SELECT doc_id, source, lang,
         |    row_number() OVER (PARTITION BY source ORDER BY
         |      ${hashSql("CAST(doc_id AS VARCHAR) || ':quota'")}, doc_id)
         |      AS rn
         |  FROM documents)
         |WHERE rn <= 10
         |ORDER BY doc_id""".stripMargin,

    // the same rule chain as Curation.canonicalUrl, step by step:
    // fragment strip, scheme/authority split, case/port/www folds,
    // tracking-param filter + bytewise whole-"k=v" sort
    "q_urlnorm" -> (urlCanonChainSql(
      """WITH d AS (
        |  SELECT doc_id, CASE CAST(doc_id % 8 AS INT)
        |    WHEN 0 THEN 'HTTP://WWW.' || upper(source) || '.COM:80/d/'
        |      || CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
        |    WHEN 1 THEN 'https://' || source || '.com:443/'
        |    WHEN 2 THEN 'https://' || source || '.com'
        |    WHEN 3 THEN 'http://' || source || '.com/p/'
        |      || CAST(doc_id AS VARCHAR) || '?fbclid=abc'
        |    WHEN 4 THEN 'http://' || source || '.com/p?z=9&y=8&y=7&gclid=1'
        |    WHEN 5 THEN 'relative/' || CAST(doc_id AS VARCHAR)
        |      || '?utm_x=1#sec'
        |    WHEN 6 THEN 'https://www.sub.' || source || '.com/x/'
        |      || CAST(doc_id AS VARCHAR)
        |    ELSE 'http://' || source || '.com:8080/x' END AS url
        |  FROM documents)""".stripMargin) + """
        |SELECT doc_id, url, canon
        |FROM s6 ORDER BY doc_id""".stripMargin),

    // composition: the SAME canonicalization chain feeding snapshot
    // dedup — the production recrawl shape, where one page arrives
    // under tracking-param/case/port spellings that would defeat
    // (url, content) keying unnormalized
    "q_snapshot_urlnorm" -> (urlCanonChainSql(
      """WITH base AS (
        |  SELECT doc_id, text,
        |    'HTTP://WWW.' || source || '.COM/page/'
        |      || CAST(doc_id AS VARCHAR) || '?utm_source=feed&ref=rss'
        |      AS u0,
        |    'http://' || source || '.com/page/'
        |      || CAST(doc_id AS VARCHAR) AS u1
        |  FROM documents),
        |d AS (
        |  SELECT u0 AS url, 0 AS snap, text, doc_id * 4 AS fetch_id
        |  FROM base
        |  UNION ALL
        |  SELECT u1 AS url, 0 AS snap, text, doc_id * 4 + 1 AS fetch_id
        |  FROM base
        |  UNION ALL
        |  SELECT u0 AS url, 1 AS snap,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' updated'
        |         ELSE text END AS text,
        |    doc_id * 4 + 2 AS fetch_id FROM base)""".stripMargin) + """
        |SELECT canon AS url, min(snap) AS first_snap,
        |  min(fetch_id) AS keep_fetch, count(*) AS n_fetches
        |FROM s6 GROUP BY canon, md5(text)
        |ORDER BY url, keep_fetch""".stripMargin),

    // per-column profile over lineitem: one UNION ALL arm per column
    // with the type's portable min/max representation (fractionals as
    // monotone floor(1e6·x), timestamps at second precision via the
    // µs cast every ts oracle makes)
    "q_table_profile" -> profileSql,
    "q_table_profile_approx" -> profileApproxSql,

    // √n is exactly rounded per IEEE-754 in both engines, so
    // floor(1e6·√n) is deterministic; quota arithmetic is all BIGINT
    "q_mix" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs,
        |    CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
        |      AS BIGINT) AS w_micro FROM c),
        |tot AS (SELECT sum(w_micro) AS wt FROM w),
        |base AS (SELECT source, n_docs, w_micro,
        |    (10000 * w_micro) // wt AS q0,
        |    (10000 * w_micro) % wt AS rem
        |  FROM w, tot),
        |lo AS (SELECT sum(q0) AS s0 FROM base),
        |rk AS (SELECT source, n_docs, w_micro, q0,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rn
        |  FROM base)
        |SELECT source, n_docs, w_micro,
        |  CAST(q0 + CASE WHEN rn <= 10000 - s0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS quota
        |FROM rk, lo ORDER BY source""".stripMargin,

    "q_simsearch" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |           FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
         |s AS (
         |  SELECT qid, cid, ${qdotSql("qv", "cv")} AS score
         |  FROM q, c WHERE qid != cid)
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk,
         |  cid, score
         |FROM s QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q_mmr" -> mmrSql(k = 4, pool = 12, lamNum = 7, lamDen = 10, nq = 3),

    // q_simsearch's chain with the label-disagreement filter
    "q_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlab
         |           FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cid, embedding AS cv, label AS clab
         |      FROM embeddings),
         |s AS (
         |  SELECT qid, cid, ${qdotSql("qv", "cv")} AS score,
         |    clab AS neg_label
         |  FROM q, c WHERE qid != cid AND clab != qlab)
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
         |    AS rnk,
         |  cid, score, neg_label
         |FROM s QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // rebuilds the sign matrix from the same md5 rule, projects, ranks
    "q_randproj" ->
      s"""WITH sgn AS (
         |  SELECT j, list(s ORDER BY d) AS sv FROM (
         |    SELECT j, d,
         |      CASE WHEN ${hashSql("'rp#'||j||'#'||d")} % 2 = 0
         |        THEN 1 ELSE -1 END AS s
         |    FROM (SELECT unnest(range(0, 16)) AS j),
         |         (SELECT unnest(range(0, 64)) AS d))
         |  GROUP BY j),
         |qv AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |pj AS (
         |  SELECT vec_id, j,
         |    CAST(list_sum(list_transform(list_zip(v, sv),
         |      z -> z[1]*z[2])) AS BIGINT) AS p
         |  FROM qv, sgn),
         |pv AS (SELECT vec_id, list(p ORDER BY j) AS pv FROM pj
         |       GROUP BY vec_id),
         |q AS (SELECT vec_id AS qid, pv AS qpv FROM pv WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cid, pv AS cpv FROM pv),
         |s2 AS (
         |  SELECT qid, cid,
         |    CAST(list_sum(list_transform(list_zip(qpv, cpv),
         |      z -> z[1]*z[2])) AS BIGINT) AS score
         |  FROM q, c WHERE qid != cid)
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
         |    AS rnk,
         |  cid, score
         |FROM s2 QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // the cascade: projected shortlist (prnk <= 50) then full-vector
    // re-rank of shortlist members only — the same sign matrix and the
    // same integer arithmetic end to end
    "q_randproj_rerank" ->
      s"""WITH sgn AS (
         |  SELECT j, list(s ORDER BY d) AS sv FROM (
         |    SELECT j, d,
         |      CASE WHEN ${hashSql("'rp#'||j||'#'||d")} % 2 = 0
         |        THEN 1 ELSE -1 END AS s
         |    FROM (SELECT unnest(range(0, 16)) AS j),
         |         (SELECT unnest(range(0, 64)) AS d))
         |  GROUP BY j),
         |qv0 AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE)*1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |pj AS (
         |  SELECT vec_id, j,
         |    CAST(list_sum(list_transform(list_zip(v, sv),
         |      z -> z[1]*z[2])) AS BIGINT) AS p
         |  FROM qv0, sgn),
         |pv AS (SELECT vec_id, list(p ORDER BY j) AS pv FROM pj
         |       GROUP BY vec_id),
         |q AS (SELECT vec_id AS qid, pv AS qpv FROM pv WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cid, pv AS cpv FROM pv),
         |sl0 AS (
         |  SELECT qid, cid,
         |    CAST(list_sum(list_transform(list_zip(qpv, cpv),
         |      z -> z[1]*z[2])) AS BIGINT) AS pscore
         |  FROM q, c WHERE qid != cid),
         |sl AS (
         |  SELECT qid, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY pscore DESC, cid) AS prnk FROM sl0)
         |  WHERE prnk <= 50),
         |rr AS (
         |  SELECT sl.qid, sl.cid,
         |    CAST(list_sum(list_transform(list_zip(a.v, b.v),
         |      z -> z[1]*z[2])) AS BIGINT) AS score
         |  FROM sl JOIN qv0 a ON a.vec_id = sl.qid
         |    JOIN qv0 b ON b.vec_id = sl.cid)
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
         |    AS rnk,
         |  cid, score
         |FROM rr QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // the pinned-banding k-NN graph: q_simsearch_lsh's CTEs with every
    // vector as a query (no vec_id < 10 gate), k = 3, bits fixed at 12
    "q_knn_graph_fixed" ->
      s"""WITH $knnFixedCtes
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk,
         |  cid, score
         |FROM s QUALIFY rnk <= 3 ORDER BY qid, rnk""".stripMargin,

    // k-NN on the DEFAULT (autoBits) banding — sizing rule in the p
    // CTE, as in q_dedup_lsh — pins which candidates the data-sized
    // buckets admit to scoring, not just the bit arithmetic
    "q_knn_graph" ->
      s"""WITH p AS (
         |  SELECT CAST(least(greatest(ceil(log2(count(*) / 1024.0)), 1), 24)
         |    AS BIGINT) AS pb
         |  FROM embeddings),
         |hp AS (
         |  SELECT j, list_transform(range(0, 64),
         |    d -> (1103515245 * (j*64 + d) + 12345) % 2001 - 1000) AS h
         |  FROM (SELECT unnest(range(0, 4 * (SELECT pb FROM p))) AS j)),
         |q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |b AS (
         |  SELECT q.vec_id, hp.j,
         |    CASE WHEN list_sum(list_transform(list_zip(q.qv, hp.h),
         |      z -> z[1] * z[2])) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM q, hp),
         |bandkeys AS (
         |  SELECT vec_id, j // (SELECT pb FROM p) AS band,
         |    sum(bit * (1 << (j % (SELECT pb FROM p)))) AS bk
         |  FROM b GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS qid, y.vec_id AS cid
         |  FROM bandkeys x JOIN bandkeys y
         |    ON x.band = y.band AND x.bk = y.bk
         |  WHERE x.vec_id != y.vec_id),
         |s AS (
         |  SELECT c.qid, c.cid, ${qdotSql("a.embedding", "b.embedding")} AS score
         |  FROM cand c JOIN embeddings a ON c.qid = a.vec_id
         |              JOIN embeddings b ON c.cid = b.vec_id)
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk,
         |  cid, score
         |FROM s QUALIFY rnk <= 3 ORDER BY qid, rnk""".stripMargin,

    // same hyperplane/band CTEs as q_dedup_lsh; candidates = corpus rows
    // sharing any band with a query, ranked by exact quantized dot
    "q_simsearch_lsh" ->
      s"""WITH hp AS (
         |  SELECT j, list_transform(range(0, 64),
         |    d -> (1103515245 * (j*64 + d) + 12345) % 2001 - 1000) AS h
         |  FROM (SELECT unnest(range(0, 12)) AS j)),
         |q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |b AS (
         |  SELECT q.vec_id, hp.j,
         |    CASE WHEN list_sum(list_transform(list_zip(q.qv, hp.h),
         |      z -> z[1] * z[2])) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM q, hp),
         |bandkeys AS (
         |  SELECT vec_id, j // 3 AS band, sum(bit * (1 << (j % 3))) AS bk
         |  FROM b GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS qid, y.vec_id AS cid
         |  FROM bandkeys x JOIN bandkeys y
         |    ON x.band = y.band AND x.bk = y.bk
         |  WHERE x.vec_id < 10 AND x.vec_id != y.vec_id),
         |s AS (
         |  SELECT c.qid, c.cid, ${qdotSql("a.embedding", "b.embedding")} AS score
         |  FROM cand c JOIN embeddings a ON c.qid = a.vec_id
         |              JOIN embeddings b ON c.cid = b.vec_id)
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk,
         |  cid, score
         |FROM s QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q_simsearch_ivf" ->
      s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_v
         |              FROM embeddings WHERE vec_id < 16),
         |corp AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
         |asg AS (
         |  SELECT cid, cv, cent_id FROM (
         |    SELECT cid, cv, cent_id, row_number() OVER (
         |      PARTITION BY cid ORDER BY cscore DESC, cent_id) AS crank
         |    FROM (SELECT cid, cv, cent_id,
         |            ${qdotSql("cv", "cent_v")} AS cscore
         |          FROM corp, cent))
         |  WHERE crank = 1),
         |qs AS (SELECT vec_id AS qid, embedding AS qv
         |       FROM embeddings WHERE vec_id < 10),
         |probes AS (
         |  SELECT qid, qv, cent_id FROM (
         |    SELECT qid, qv, cent_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY pscore DESC, cent_id) AS prank
         |    FROM (SELECT qid, qv, cent_id,
         |            ${qdotSql("qv", "cent_v")} AS pscore
         |          FROM qs, cent))
         |  WHERE prank <= 4)
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk,
         |  cid, score
         |FROM (
         |  SELECT p.qid, a.cid, ${qdotSql("p.qv", "a.cv")} AS score
         |  FROM probes p JOIN asg a USING (cent_id) WHERE p.qid != a.cid)
         |QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // SQ8: per-dim (lo, hi) over the quantized corpus; code = (v-lo)*255
    // // max(hi-lo, 1); dequantized-scaled dv = 255*lo + code*(hi-lo);
    // ADC score = <q, dv> — all exact integer math
    "q_simsearch_sq" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |st AS (
        |  SELECT d, min(qv[d + 1]) AS lo, max(qv[d + 1]) AS hi
        |  FROM q, (SELECT CAST(unnest(range(0, 64)) AS INT) AS d)
        |  GROUP BY d),
        |stl AS (
        |  SELECT list(lo ORDER BY d) AS los, list(hi ORDER BY d) AS his
        |  FROM st),
        |enc AS (
        |  SELECT vec_id AS cid,
        |    list_transform(range(0, 64), i ->
        |      255 * los[i + 1]
        |      + (((qv[i + 1] - los[i + 1]) * 255)
        |         // greatest(his[i + 1] - los[i + 1], 1))
        |        * (his[i + 1] - los[i + 1])) AS dq
        |  FROM q, stl),
        |sc AS (
        |  SELECT qq.vec_id AS qid, e.cid,
        |    CAST(list_sum(list_transform(range(0, 64),
        |      i -> qq.qv[i + 1] * e.dq[i + 1])) AS BIGINT) AS score
        |  FROM (SELECT vec_id, qv FROM q WHERE vec_id < 10) qq, enc e
        |  WHERE qq.vec_id <> e.cid)
        |SELECT qid, rnk, cid, score FROM (
        |  SELECT qid, cid, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, cid) AS rnk
        |  FROM sc)
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // PQ: codebook = sub-vectors of the 16 lowest-vec_id vectors; encode
    // by argmin L2 (= argmin |c|^2 - 2<v,c>, ties to lower code); ADC
    // score = sum over subspaces of <q_sub, cent[code]> — all exact
    // integer math on floor(x*1000) quantized vectors
    "q_simsearch_pq" ->
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |sub AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS s),
         |base AS (SELECT vec_id AS code_id, qv FROM q
         |         ORDER BY vec_id LIMIT 16),
         |cb AS (
         |  SELECT code_id, s.s AS s,
         |    qv[(s.s*8+1):(s.s*8+8)] AS cent
         |  FROM base, sub s),
         |cs AS (
         |  SELECT vec_id AS cid, s.s AS s,
         |    qv[(s.s*8+1):(s.s*8+8)] AS sv
         |  FROM q, sub s),
         |enc AS (
         |  SELECT cid, s, code_id FROM (
         |    SELECT cs.cid, cs.s, cb.code_id, row_number() OVER (
         |      PARTITION BY cs.cid, cs.s
         |      ORDER BY ${ldotSql("cent", "cent")}
         |               - 2 * ${ldotSql("sv", "cent")} ASC, cb.code_id) AS r
         |    FROM cs JOIN cb USING (s))
         |  WHERE r = 1),
         |lutq AS (SELECT vec_id AS qid, qv FROM q WHERE vec_id < 10),
         |lut AS (
         |  SELECT qid, cb.s, cb.code_id,
         |    ${ldotSql("lutq.qv[(cb.s*8+1):(cb.s*8+8)]", "cb.cent")} AS p
         |  FROM lutq, cb),
         |sc AS (
         |  SELECT l.qid, e.cid, CAST(sum(l.p) AS BIGINT) AS score
         |  FROM enc e JOIN lut l ON e.s = l.s AND e.code_id = l.code_id
         |  WHERE l.qid != e.cid
         |  GROUP BY l.qid, e.cid)
         |SELECT qid,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk,
         |  cid, score
         |FROM sc QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // BM25: ln idf + fixed-order per-term pivot (see TextAnalysis.bm25 —
    // literal constants and left-to-right sums keep IEEE results
    // engine-identical; the final floor-round is belt and braces)
    // bucket(r) = stableHash60(word || '#' || r) % 64; bucket counts
    // sum word frequencies; estimate = min over the 4 rows
    "q_cms" ->
      s"""WITH wf AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word
         |    FROM documents)
         |  WHERE word <> '' GROUP BY word),
         |rws AS (
         |  SELECT word, freq, r,
         |    ${hashSql("word || '#' || r")} % 64 AS b
         |  FROM wf, (SELECT unnest(range(0, 4)) AS r)),
         |bk AS (
         |  SELECT r, b, CAST(sum(freq) AS BIGINT) AS bucket_cnt
         |  FROM rws GROUP BY r, b)
         |SELECT word, CAST(max(freq) AS BIGINT) AS freq,
         |  CAST(min(bucket_cnt) AS BIGINT) AS est
         |FROM rws JOIN bk USING (r, b)
         |GROUP BY word ORDER BY word""".stripMargin,

    // MG output is exact (the sketch only bounds pass-1 memory), so the
    // oracle is the plain strict-threshold frequency computation
    "q_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT count(*) AS n_total FROM tok),
        |c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok)
        |SELECT c.tok, c.cnt FROM c, n
        |WHERE c.cnt * 50 > n.n_total
        |ORDER BY c.tok""".stripMargin,

    "q_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |         unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, w, count(*) AS tf, min(dl) AS dl
        |  FROM tok WHERE w IN ('data','join','hash','scan','batch')
        |  GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |st AS (SELECT count(*) AS n_docs,
        |              CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |                AS total_tok
        |       FROM documents),
        |c AS (
        |  SELECT tf.doc_id, tf.w,
        |    ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |      ((tf.tf * 2.2) / (tf.tf + 1.2 *
        |        (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) /
        |          (CAST(st.total_tok AS DOUBLE) / st.n_docs))))) AS c
        |  FROM tf JOIN df USING (w) CROSS JOIN st),
        |piv AS (
        |  SELECT doc_id,
        |    max(CASE WHEN w = 'data'  THEN c END) AS c_0,
        |    max(CASE WHEN w = 'join'  THEN c END) AS c_1,
        |    max(CASE WHEN w = 'hash'  THEN c END) AS c_2,
        |    max(CASE WHEN w = 'scan'  THEN c END) AS c_3,
        |    max(CASE WHEN w = 'batch' THEN c END) AS c_4
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id,
        |  (CASE WHEN c_0 IS NOT NULL THEN 1 ELSE 0 END +
        |   CASE WHEN c_1 IS NOT NULL THEN 1 ELSE 0 END +
        |   CASE WHEN c_2 IS NOT NULL THEN 1 ELSE 0 END +
        |   CASE WHEN c_3 IS NOT NULL THEN 1 ELSE 0 END +
        |   CASE WHEN c_4 IS NOT NULL THEN 1 ELSE 0 END) AS n_hit,
        |  floor((coalesce(c_0, 0.0) + coalesce(c_1, 0.0) +
        |         coalesce(c_2, 0.0) + coalesce(c_3, 0.0) +
        |         coalesce(c_4, 0.0)) * 1e6 + 0.5) / 1e6 AS score
        |FROM piv ORDER BY doc_id""".stripMargin,

    "q_bm25_mmr" ->
      bm25MmrSql(k = 4, pool = 12, lamNum = 1, lamDen = 2, scale = 200000L),

    "q_dedup_incremental" ->
      s"""$shingleCte,
         |exact_ids AS (
         |  SELECT DISTINCT n.doc_id
         |  FROM documents n JOIN documents c ON n.text = c.text
         |  WHERE n.doc_id >= 450 AND c.doc_id < 450),
         |np AS (SELECT doc_id, unnest(sh) AS h FROM sh
         |       WHERE doc_id >= 450),
         |cp AS (SELECT DISTINCT h FROM (
         |  SELECT unnest(sh) AS h FROM sh WHERE doc_id < 450)),
         |near_ids AS (
         |  SELECT np.doc_id FROM np JOIN cp USING (h)
         |  GROUP BY np.doc_id HAVING count(*) >= 20)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id >= 450
         |  AND doc_id NOT IN (SELECT doc_id FROM exact_ids
         |                     UNION SELECT doc_id FROM near_ids)
         |ORDER BY doc_id""".stripMargin,

    "q_contamination" ->
      s"""$shingleCte,
         |cp AS (SELECT doc_id, len(sh) AS n_doc, unnest(sh) AS h
         |       FROM sh WHERE doc_id >= 20),
         |ep AS (SELECT doc_id AS eval_id, len(sh) AS n_eval, unnest(sh) AS h
         |       FROM sh WHERE doc_id < 20),
         |ov AS (
         |  SELECT cp.doc_id, ep.eval_id, cp.n_doc, ep.n_eval,
         |         count(*) AS n_shared
         |  FROM cp JOIN ep USING (h)
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_id, eval_id, n_shared,
         |  CAST(n_doc AS BIGINT) AS n_doc, CAST(n_eval AS BIGINT) AS n_eval,
         |  n_shared * 1.0 / n_doc AS frac_doc,
         |  n_shared * 1.0 / n_eval AS frac_eval
         |FROM ov WHERE n_shared >= 2 ORDER BY doc_id, eval_id""".stripMargin,

    // word k-gram lists WITH multiplicity (raw strings, not distinct
    // hashes): range(1, len) is end-exclusive, short docs -> empty list
    "q_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(
        |      range(1, CASE WHEN len(ts) < 2 THEN 1 ELSE len(ts) END),
        |      i -> ts[i] || ' ' || ts[i+1]) AS s2,
        |    list_transform(
        |      range(1, CASE WHEN len(ts) < 3 THEN 1 ELSE len(ts) - 1 END),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS s3
        |  FROM tok)
        |SELECT doc_id,
        |  CAST(len(s2) AS BIGINT) AS n2,
        |  CAST(len(list_distinct(s2)) AS BIGINT) AS d2,
        |  (len(s2) - len(list_distinct(s2))) * 1.0
        |    / greatest(len(s2), 1) AS dup2,
        |  CAST(len(s3) AS BIGINT) AS n3,
        |  CAST(len(list_distinct(s3)) AS BIGINT) AS d3,
        |  (len(s3) - len(list_distinct(s3))) * 1.0
        |    / greatest(len(s3), 1) AS dup3
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_textstats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
        |    AS avg_tokens_per_doc
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // adjacent-token bigrams via 1-based list indexing; range(1, len) is
    // end-exclusive so a 1-token doc contributes nothing (= Spark's
    // zero-length slice)
    "q_bigrams" ->
      """WITH w AS (
        |  SELECT lang, string_split(text, ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT lang, unnest(list_transform(range(1, len(ws)),
        |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)]))
        |    AS bigram
        |  FROM w),
        |c AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2)
        |SELECT lang, bigram, n, rnk FROM (
        |  SELECT lang, bigram, n, row_number() OVER (
        |    PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
        |  FROM c)
        |WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin,

    // PMI from one ln over an exact integer ratio; n_bg = n_uni - n_docs
    // (t tokens -> t-1 adjacent bigrams per doc, corpus texts non-empty)
    "q_pmi" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |tot AS (SELECT CAST(sum(len(ts)) AS BIGINT) AS n_uni,
        |               CAST(sum(len(ts)) AS BIGINT) - count(*) AS n_bg
        |        FROM tok),
        |uc AS (SELECT w, count(*) AS c FROM (SELECT unnest(ts) AS w FROM tok)
        |       GROUP BY w),
        |bc AS (SELECT bg, count(*) AS c_xy FROM (
        |         SELECT unnest(list_transform(range(1, len(ts)),
        |           i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i+1 AS INT)]))
        |           AS bg
        |         FROM tok)
        |       GROUP BY bg HAVING count(*) >= 5)
        |SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
        |  c_xy, u1.c AS c_x, u2.c AS c_y,
        |  floor(ln(CAST(c_xy AS DOUBLE)
        |           * (CAST(n_uni AS DOUBLE) / CAST(n_bg AS DOUBLE))
        |           * (CAST(n_uni AS DOUBLE) / CAST(u1.c AS DOUBLE))
        |           / CAST(u2.c AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS pmi
        |FROM bc
        |JOIN uc u1 ON split_part(bg, ' ', 1) = u1.w
        |JOIN uc u2 ON split_part(bg, ' ', 2) = u2.w
        |CROSS JOIN tot
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 50""".stripMargin,

    // per-term micro-nat quantization (floor(c ln c * 1e6) as BIGINT)
    // makes the entropy fold exact integer math on both engines
    "q_entropy" ->
      """WITH tc AS (
        |  SELECT doc_id, w, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY doc_id, w),
        |e AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types,
        |    CAST(sum(CAST(floor(c * ln(c) * 1e6) AS BIGINT)) AS BIGINT) AS s
        |  FROM tc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types,
        |  floor((ln(n_tokens) - s / 1e6 / n_tokens) * 1e6 + 0.5) / 1e6
        |    AS entropy
        |FROM e ORDER BY doc_id""".stripMargin,

    "q_lm_coverage" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)]))
        |    AS bigram
        |  FROM w),
        |lm AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN lm.c >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_common,
        |  CAST(sum(CASE WHEN lm.c >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / greatest(count(*), 1) AS coverage
        |FROM bg JOIN lm USING (bigram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_langid" ->
      """WITH x AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), sc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ts, t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |      / greatest(len(ts), 1) AS score_en,
        |    CAST(len(list_filter(ts, t -> t IN ('el','la','de','y','que'))) AS DOUBLE)
        |      / greatest(len(ts), 1) AS score_es,
        |    CAST(len(list_filter(ts, t -> t IN ('le','la','et','de','un'))) AS DOUBLE)
        |      / greatest(len(ts), 1) AS score_fr,
        |    CAST(len(list_filter(ts, t -> t IN ('der','die','und','das','ist'))) AS DOUBLE)
        |      / greatest(len(ts), 1) AS score_de
        |  FROM x)
        |SELECT doc_id, score_en, score_es, score_fr, score_de,
        |  CASE
        |    WHEN score_en >= score_es AND score_en >= score_fr
        |         AND score_en >= score_de THEN 'en'
        |    WHEN score_es >= score_fr AND score_es >= score_de THEN 'es'
        |    WHEN score_fr >= score_de THEN 'fr'
        |    ELSE 'de' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,

    // reconstructs the closed-form mixed-script corpus character-for-
    // character (chr() + list folds), then tokenizes with the IDENTICAL
    // RE2/Java-compatible pattern the engine runs; the priority argmax
    // compares raw hit counts (shared denominator), so every compared
    // value is an exact integer
    "q_tokencjk" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 3 AS cls,
        |    CAST(4 + doc_id % 5 AS INT) AS nw,
        |    CAST(6 + doc_id % 9 AS INT) AS nc
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, cls,
        |    list_aggregate(list_transform(range(0, nw), i ->
        |      list_aggregate(list_transform(range(0, 2 + (doc_id + i*3) % 4),
        |        j -> chr(CAST(97 + (doc_id + i*7 + j*3) % 26 AS INT))),
        |        'string_agg', '')),
        |      'string_agg', ' ') AS latin,
        |    list_aggregate(list_transform(range(0, nc), j ->
        |      chr(CAST(CASE WHEN doc_id % 2 = 0
        |        THEN 19968 + ((doc_id + j*11) * 2654435761) % 512
        |        ELSE 12353 + (doc_id + j*7) % 85 END AS INT))),
        |      'string_agg', '') AS cjk
        |  FROM d),
        |x AS (
        |  SELECT doc_id,
        |    CASE cls WHEN 0 THEN latin WHEN 1 THEN cjk
        |      ELSE latin || ' ' || cjk END AS text
        |  FROM t),
        |tok AS (
        |  SELECT doc_id,
        |    regexp_extract_all(text,
        |      '[\x{3040}-\x{30FF}\x{3400}-\x{9FFF}]|[^\s\x{3040}-\x{30FF}\x{3400}-\x{9FFF}]+')
        |      AS ts,
        |    len(string_split(text, ' ')) AS nsp
        |  FROM x),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CAST(nsp AS BIGINT) AS n_space_tokens,
        |    CAST(len(list_filter(ts, t ->
        |      t IN ('the','a','of','and','to'))) AS BIGINT) AS hits_en,
        |    CAST(len(list_filter(ts, t ->
        |      t IN ('el','la','de','y','que'))) AS BIGINT) AS hits_es,
        |    CAST(len(list_filter(ts, t ->
        |      t IN ('le','la','et','de','un'))) AS BIGINT) AS hits_fr,
        |    CAST(len(list_filter(ts, t ->
        |      t IN ('der','die','und','das','ist'))) AS BIGINT) AS hits_de,
        |    CAST(len(list_filter(ts, t ->
        |      regexp_matches(t, '^[\x{3400}-\x{9FFF}]$'))) AS BIGINT)
        |      AS n_han,
        |    CAST(len(list_filter(ts, t ->
        |      regexp_matches(t, '^[\x{3040}-\x{30FF}]$'))) AS BIGINT)
        |      AS n_kana
        |  FROM tok)
        |SELECT doc_id, n_tokens, n_space_tokens,
        |  hits_en, hits_es, hits_fr, hits_de, n_han, n_kana,
        |  CASE
        |    WHEN hits_en >= hits_es AND hits_en >= hits_fr
        |         AND hits_en >= hits_de AND hits_en >= n_han
        |         AND hits_en >= n_kana THEN 'en'
        |    WHEN hits_es >= hits_fr AND hits_es >= hits_de
        |         AND hits_es >= n_han AND hits_es >= n_kana THEN 'es'
        |    WHEN hits_fr >= hits_de AND hits_fr >= n_han
        |         AND hits_fr >= n_kana THEN 'fr'
        |    WHEN hits_de >= n_han AND hits_de >= n_kana THEN 'de'
        |    WHEN n_han >= n_kana THEN 'zh'
        |    ELSE 'ja' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_unigram_lm" ->
      s"""$unigramCte
         |SELECT token, cnt, cost FROM vf ORDER BY token""".stripMargin,

    "q_unigram_fertility" ->
      s"""$unigramCte,
         |segf(word, pos, path, c, ntok) AS (
         |  SELECT word, 0, CAST([] AS VARCHAR[]), CAST(0 AS BIGINT), 0
         |  FROM wf
         |  UNION ALL
         |  SELECT s.word, s.pos + len(v.token), list_append(s.path, v.token),
         |         s.c + v.cost, s.ntok + 1
         |  FROM segf s JOIN vf v
         |    ON substring(s.word, s.pos + 1, len(v.token)) = v.token),
         |bestf AS (
         |  SELECT word, path FROM (
         |    SELECT word, path, row_number() OVER (PARTITION BY word
         |      ORDER BY c, ntok, list_transform(path, x -> -len(x))) AS rn
         |    FROM segf WHERE pos = len(word)) WHERE rn = 1)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(word)) AS BIGINT) AS n_chars,
         |  CAST(sum(coalesce(ns.n_sub, len(word))) AS BIGINT)
         |    AS n_unigram_tokens
         |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
         |      FROM documents) d
         |LEFT JOIN (SELECT word, len(path) AS n_sub FROM bestf) ns
         |  USING (word)
         |WHERE len(word) > 0
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_quality" ->
      """WITH x AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents)
        |SELECT doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_distinct(ts)) AS DOUBLE) / greatest(len(ts), 1)
        |    AS type_token_ratio,
        |  CAST(length(text) - (len(ts) - 1) AS DOUBLE) / greatest(len(ts), 1)
        |    AS avg_token_len,
        |  CAST(len(list_filter(ts,
        |      t -> t IN ('a','the','of','and','to','in'))) AS DOUBLE)
        |    / greatest(len(ts), 1) AS stopword_ratio
        |FROM x ORDER BY doc_id""".stripMargin,

    // blocklist: per-pattern OVERLAPPING occurrence counts (the
    // Aho–Corasick semantics — replace()-based counting would miss
    // overlaps), summed across the 4-pattern list
    "q_blocklist" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(
        |    len(list_filter(range(1, length(text) - 1),
        |        i -> substr(text, i, 3) = 'dup'))
        |    + len(list_filter(range(1, length(text) - 2),
        |        i -> substr(text, i, 4) = 'slow'))
        |    + len(list_filter(range(1, length(text) - 1),
        |        i -> substr(text, i, 3) = 'low'))
        |    + len(list_filter(range(1, length(text) - 8),
        |        i -> substr(text, i, 10) = 'scan batch'))
        |    AS BIGINT) AS n_hits
        |  FROM documents)
        |SELECT doc_id, n_hits,
        |  CASE WHEN n_hits <= 2 THEN 1 ELSE 0 END AS keep
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      s"""$shingleCte
         |SELECT doc_id, list_min(sh) AS fp_min, list_max(sh) AS fp_max,
         |  CAST(len(sh) AS BIGINT) AS fp_n
         |FROM sh ORDER BY doc_id""".stripMargin,

    // logistic scorer over the q_quality features: the weighted sum
    // folds left-to-right in the same order as the Spark side, so the
    // IEEE logits agree bit-for-bit before the belt-and-braces round
    "q_quality_model" ->
      """WITH x AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ts
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(list_distinct(ts)) AS DOUBLE) / greatest(len(ts), 1)
        |      AS ttr,
        |    CAST(length(text) - (len(ts) - 1) AS DOUBLE)
        |      / greatest(len(ts), 1) AS atl,
        |    CAST(len(list_filter(ts,
        |        t -> t IN ('a','the','of','and','to','in'))) AS DOUBLE)
        |      / greatest(len(ts), 1) AS swr
        |  FROM x),
        |sc AS (
        |  SELECT doc_id,
        |    1.0 / (1.0 + exp(-(-0.5 + ttr * 2.0 + atl * -0.3
        |      + swr * 1.5))) AS q_score
        |  FROM f)
        |SELECT doc_id,
        |  floor(q_score * 1e6 + 0.5) / 1e6 AS q_score,
        |  CASE WHEN q_score >= 0.5 THEN 1 ELSE 0 END AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q_pagerank" -> pagerankSql,

    // audit: flags CTE shared by the two audit oracles; the ratio
    // rules replay the q_quality CTE expressions, the blocklist rule
    // replays q_blocklist's overlapping-count idiom, exact_dup windows
    // over the text partition (same grouping as the engine's md5)
    "q_curation_audit" ->
      s"""$auditFlagsCte
         |SELECT doc_id, COALESCE(array_to_string(fl, ','), '') AS fails,
         |  CAST(len(fl) AS BIGINT) AS n_fails,
         |  CASE WHEN len(fl) = 0 THEN 1 ELSE 0 END AS kept
         |FROM a ORDER BY doc_id""".stripMargin,

    "q_audit_rates" ->
      s"""$auditFlagsCte,
         |e AS (SELECT len(fl) AS n_fails, unnest(fl) AS rule FROM a)
         |SELECT rule, count(*) AS n_fail,
         |  CAST(sum(CASE WHEN n_fails = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_solo
         |FROM e GROUP BY rule ORDER BY rule""".stripMargin,

    // the hash-order rank replays stableHash60 = first 15 md5 hex
    // digits as a BIGINT; ties (impossible on distinct doc_ids, but
    // the contract) break by doc_id
    "q_exact_sample" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${hashSql("CAST(doc_id AS VARCHAR)")}, doc_id)
         |      AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents)
         |SELECT doc_id, lang, n_chars FROM r
         |WHERE (rn - 1) * 4 < n ORDER BY doc_id""".stripMargin,

    "q_entity_dedup" ->
      """WITH RECURSIVE c AS (
        |  SELECT c_custkey AS k, c_name AS nm,
        |    substr(c_name, 1, 16) AS blk
        |  FROM customer),
        |jp AS (
        |  SELECT a.k AS d1, b.k AS d2 FROM c a JOIN c b
        |  ON a.blk = b.blk AND a.k < b.k
        |    AND levenshtein(a.nm, b.nm) <= 1),
        |e AS (SELECT d1 AS a, d2 AS b FROM jp
        |      UNION ALL SELECT d2 AS a, d1 AS b FROM jp),
        |reach(node, r) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node)
        |SELECT node, min(r) AS component FROM reach GROUP BY node
        |ORDER BY node""".stripMargin,

    // hash-phased span mask: position p masked iff p >= ph and
    // (p-ph) % 8 < 2; span index = (p-ph) // 8; phase = Knuth
    // multiplicative hash of the id (exact int64 on both engines)
    "q_span_corrupt" ->
      s"""WITH x AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts,
         |    (doc_id * 2654435761) % 8 AS ph
         |  FROM documents)
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  COALESCE(array_to_string(list_filter(list_transform(
         |    range(0, len(ts)), p -> CASE
         |      WHEN p < ph OR (p - ph) % 8 >= 2
         |        THEN ts[CAST(p + 1 AS INT)]
         |      WHEN (p - ph) % 8 = 0 THEN '<extra_id_'
         |        || CAST((p - ph) // 8 AS BIGINT) || '>'
         |      ELSE NULL END), z -> z IS NOT NULL), ' '), '')
         |    AS input_text,
         |  COALESCE(array_to_string(list_filter(list_transform(
         |    range(0, len(ts)), p -> CASE
         |      WHEN p >= ph AND (p - ph) % 8 = 0 THEN '<extra_id_'
         |        || CAST((p - ph) // 8 AS BIGINT) || '> '
         |        || ts[CAST(p + 1 AS INT)]
         |      WHEN p >= ph AND (p - ph) % 8 < 2
         |        THEN ts[CAST(p + 1 AS INT)]
         |      ELSE NULL END), z -> z IS NOT NULL), ' '), '')
         |    AS target_text
         |FROM x ORDER BY doc_id""".stripMargin,

    "q_domain_screen" ->
      """WITH x AS (
        |  SELECT source, string_split(text, ' ') AS ts FROM documents),
        |d AS (
        |  SELECT source,
        |    CAST(floor(1e6 * len(list_distinct(ts))
        |      / greatest(len(ts), 1)) AS BIGINT) AS tm,
        |    CAST(floor(1e6 * len(list_filter(ts,
        |        t -> t IN ('a','the','of','and','to','in')))
        |      / greatest(len(ts), 1)) AS BIGINT) AS sm
        |  FROM x)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tm) AS BIGINT) AS sum_ttr_micro,
        |  CAST(sum(sm) AS BIGINT) AS sum_stop_micro,
        |  CASE WHEN sum(tm) >= 500000 * count(*)
        |        AND sum(sm) >= 60000 * count(*) THEN 1 ELSE 0 END AS keep
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "q_snapshot_dedup" ->
      """WITH base AS (
        |  SELECT source || '/' || doc_id AS url, doc_id, text
        |  FROM documents),
        |crawl AS (
        |  SELECT url, 0 AS snap, text, doc_id * 2 AS fetch_id FROM base
        |  UNION ALL
        |  SELECT url, 1 AS snap,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' updated'
        |         ELSE text END AS text,
        |    doc_id * 2 + 1 AS fetch_id FROM base)
        |SELECT url, min(snap) AS first_snap, min(fetch_id) AS keep_fetch,
        |  count(*) AS n_fetches
        |FROM crawl GROUP BY url, md5(text)
        |ORDER BY url, keep_fetch""".stripMargin,

    "q_classifier_train" -> classifierTrainSql,

    "q_classifier_score" -> classifierScoreSql,
    "q_clf_auc" -> clfAucSql,

    "q_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS INT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // chr() composes the same four markers the Spark side builds from
    // \u escapes; nfc_normalize is utf8proc's UAX #15, the JDK
    // Normalizer's twin
    // DuckDB ships nfc_normalize but no NFKC: the oracle instead
    // composes the EXPECTED normalized string `e` closed-form per
    // marker (sound because the corpus text is ASCII = NFKC-invariant,
    // so nfkc(text || marker) = text || nfkc(marker)); only_k = 1 on
    // exactly the compatibility-fold markers NFC preserves
    "q_nfkc" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' ' || CASE CAST(doc_id % 6 AS INT)
        |      WHEN 0 THEN chr(65313) || chr(65314) || chr(65315)
        |      WHEN 1 THEN chr(64257) || 'le'
        |      WHEN 2 THEN chr(9312)
        |      WHEN 3 THEN chr(178)
        |      WHEN 4 THEN 'caf' || chr(101) || chr(769)
        |      ELSE 'cafe' END AS t,
        |    text || ' ' || CASE CAST(doc_id % 6 AS INT)
        |      WHEN 0 THEN 'ABC'
        |      WHEN 1 THEN 'file'
        |      WHEN 2 THEN '1'
        |      WHEN 3 THEN '2'
        |      WHEN 4 THEN 'caf' || chr(233)
        |      ELSE 'cafe' END AS e,
        |    CASE WHEN CAST(doc_id % 6 AS INT) IN (0, 1, 2, 3)
        |      THEN 1 ELSE 0 END AS k
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(t) AS INT) AS n_raw,
        |  CAST(len(e) AS INT) AS n_nfkc,
        |  CAST(CASE WHEN t = e THEN 0 ELSE 1 END AS INT) AS changed,
        |  CAST(k AS INT) AS only_k,
        |  e AS nfkc_text
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_nfc" ->
      """WITH d AS (
        |  SELECT doc_id, text || ' ' || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'caf' || chr(101) || chr(769)
        |    WHEN 1 THEN 'caf' || chr(233)
        |    WHEN 2 THEN chr(65) || chr(778)
        |    ELSE 'cafe' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(t) AS INT) AS n_raw,
        |  CAST(len(nfc_normalize(t)) AS INT) AS n_nfc,
        |  CAST(CASE WHEN t = nfc_normalize(t) THEN 0 ELSE 1 END AS INT)
        |    AS changed,
        |  nfc_normalize(t) AS nfc_text
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
        |    '[a-f]{8,}', '<ID>', 'g') AS redacted,
        |  CAST(length(text) - length(
        |    regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
        |      '[a-f]{8,}', '<ID>', 'g')) AS INT) AS delta
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the oracle replays the check-digit arithmetic and composes the
    // expected redaction closed-form (each doc has exactly one
    // candidate by construction)
    "q_redact_luhn" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    lpad(CAST((doc_id * 2654435761) % 100000000000000 AS VARCHAR),
        |      14, '0') AS base
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, base,
        |    list_sum(list_transform(range(1, 15), j ->
        |      CASE WHEN j % 2 = 1 THEN
        |        CASE WHEN 2 * (ascii(substring(base, 15 - j, 1)) - 48) > 9
        |          THEN 2 * (ascii(substring(base, 15 - j, 1)) - 48) - 9
        |          ELSE 2 * (ascii(substring(base, 15 - j, 1)) - 48) END
        |      ELSE ascii(substring(base, 15 - j, 1)) - 48 END)) AS sm
        |  FROM b),
        |t AS (
        |  SELECT doc_id, base || CAST(
        |    CASE WHEN doc_id % 2 = 0 THEN (10 - sm % 10) % 10
        |         ELSE ((10 - sm % 10) % 10 + 5) % 10 END AS VARCHAR) AS cand
        |  FROM s)
        |SELECT doc_id, doc_id % 2 = 0 AS is_valid,
        |  CASE WHEN doc_id % 2 = 0 THEN 'card <CARD> id 1234 end'
        |       ELSE 'card ' || cand || ' id 1234 end' END AS redacted
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_kanon" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n, count(*) >= 5 AS anonymous
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q_kanonymize" ->
      """SELECT c_custkey, c_nationkey, c_mktsegment
        |FROM customer
        |WHERE (c_nationkey, c_mktsegment) IN (
        |  SELECT (c_nationkey, c_mktsegment)
        |  FROM customer GROUP BY c_nationkey, c_mktsegment
        |  HAVING count(*) >= 5)
        |ORDER BY c_custkey""".stripMargin,

    // the oracle replays the ladder walk: per-level min class census,
    // first level >= k wins, rows projected at that level
    "q_kgeneralize" ->
      """WITH
        |c0 AS (SELECT min(cnt) AS m FROM (
        |  SELECT count(*) AS cnt FROM customer
        |  GROUP BY CAST(c_nationkey AS VARCHAR), c_mktsegment)),
        |c1 AS (SELECT min(cnt) AS m FROM (
        |  SELECT count(*) AS cnt FROM customer
        |  GROUP BY CAST(CAST(floor(c_nationkey / 5) * 5 AS BIGINT)
        |    AS VARCHAR), c_mktsegment)),
        |c2 AS (SELECT min(cnt) AS m FROM (
        |  SELECT count(*) AS cnt FROM customer GROUP BY c_mktsegment)),
        |lvl AS (SELECT CASE WHEN (SELECT m FROM c0) >= 10 THEN 0
        |                    WHEN (SELECT m FROM c1) >= 10 THEN 1
        |                    WHEN (SELECT m FROM c2) >= 10 THEN 2
        |                    ELSE 3 END AS l)
        |SELECT c_custkey,
        |  CASE (SELECT l FROM lvl)
        |    WHEN 0 THEN CAST(c_nationkey AS VARCHAR)
        |    WHEN 1 THEN CAST(CAST(floor(c_nationkey / 5) * 5 AS BIGINT)
        |      AS VARCHAR)
        |    ELSE '*' END AS nat_g,
        |  CASE WHEN (SELECT l FROM lvl) <= 2 THEN c_mktsegment
        |       ELSE '*' END AS seg_g
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // total variation replayed with the same integer cross-multiplied
    // mass terms and one double division
    "q_tcloseness" ->
      """WITH cnt AS (
        |  SELECT c_mktsegment AS q, c_nationkey AS s, count(*) AS c
        |  FROM customer GROUP BY 1, 2),
        |cls AS (SELECT q, sum(c) AS nc FROM cnt GROUP BY q),
        |gl AS (SELECT s, sum(c) AS g FROM cnt GROUP BY s),
        |tot AS (SELECT sum(c) AS n FROM cnt)
        |SELECT q AS c_mktsegment, CAST(max(nc) AS BIGINT) AS n,
        |  CAST(sum(abs(c*n - g*nc)) + (max(n) - sum(g)) * max(nc)
        |    AS DOUBLE) / (2.0 * max(nc) * max(n)) AS tv,
        |  (CAST(sum(abs(c*n - g*nc)) + (max(n) - sum(g)) * max(nc)
        |    AS DOUBLE) / (2.0 * max(nc) * max(n))) <= 0.1 AS close
        |FROM cnt JOIN cls USING (q) JOIN gl USING (s) CROSS JOIN tot
        |GROUP BY q ORDER BY c_mktsegment""".stripMargin,

    "q_ldiversity" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_sensitive,
        |  count(DISTINCT c_nationkey) >= 10 AS diverse
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_tokencount" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    unnest(range(0, CAST(ceil(length(text) / 64.0) AS INT)))
        |      AS frame_no,
        |    text
        |  FROM documents),
        |k AS (
        |  SELECT media_id, CAST(frame_no AS INT) AS frame_no,
        |    substr(text, CAST(frame_no * 64 + 1 AS INT), 64) AS chunk
        |  FROM f WHERE frame_no % 2 = 0)
        |SELECT media_id, frame_no, CAST(length(chunk) AS BIGINT) AS n_bytes,
        |  CAST(list_reduce(list_transform(range(1, length(chunk) + 1),
        |      i -> CAST(unicode(substr(chunk, CAST(i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> (31 * a + b) % 1000000007) AS BIGINT) AS checksum
        |FROM k ORDER BY media_id, frame_no""".stripMargin,

    "q_tfvec" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents)
         |SELECT doc_id, ${hashSql("w")} % 64 AS bucket, count(*) AS tf
         |FROM tok GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  lower(hex(substr(text, 1, 4))) AS magic,
        |  CAST((unicode(substr(text,1,1))*256 + unicode(substr(text,2,1)))
        |       % 4096 AS INT) AS width,
        |  CAST((unicode(substr(text,3,1))*256 + unicode(substr(text,4,1)))
        |       % 4096 AS INT) AS height,
        |  CAST(list_reduce(list_transform(range(1, length(text)+1),
        |      i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> (31*a + b) % 1000000007) AS BIGINT) AS checksum
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_join_salted" ->
      """SELECT s_name, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,

    "q_sample" ->
      s"""SELECT doc_id, lang,
         |  ${hashSql("CAST(doc_id AS VARCHAR)")} % 10 AS fold
         |FROM documents
         |WHERE ${hashSql("CAST(doc_id AS VARCHAR)")} % 10
         |      < CASE WHEN lang = 'en' THEN 5 ELSE 2 END
         |ORDER BY doc_id""".stripMargin,

    // positional (no distinct) char-16-gram rolling hashes, winnow w=8:
    // min per window of 8, deduped; xor/min/max/count pin the set.
    // list_reduce seeds with the first element == zero-seeded XOR fold.
    // All corpus docs exceed 16+8 chars so the short-doc arms never fire
    "q_winnow" ->
      """WITH h AS (
        |  SELECT doc_id, list_transform(
        |    range(1, CASE WHEN length(text) < 16 THEN 1
        |             ELSE length(text) - 14 END),
        |    i -> list_reduce(list_transform(range(0, 16),
        |           j -> CAST(unicode(substr(text, CAST(i+j AS INT), 1))
        |                     AS BIGINT)),
        |         (a, c) -> (a * 131 + c) % 1000000007)
        |         * 1000000009
        |         + list_reduce(list_transform(range(0, 16),
        |           j -> CAST(unicode(substr(text, CAST(i+j AS INT), 1))
        |                     AS BIGINT)),
        |         (a, c) -> (a * 137 + c) % 1000000009)) AS hs
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, len(hs) AS n_windows,
        |    CASE WHEN len(hs) = 0 THEN []
        |         WHEN len(hs) < 8 THEN [list_min(hs)]
        |         ELSE list_distinct(list_transform(range(1, len(hs) - 6),
        |                i -> list_min(hs[CAST(i AS INT):CAST(i+7 AS INT)])))
        |    END AS fps
        |  FROM h),
        |ex AS (SELECT doc_id, n_windows, unnest(fps) AS fp FROM wins)
        |SELECT doc_id, CAST(min(n_windows) AS BIGINT) AS n_windows,
        |  count(*) AS n_fp,
        |  min(fp) AS fp_min, max(fp) AS fp_max,
        |  bit_xor(fp) AS fp_xor,
        |  count(*) * 1.0 / greatest(min(n_windows), 1) AS density
        |FROM ex GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_containment" ->
      s"""$shingleCte,
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
         |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         |pair AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
         |  inter * 1.0 / least(s1.n, s2.n) AS containment
         |FROM pair JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |WHERE inter * 1.0 / least(s1.n, s2.n) >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    // the forced asymmetric-prefix path must reproduce the SAME
    // direct-enumeration oracle as q_containment
    "q_containment_prefix" ->
      s"""${shingleCte.replace("FROM documents",
        "FROM documents WHERE doc_id < 2500")},
         |ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
         |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         |pair AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
         |  inter * 1.0 / least(s1.n, s2.n) AS containment
         |FROM pair JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |WHERE inter * 1.0 / least(s1.n, s2.n) >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    // deterministic hash-fold split, quantized-cosine gate across the
    // train/holdout boundary (same md5 fold as q_sample)
    "q_split_leakage" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |    ${hashSql("CAST(vec_id AS VARCHAR)")} % 10 AS fold,
         |    embedding
         |  FROM embeddings),
         |h AS (SELECT vec_id AS h_id, embedding AS he FROM e
         |      WHERE fold = 0),
         |t AS (SELECT vec_id AS t_id, embedding AS te FROM e
         |      WHERE fold != 0),
         |p AS (
         |  SELECT t_id, h_id,
         |    ${qdotSql("te", "he")} AS d,
         |    ${qnormSql("te")} AS tn,
         |    ${qnormSql("he")} AS hn
         |  FROM t, h)
         |SELECT t_id, h_id FROM p
         |WHERE d > 0
         |  AND CAST(d AS HUGEINT) * d * 100 >= 16 * CAST(tn AS HUGEINT) * hn
         |ORDER BY t_id, h_id""".stripMargin,

    "q_dedup_lsh_fixed" ->
      s"""WITH hp AS (
         |  SELECT j, list_transform(range(0, 64),
         |    d -> (1103515245 * (j*64 + d) + 12345) % 2001 - 1000) AS h
         |  FROM (SELECT unnest(range(0, 12)) AS j)),
         |q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |b AS (
         |  SELECT q.vec_id, hp.j,
         |    CASE WHEN list_sum(list_transform(list_zip(q.qv, hp.h),
         |      z -> z[1] * z[2])) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM q, hp),
         |bandkeys AS (
         |  SELECT vec_id, j // 3 AS band, sum(bit * (1 << (j % 3))) AS bk
         |  FROM b GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM bandkeys x JOIN bandkeys y
         |    ON x.band = y.band AND x.bk = y.bk AND x.vec_id < y.vec_id),
         |v AS (
         |  SELECT c.v1, c.v2,
         |    ${qdotSql("a.embedding", "b.embedding")} AS d,
         |    ${qnormSql("a.embedding")} AS qn1,
         |    ${qnormSql("b.embedding")} AS qn2
         |  FROM cand c JOIN embeddings a ON c.v1 = a.vec_id
         |              JOIN embeddings b ON c.v2 = b.vec_id)
         |SELECT v1, v2 FROM v
         |WHERE d > 0
         |  AND CAST(d AS HUGEINT) * d * 100 >= 16 * CAST(qn1 AS HUGEINT) * qn2
         |ORDER BY v1, v2""".stripMargin,

    // the DEFAULT (autoBits) banding, sizing rule replicated in SQL:
    // bits/band = clamp(ceil(log2(n/1024)), 1, 24), 4 bands — the count,
    // the clamp, and the resulting banding all hash-gated
    "q_dedup_lsh" ->
      s"""WITH p AS (
         |  SELECT CAST(least(greatest(ceil(log2(count(*) / 1024.0)), 1), 24)
         |    AS BIGINT) AS pb
         |  FROM embeddings),
         |hp AS (
         |  SELECT j, list_transform(range(0, 64),
         |    d -> (1103515245 * (j*64 + d) + 12345) % 2001 - 1000) AS h
         |  FROM (SELECT unnest(range(0, 4 * (SELECT pb FROM p))) AS j)),
         |q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |b AS (
         |  SELECT q.vec_id, hp.j,
         |    CASE WHEN list_sum(list_transform(list_zip(q.qv, hp.h),
         |      z -> z[1] * z[2])) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM q, hp),
         |bandkeys AS (
         |  SELECT vec_id, j // (SELECT pb FROM p) AS band,
         |    sum(bit * (1 << (j % (SELECT pb FROM p)))) AS bk
         |  FROM b GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM bandkeys x JOIN bandkeys y
         |    ON x.band = y.band AND x.bk = y.bk AND x.vec_id < y.vec_id),
         |v AS (
         |  SELECT c.v1, c.v2,
         |    ${qdotSql("a.embedding", "b.embedding")} AS d,
         |    ${qnormSql("a.embedding")} AS qn1,
         |    ${qnormSql("b.embedding")} AS qn2
         |  FROM cand c JOIN embeddings a ON c.v1 = a.vec_id
         |              JOIN embeddings b ON c.v2 = b.vec_id)
         |SELECT v1, v2 FROM v
         |WHERE d > 0
         |  AND CAST(d AS HUGEINT) * d * 100 >= 16 * CAST(qn1 AS HUGEINT) * qn2
         |ORDER BY v1, v2""".stripMargin,

    // LSH pairs (DEFAULT autoBits banding, p CTE sizing rule as in
    // q_dedup_lsh) -> recursive-CTE components -> keep canonical ->
    // argmax centroid assignment (window over exact quantized dots)
    "q_embed_pipeline" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT CAST(least(greatest(ceil(log2(count(*) / 1024.0)), 1), 24)
         |    AS BIGINT) AS pb
         |  FROM embeddings),
         |hp AS (
         |  SELECT j, list_transform(range(0, 64),
         |    d -> (1103515245 * (j*64 + d) + 12345) % 2001 - 1000) AS h
         |  FROM (SELECT unnest(range(0, 4 * (SELECT pb FROM p))) AS j)),
         |q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |b AS (
         |  SELECT q.vec_id, hp.j,
         |    CASE WHEN list_sum(list_transform(list_zip(q.qv, hp.h),
         |      z -> z[1] * z[2])) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM q, hp),
         |bandkeys AS (
         |  SELECT vec_id, j // (SELECT pb FROM p) AS band,
         |    sum(bit * (1 << (j % (SELECT pb FROM p)))) AS bk
         |  FROM b GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM bandkeys x JOIN bandkeys y
         |    ON x.band = y.band AND x.bk = y.bk AND x.vec_id < y.vec_id),
         |vv AS (
         |  SELECT c.v1, c.v2,
         |    ${qdotSql("a.embedding", "b.embedding")} AS d,
         |    ${qnormSql("a.embedding")} AS qn1,
         |    ${qnormSql("b.embedding")} AS qn2
         |  FROM cand c JOIN embeddings a ON c.v1 = a.vec_id
         |              JOIN embeddings b ON c.v2 = b.vec_id),
         |jp AS (
         |  SELECT v1 AS d1, v2 AS d2 FROM vv
         |  WHERE d > 0
         |    AND CAST(d AS HUGEINT) * d * 100 >= 16 * CAST(qn1 AS HUGEINT) * qn2),
         |e AS (SELECT d1 AS a, d2 AS b FROM jp
         |      UNION ALL SELECT d2 AS a, d1 AS b FROM jp),
         |reach(node, r) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node),
         |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
         |removed AS (SELECT node FROM comp WHERE node <> component),
         |kept AS (
         |  SELECT vec_id, qv FROM q
         |  WHERE vec_id NOT IN (SELECT node FROM removed)),
         |cents AS (
         |  SELECT vec_id AS cent_id, qv AS cent_v FROM q
         |  ORDER BY vec_id LIMIT 16),
         |scores AS (
         |  SELECT k.vec_id AS cid, c.cent_id,
         |    list_sum(list_transform(list_zip(k.qv, c.cent_v),
         |      z -> z[1] * z[2])) AS cscore
         |  FROM kept k CROSS JOIN cents c),
         |best AS (
         |  SELECT cid, cent_id, row_number() OVER (
         |    PARTITION BY cid ORDER BY cscore DESC, cent_id) AS crank
         |  FROM scores)
         |SELECT cent_id, count(*) AS n_vectors, min(cid) AS min_vec
         |FROM best WHERE crank = 1
         |GROUP BY cent_id ORDER BY cent_id""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin,

    // sliding 1h/30m windows: each event's two covering window starts are
    // the 30-minute floor of ts and that floor minus 30 minutes (µs math —
    // Spark's window() is epoch-aligned, as is integer floor division)
    "q_event_sliding" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |           FROM events),
        |b AS (SELECT *, (epoch_us(ts) // 1800000000) * 1800000000 AS s1
        |      FROM e),
        |w AS (SELECT event_type, value,
        |        unnest([s1, s1 - 1800000000]) AS ws FROM b)
        |SELECT make_timestamp(ws) AS w_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "q_join_range" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('low', 0.0, 100000.0),
        |  ('mid', 100000.0, 250000.0),
        |  ('high', 250000.0, 1000000000.0))
        |SELECT band, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_quantity, 0.25) * 1e6 + 0.5) / 1e6 AS p25,
        |  floor(quantile_cont(l_quantity, 0.5) * 1e6 + 0.5) / 1e6 AS p50,
        |  floor(quantile_cont(l_quantity, 0.75) * 1e6 + 0.5) / 1e6 AS p75,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the sketch queries are gated on the ERROR BOUND, which is engine-
    // portable even though the sketch estimates are not: the Spark side
    // computes approx and exact in one job and emits exact + a bound
    // verdict; the oracle recomputes exact and asserts the verdict TRUE
    "q_approx_distinct" ->
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS exact_customers,
        |  count(*) AS n_orders, TRUE AS approx_ok
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_hll_merge" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS exact_suppliers,
        |  count(*) AS n, TRUE AS merge_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_approx_percentile" ->
      """SELECT l_returnflag, count(*) AS n,
        |  TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_simsearch_cosine" ->
      """SELECT vec_id AS qid, TRUE AS rank_agree_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,

    "q_editdist" ->
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 200)
        |SELECT a.p_partkey AS k1, b.p_partkey AS k2,
        |  a.p_name AS name1, b.p_name AS name2,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY k1, k2""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_exists" -> existsSql,
    "q_not_in" -> notInSql,
    "q_scalar_subq" -> scalarSubqSql,

    "q_join_cross" ->
      """SELECT r_regionkey, n_nationkey,
        |  n_regionkey = r_regionkey AS is_home
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,

    "q_agg_filter" ->
      """SELECT o_orderpriority,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // 3-way UNION ALL is the engine-portable unpivot spelling
    "q_unpivot" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |    l_discount
        |  FROM lineitem WHERE l_orderkey <= 1000)
        |SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    'l_quantity' AS metric, l_quantity AS value FROM base
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber,
        |    'l_extendedprice', l_extendedprice FROM base
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber,
        |    'l_discount', l_discount FROM base) u
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin,

    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor(l_extendedprice * l_discount * 100 + 0.5) / 100 AS disc_amt,
        |  floor(sqrt(l_quantity) * 1000000 + 0.5) / 1000000 AS q_sqrt,
        |  CAST(ceil(l_discount * 100) AS BIGINT) AS d_ceil,
        |  CAST(floor(l_tax * 100) AS BIGINT) AS t_floor,
        |  CAST(sign(l_discount - 0.05) AS INT) AS sgn,
        |  greatest(l_quantity, l_tax * 100) AS g
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  l_discount, l_tax""".stripMargin
  )
}
