package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RelationBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.functions.VectorFunctions._
import graft.plans.{LongArrayDot, TopKPairsBuffer}

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * streams the corpus — one pass, no corpus shuffle, a bounded top-k per
  * query inside each task and one merge on the driver ([[mergedTopK]],
  * the kernel every ranked path shares). The IVF path adds a coarse
  * quantizer: vectors are assigned to their nearest centroid once
  * (clustered write at 100 TB), and a query probes only `nprobe` cells —
  * corpus scan cost drops by ~nlist/nprobe.
  *
  * Similarity metric for oracle-checked paths is the integer-quantized dot
  * product — engine-portable, rank-stable, and evaluated by the codegen'd
  * LongArrayDot expression over arrays quantized ONCE per vector (before
  * any join, so the exchange materializes them). Double cosine is the
  * production metric.
  */
object Similarity {

  private def prepQ(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("qid"),
      quantize(col("embedding")).as("qv"))

  private def prepC(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("cid"),
      quantize(col("embedding")).as("cv"))

  /** Brute-force top-k by quantized dot product. `queries` is expected to
    * be small (broadcast); ranking ties break by corpus vec_id. Eager:
    * see [[mergedTopK]].
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    dotTopK(prepQ(queries), prepC(corpus), k)

  /** Brute-force top-k by double cosine (production metric, not
    * oracle-checked: float summation order varies across engines).
    * Stays on its window: the shared heap ([[TopKHeaps]]) ranks long
    * scores, and these are doubles.
    */
  def bruteForceTopKCosine(queries: DataFrame, corpus: DataFrame,
                           k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid"))
    c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("score", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("score"))
  }

  /** Deterministic k-means (Lloyd) for IVF centroids, entirely in exact
    * integer arithmetic on quantized vectors:
    *   - init: the nlist lowest-vec_id corpus vectors;
    *   - assign: argmin L2 == argmin(|c|^2 - 2<v,c>) via LongArrayDot,
    *     ties to the lower cent_id;
    *   - update: element-wise integer mean (truncating (toward-zero) division).
    * No randomness, no floats — same centroids on every run/engine.
    * Returns (cent_id, cent_v: array<long>).
    */
  def trainCentroids(corpus: DataFrame, nlist: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qcorpus = prepC(corpus)
    var cents = corpus.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cent_id"),
        quantize(col("embedding")).as("cent_v"))
    for (_ <- 0 until iters) {
      // argmin ties to the lower cent_id. The row_number window is the
      // MEASURED winner for this assignment, not an oversight: at 200k
      // vectors × 448 centroids (sf10, PLANS.md r8) the n×nlist
      // distance stream through a per-vector sort beats every
      // aggregation rewrite tried — min(struct) carrying the vector
      // 2.2x slower (array in the agg buffer), the lean split
      // (aggregate (dist2c, cent_id) only + n-row join back) 2.1x,
      // even with the ObjectHashAggregate sort-fallback threshold
      // raised (1.6x). The codegen'd sort of 24-byte rows outruns
      // object-agg per-row overhead at every measured scale.
      val wAssign = Window.partitionBy(col("cid"))
        .orderBy(col("dist2c").asc, col("cent_id"))
      val assigned = qcorpus.crossJoin(broadcast(cents))
        .withColumn("dist2c",
          LongArrayDot(col("cent_v"), col("cent_v")) -
            lit(2L) * LongArrayDot(col("cv"), col("cent_v")))
        .withColumn("crank", row_number().over(wAssign))
        .filter(col("crank") === 1)
      val updated = assigned
        .select(col("cent_id"), posexplode(col("cv")).as(Seq("pos", "q")))
        .groupBy(col("cent_id"), col("pos"))
        // truncating (toward-zero) division keeps the mean integral and deterministic
        .agg((sum(col("q")) / count(lit(1))).cast("long").as("m"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cent_id"),
          expr("transform(pm, x -> x.m)").as("cent_v"))
      // empty cells keep their previous centroid
      val kept = cents.join(updated, Seq("cent_id"), "left_anti")
      cents = updated.unionByName(kept).localCheckpoint(eager = true)
    }
    cents
  }

  /** IVF (inverted-file) top-k: deterministic coarse quantizer.
    *
    * Centroids: trained via `trainCentroids` when provided, else the
    * `nlist` lowest-vec_id corpus vectors (the index/search mechanics are
    * identical either way). Every corpus vector is assigned to its
    * nearest centroid by quantized dot; a query probes the `nprobe`
    * nearest cells and ranks only vectors in those cells. The centroids
    * are collected once and serve both the assignment (as a local
    * frame) and the driver-side probe, so both see the same quantizer.
    * Eager, like [[ivfTopKIndexed]]: see [[ivfSearch]].
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              centroids: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    val centFrame = centroids.getOrElse(defaultCentroids(corpus, nlist))
      .select(col("cent_id"), col("cent_v"))
    val cents = RelationBridge.collectInternal(centFrame)
    val assigned = assignToCells(corpus,
      RelationBridge.localDf(spark, centFrame.schema, cents.toSeq))
    ivfSearch(queries, cents, k, nprobe)(probed =>
      Some(assigned.filter(col("cent_id").isin(probed: _*))))
  }

  /** The deterministic no-training coarse quantizer (the `nlist`
    * lowest-vec_id corpus vectors) — shared by the inline and the
    * persisted-index build paths.
    */
  private def defaultCentroids(corpus: DataFrame, nlist: Int): DataFrame =
    corpus.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cent_id"),
        quantize(col("embedding")).as("cent_v"))

  /** Nearest-centroid assignment per corpus vector (one broadcast
    * pass) — the IVF cell map.
    */
  private def assignToCells(corpus: DataFrame,
                            cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("cid"))
      .orderBy(col("cscore").desc, col("cent_id"))
    prepC(corpus)
      .crossJoin(broadcast(cents))
      .withColumn("cscore", LongArrayDot(col("cv"), col("cent_v")))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .select(col("cid"), col("cv"), col("cent_id"))
  }

  private val CentroidSchema = StructType.fromDDL("cent_id long, cent_v array<long>")
  private val AssignedSchema =
    StructType.fromDDL("cid long, cv array<long>, cent_id long")
  private val TopKSchema = StructType(Seq(StructField("qid", LongType),
    StructField("rnk", IntegerType, nullable = false),
    StructField("cid", LongType), StructField("score", LongType)))
  private val CodebookSchema =
    StructType.fromDDL("s int, code_id long, cent array<long>")
  private val PqCodesSchema = StructType.fromDDL("cid long, s int, code_id long")
  private val SqStatsSchema = StructType.fromDDL("d int, lo long, hi long")
  private val SqCodesSchema = StructType.fromDDL("cid long, codes array<long>")

  /** An index artifact (`centroids`, `codebook`, `stats`, `codes`),
    * read with its declared schema: no schema-inference job.
    */
  private def readIndex(spark: SparkSession, indexPath: String, name: String,
                        schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$indexPath/$name")

  /** The IVF search kernel shared by [[ivfTopK]] and
    * [[ivfTopKIndexed]]:
    *
    *  1. probe, on the driver: each collected query (qid, qv) scores the
    *     `cents` rows (cent_id, cent_v) with LongArrayDot's arithmetic;
    *     each qid keeps its first `nprobe` (row, cell) pairs by pscore
    *     desc (NULL last), then cent_id;
    *  2. scan: `cells(probed)` is the (cid, cv, cent_id) cell map cut to
    *     the probed cells (None when none of them holds a vector); ONE
    *     [[mergedTopK]] job over it scores each cell's vectors against
    *     the query rows probing that cell.
    *
    * Queries are broadcast-sized (they are collected; a local frame
    * collects without a job). Eager: the scan runs on call and the
    * result is a local frame (qid, rnk, cid, score).
    */
  private def ivfSearch(queries: DataFrame, cents: Array[InternalRow],
                        k: Int, nprobe: Int)
                       (cells: Seq[Long] => Option[DataFrame]): DataFrame = {
    val qs = RelationBridge.collectInternal(prepQ(queries))
      .filterNot(_.isNullAt(0))
    val qid = qs.map(_.getLong(0))
    val qv = qs.map(vec)
    val cv = cents.map(vec)
    val centIds = cents.map(r => Option.when(!r.isNullAt(0))(r.getLong(0)))
    // cell -> the query rows probing it. The rows of one qid share its
    // `nprobe` slots; a NULL cent_id keeps its slot but matches no cell.
    val byCell = scala.collection.mutable.HashMap.empty[Long, Array[Int]]
    for (rowsOfQid <- qs.indices.groupBy(qid).values) {
      val pairs = for (q <- rowsOfQid; c <- cv.indices)
        yield (dot(qv(q), cv(c)), centIds(c), q)
      pairs.sortBy(p => (p._1, p._2))(ProbeOrder).take(nprobe).foreach {
        case (_, id, q) =>
          id.foreach(c => byCell(c) = byCell.getOrElse(c, Array.empty[Int]) :+ q)
      }
    }
    val cellQs = byCell.toMap
    val scan =
      if (k >= 1 && byCell.nonEmpty) cells(byCell.keys.toSeq.sorted)
      else None
    mergedTopK(queries.sparkSession, k,
        scan.map(_.select(col("cid"), col("cv"), col("cent_id")))) { (r, heaps) =>
      if (!r.isNullAt(0) && !r.isNullAt(2))
        cellQs.get(r.getLong(2)).foreach { probing =>
          val cid = r.getLong(0)
          val v = vec(r)
          probing.foreach(q => heaps.insert(qid(q), cid, dot(qv(q), v)))
        }
    }
  }

  /** Probe order: pscore desc with NULL last, then cent_id asc with
    * NULL first (Spark's defaults) — compared, never negated, since
    * `-Long.MinValue` overflows.
    */
  private val ProbeOrder: Ordering[(Option[Long], Option[Long])] =
    Ordering.Tuple2(Ordering.Option(Ordering.Long).reverse,
      Ordering.Option(Ordering.Long))

  /** Column 1 (qv, cent_v or cv) as longs; null when NULL. */
  private def vec(r: InternalRow): Array[Long] =
    if (r.isNullAt(1)) null else r.getArray(1).toLongArray()

  /** LongArrayDot's arithmetic: the shorter side bounds the loop, long
    * sums wrap; None when either side is NULL.
    */
  private def dot(a: Array[Long], b: Array[Long]): Option[Long] =
    Option.when(a != null && b != null) {
      var s = 0L; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

  /** The top-k kernel of the similarity family — top-k inside each
    * partition, one global merge (REPOSE, ICDE 2021). Every task of
    * `rows` hands its rows to `feed`, which inserts (qid, cid, score)
    * candidates into the task's [[TopKHeaps]]; the driver merges the
    * task heaps. Returns (qid, rnk, cid, score), rnk 1..k per qid, in
    * the order of `row_number() over (partition by qid order by score
    * desc, cid)` with `qid == cid` skipped.
    *
    * Eager: one job on call, none when `k < 1` or `rows` is None, and
    * the result is a local frame. A task holds k entries per qid it
    * sees, so the query side must stay driver-sized.
    */
  private def mergedTopK(spark: SparkSession, k: Int, rows: Option[DataFrame],
                         distinctIds: Boolean = false)
                        (feed: (InternalRow, TopKHeaps) => Unit): DataFrame = {
    val heaps = new TopKHeaps(k, distinctIds)
    if (k >= 1) rows.foreach(_.queryExecution.toRdd.mapPartitions { it =>
      val local = new TopKHeaps(k, distinctIds)
      it.foreach(feed(_, local))
      Iterator.single(local)
    }.collect().foreach(heaps.merge))
    RelationBridge.localDf(spark, TopKSchema, heaps.ranked)
  }

  /** [[mergedTopK]] over (qid, cid, score) candidate rows; rows with a
    * NULL qid or cid drop, as a `qid =!= cid` filter drops them.
    */
  private def topK(candidates: DataFrame, k: Int,
                   distinctIds: Boolean = false): DataFrame =
    mergedTopK(candidates.sparkSession, k,
        Some(candidates.select(col("qid"), col("cid"), col("score"))),
        distinctIds) { (r, heaps) =>
      if (!r.isNullAt(0) && !r.isNullAt(1))
        heaps.insert(r.getLong(0), r.getLong(1),
          Option.unless(r.isNullAt(2))(r.getLong(2)))
    }

  /** [[topK]] by LongArrayDot(qv, cv) over every pair of a (qid, qv)
    * query and a (cid, cv) corpus row: the corpus streams once past
    * the broadcast queries.
    */
  private def dotTopK(q: DataFrame, c: DataFrame, k: Int): DataFrame =
    topK(c.crossJoin(broadcast(q)).select(col("qid"), col("cid"),
      LongArrayDot(col("qv"), col("cv")).as("score")), k)

  /** Bounded top-k per qid, skipping qid == cid: scored candidates by
    * (score desc, cid), and NULL-scored ones (a NULL vector on either
    * side) by cid alone — those rank after every scored one, as
    * `score DESC NULLS LAST` does. Rows that repeat a qid share its
    * heaps; with `distinctIds` a (qid, cid) keeps only its better copy.
    * A qid's buffers are built on its first candidate.
    */
  private final class TopKHeaps(k: Int, distinctIds: Boolean)
      extends Serializable {
    private type Heaps = scala.collection.mutable.HashMap[Long, TopKPairsBuffer]
    private val scored, unscored: Heaps = new Heaps

    private def heap(m: Heaps, qid: Long): TopKPairsBuffer =
      m.getOrElseUpdate(qid, new TopKPairsBuffer(k))

    def insert(qid: Long, cid: Long, score: Option[Long]): Unit =
      if (qid != cid) score match {
        case Some(s) => heap(scored, qid).insert(s, cid, distinctIds)
        case None => heap(unscored, qid).insert(0L, cid, distinctIds)
      }

    def merge(o: TopKHeaps): Unit =
      for ((from, to) <- Seq(o.scored -> scored, o.unscored -> unscored);
           (qid, b) <- from; i <- 0 until b.n)
        heap(to, qid).insert(b.scores(i), b.ids(i), distinctIds)

    /** (qid, rnk, cid, score) rows by qid, then rnk 1..k. */
    def ranked: Seq[InternalRow] =
      (scored.keySet ++ unscored.keySet).toSeq.sorted.flatMap { qid =>
        def entries(m: Heaps, score: Long => Any) = m.get(qid).toSeq
          .flatMap(b => (0 until b.n).map(i => (b.ids(i), score(b.scores(i)))))
        (entries(scored, s => s) ++ entries(unscored, _ => null)).take(k)
          .zipWithIndex.map { case ((cid, score), i) =>
            InternalRow(qid, i + 1, cid, score)
          }
      }
  }

  /** Build a PERSISTED IVF index — the production build-once /
    * query-many split (faiss's train+add vs search; the round-10
    * verdict's top gap). One index-build job writes
    *
    *   - `indexPath/centroids/` — the coarse quantizer (cent_id,
    *     cent_v), `nlist` rows;
    *   - `indexPath/assigned/`  — every corpus vector's cell
    *     (cid, cv, cent_id), hive-PARTITIONED by cent_id so a query
    *     reads only its probed cells' directories (at 100 TB a query
    *     touches nprobe/nlist of the corpus files, not all of them);
    *
    * and query jobs [[ivfTopKIndexed]] LOAD it — no k-means, no
    * assignment pass, no corpus-wide anything at query time. Centroids
    * default to the deterministic lowest-vec_id rule; pass
    * `trainIters > 0` for Lloyd-trained cells ([[trainCentroids]] —
    * same downstream mechanics). The assignment reads the centroid
    * ARTIFACT back rather than the in-memory frame, so the stored
    * cells always match what a later query job will load.
    */
  def buildIvfIndex(corpus: DataFrame, indexPath: String,
                    nlist: Int = 16, trainIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val cents =
      if (trainIters > 0) trainCentroids(corpus, nlist, trainIters)
      else defaultCentroids(corpus, nlist)
    // nlist rows: one file is the right layout for a driver-side load
    cents.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/centroids")
    assignToCells(corpus, readIndex(spark, indexPath, "centroids", CentroidSchema))
      .transform(graft.engine.Spread.byKey(_, col("cent_id")))
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$indexPath/assigned")
  }

  /** Incremental maintenance for a persisted IVF index: production
    * corpora APPEND — rebuilding the whole index per daily shard is the
    * O(corpus) cost the build-once split exists to avoid. New vectors
    * are assigned against the FROZEN stored centroids (the
    * `semanticDedupWith` frozen-quantizer device applied to the index
    * artifact) and their cells append to the partitioned assignment
    * table — cost is O(new shard), the existing cell files are never
    * rewritten, and cell directories only gain files (a query lists
    * `assigned/` on every call, so the next query sees them).
    *
    * The law (SimilaritySpec): ivfTopKIndexed over build(A) +
    * append(B) ≡ ivfTopK inline over A ∪ B with the same centroids —
    * exact equality, because assignment is deterministic per vector
    * given frozen centroids.
    */
  def appendToIvfIndex(newVectors: DataFrame, indexPath: String): Unit =
    assignToCells(newVectors, readIndex(newVectors.sparkSession, indexPath,
        "centroids", CentroidSchema))
      .transform(graft.engine.Spread.byKey(_, col("cent_id")))
      .write.mode("append").partitionBy("cent_id")
      .parquet(s"$indexPath/assigned")

  /** IVF top-k against a PERSISTED index ([[buildIvfIndex]]), through
    * the SAME kernel as the inline path — results are identical by
    * construction (the oracle-gated law: q_simsearch_ivf_idx shares
    * q_simsearch_ivf's oracle). Every call reads `centroids/` with its
    * declared schema and makes one listing of `assigned/`, so appends
    * and rebuilds are always seen (no handle, no cache). The scan reads
    * only the probed `cent_id=N` directories that exist — directories,
    * not files, so the scan's own listing stays on the driver — with no
    * partition discovery of the whole tree. Two jobs per call for a
    * local query frame: the centroid read and the scan. No quantizer
    * training, no assignment pass (PlanShapeSpec-pinned).
    */
  def ivfTopKIndexed(queries: DataFrame, indexPath: String, k: Int,
                     nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cents = RelationBridge.collectInternal(
      readIndex(spark, indexPath, "centroids", CentroidSchema))
    ivfSearch(queries, cents, k, nprobe) { probed =>
      val root = new Path(s"$indexPath/assigned")
      val present = root.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(root).map(_.getPath.getName).toSet
      val dirs = probed.map(c => s"cent_id=$c").filter(present)
      Option.when(dirs.nonEmpty)(spark.read.schema(AssignedSchema)
        .option("basePath", root.toString)
        .parquet(dirs.map(d => s"$root/$d"): _*))
    }
  }

  /** Product-quantization (PQ) top-k with asymmetric-distance scoring
    * (Jegou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011 — ADC = their asymmetric distance computation).
    *
    * The third ANN scale path (after IVF and LSH): corpus vectors are
    * compressed to `subspaces` one-byte codes — vector `v` is split into
    * `subspaces` sub-vectors, each encoded as the id of its nearest
    * codebook centroid in that subspace — and queries score candidates
    * through a per-query lookup table (ADC) without ever touching the
    * original corpus floats. At 100 TB the corpus shrinks ~dim*4/subspaces
    * fold (here 64 floats -> 8 codes), the code table becomes the only
    * thing scanned at query time, and the LUT join is a broadcast (the
    * LUT is queries x subspaces x nCodes rows, constant in corpus size).
    *
    * Everything is exact integer arithmetic on quantized vectors (same
    * policy as the rest of this file), so encoding and ADC scores are
    * engine-portable:
    *   - codebook: per subspace, the sub-vectors of the `nCodes`
    *     lowest-vec_id corpus vectors (deterministic; swap in per-subspace
    *     Lloyd training in production — the index/search mechanics are
    *     identical);
    *   - encode: argmin_c ||v_s - c||^2 = argmin_c (|c|^2 - 2<v_s, c>),
    *     ties to the lower code id, computed as a min-of-struct
    *     aggregation (no window sort over the corpus);
    *   - score: ADC = sum_s <q_s, cent[code_s]> — the PQ approximation of
    *     <q, v> — summed as exact longs, ranked desc with ties to the
    *     lower corpus id.
    *
    * Eager: the codebook, encode and ADC jobs run on call (see
    * [[mergedTopK]]).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             subspaces: Int = 8, dim: Int = 64,
             nCodes: Int = 16): DataFrame = {
    val codebook = pqCodebook(corpus, subspaces, dim, nCodes)
    pqSearch(queries, codebook, pqEncode(corpus, codebook, subspaces, dim),
      k, subspaces, dim)
  }

  private def subVectors(v: Column, subspaces: Int, dim: Int): Column = {
    val subDim = dim / subspaces
    array((0 until subspaces).map(s =>
      slice(v, s * subDim + 1, subDim)): _*)
  }

  /** PQ codebook: (s, code_id, cent) — nCodes x subspaces tiny rows
    * (sub-vectors of the `nCodes` lowest-vec_id corpus vectors;
    * deterministic — see [[pqTopK]]).
    */
  private def pqCodebook(corpus: DataFrame, subspaces: Int, dim: Int,
                         nCodes: Int): DataFrame = {
    require(dim % subspaces == 0, "dim must split evenly into subspaces")
    corpus.orderBy(col("vec_id")).limit(nCodes)
      .select(col("vec_id").as("code_id"),
        quantize(col("embedding")).as("qv"))
      .select(col("code_id"),
        posexplode(subVectors(col("qv"), subspaces, dim))
          .as(Seq("s", "cent")))
  }

  /** Encode the corpus against a codebook: one broadcast join + one
    * min-of-struct aggregation; the shuffle carries (cid, s, d2, code)
    * — never the vectors themselves. Returns (cid, s, code_id).
    */
  private def pqEncode(corpus: DataFrame, codebook: DataFrame,
                       subspaces: Int, dim: Int): DataFrame = {
    val corpusSub = prepC(corpus).select(col("cid"),
      posexplode(subVectors(col("cv"), subspaces, dim)).as(Seq("s", "sub")))
    corpusSub.join(broadcast(codebook), Seq("s"))
      .withColumn("d2",
        LongArrayDot(col("cent"), col("cent")) -
          lit(2L) * LongArrayDot(col("sub"), col("cent")))
      .groupBy(col("cid"), col("s"))
      .agg(min(struct(col("d2"), col("code_id"))).as("best"))
      .select(col("cid"), col("s"), col("best.code_id").as("code_id"))
  }

  /** The ADC search kernel shared by [[pqTopK]] and [[pqTopKIndexed]]:
    * per-query lookup table against the codebook (broadcast), one scan
    * of the code table — the corpus floats are never touched. The
    * per-(qid, cid) ADC sums feed [[topK]]; eager.
    */
  private def pqSearch(queries: DataFrame, codebook: DataFrame,
                       codes: DataFrame, k: Int, subspaces: Int,
                       dim: Int): DataFrame = {
    // ADC lookup table: per (query, subspace, code) partial dot product
    val lut = prepQ(queries).select(col("qid"),
        posexplode(subVectors(col("qv"), subspaces, dim))
          .as(Seq("s", "qsub")))
      .join(broadcast(codebook), Seq("s"))
      .select(col("qid"), col("s"), col("code_id"),
        LongArrayDot(col("qsub"), col("cent")).as("p"))
    topK(codes.join(broadcast(lut), Seq("s", "code_id"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("p")).as("score")), k)
  }

  /** Build a PERSISTED PQ index — codebook + corpus codes written once
    * ([[buildIvfIndex]]'s sibling for the compressed-corpus path):
    *
    *   - `indexPath/codebook/` — (s, code_id, cent), nCodes x subspaces
    *     rows (broadcast-sized);
    *   - `indexPath/codes/`    — (cid, s, code_id), the ~dim*4/subspaces-
    *     fold-compressed corpus — the ONLY thing a query job scans.
    *
    * The encode pass reads the codebook artifact back so stored codes
    * always match what [[pqTopKIndexed]] will load.
    */
  def buildPqIndex(corpus: DataFrame, indexPath: String,
                   subspaces: Int = 8, dim: Int = 64,
                   nCodes: Int = 16): Unit = {
    pqCodebook(corpus, subspaces, dim, nCodes)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/codebook")
    writePqCodes(corpus, indexPath, subspaces, dim, "overwrite")
  }

  /** Encode `vectors` against the stored codebook into `codes/`. */
  private def writePqCodes(vectors: DataFrame, indexPath: String,
                           subspaces: Int, dim: Int, mode: String): Unit =
    pqEncode(vectors, readIndex(vectors.sparkSession, indexPath, "codebook",
        CodebookSchema), subspaces, dim)
      .write.mode(mode).parquet(s"$indexPath/codes")

  /** Incremental maintenance for a persisted PQ index
    * ([[appendToIvfIndex]]'s sibling): new vectors are encoded against
    * the FROZEN stored codebook and their codes append to the code
    * table — O(new shard), the existing ~8x-compressed codes are never
    * rewritten. Encoding is deterministic per vector given the
    * codebook, so build(A) + append(B) produces code-table content
    * identical to build(A ∪ B) whenever the codebook agrees (default
    * codebook = the nCodes lowest-vec_id vectors: keep those in the
    * build shard) — SimilaritySpec law.
    */
  def appendToPqIndex(newVectors: DataFrame, indexPath: String,
                      subspaces: Int = 8, dim: Int = 64): Unit =
    writePqCodes(newVectors, indexPath, subspaces, dim, "append")

  /** PQ top-k against a persisted index ([[buildPqIndex]]): loads the
    * codebook (broadcast) and code table, runs the SAME ADC kernel as
    * the inline path — no encoding, no corpus floats at query time;
    * shares q_simsearch_pq's oracle. Both artifacts are read with
    * their declared schemas. Eager, like [[pqTopK]].
    */
  def pqTopKIndexed(queries: DataFrame, indexPath: String, k: Int,
                    subspaces: Int = 8, dim: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    pqSearch(queries, readIndex(spark, indexPath, "codebook", CodebookSchema),
      readIndex(spark, indexPath, "codes", PqCodesSchema), k, subspaces, dim)
  }

  /** Scalar-quantization (SQ8) top-k — the OTHER classic compressed-
    * corpus ANN path beside [[pqTopK]] (faiss's SQ8 index family): each
    * dimension is linearly quantized to an 8-bit code against per-dim
    * corpus (min, max), cutting vector memory 8x vs float64 / 4x vs
    * float32 while keeping per-dim resolution (PQ trades resolution
    * for sub-vector sharing instead). Scoring is asymmetric (ADC): the
    * full-precision query dots the DEQUANTIZED corpus codes — here in
    * exact integer arithmetic scaled by 255, so ranks are engine-
    * stable and the oracle replays every code and score.
    *
    * Scale shape: per-dim stats are one explode + a dim-row mergeable
    * (min, max) aggregation (dim rows collected — the centroid-pull
    * precedent); encode + dequantize is a narrow codegen'd map with
    * the stats as array literals; scoring broadcasts the (small) query
    * set and streams the corpus once — no corpus shuffle anywhere.
    * Eager: the stats collect and the scoring job run on call.
    */
  def sqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             dim: Int = 64): DataFrame = {
    val stats = sqStatsLiterals(sqStats(corpus), dim)
    dotTopK(prepQ(queries), prepC(corpus).select(col("cid"),
      sqDequantized(sqCodes(col("cv"), stats), stats).as("cv")), k)
  }

  /** Per-dim (d, lo, hi) of the quantized corpus: one explode and a
    * dim-row (min, max) aggregation.
    */
  private def sqStats(corpus: DataFrame): DataFrame =
    prepC(corpus)
      .select(posexplode(col("cv")).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))

  /** The collected stats as (lo, range) array literals, in `d` order
    * (dim rows, sorted on the driver).
    */
  private def sqStatsLiterals(stats: DataFrame,
                              dim: Int): (Column, Column) = {
    val st = stats.collect().sortBy(_.getInt(0))
    require(st.length == dim, s"expected $dim dims, got ${st.length}")
    val los = st.map(_.getLong(1)).toSeq
    val rans = st.map(r => r.getLong(2) - r.getLong(1)).toSeq
    (typedlit(los), typedlit(rans))
  }

  /** code_d = (v_d - lo_d) * 255 div max(range_d, 1): 8-bit, exact. */
  private def sqCodes(v: Column, stats: (Column, Column)): Column =
    transform(v, (x, i) => {
      val lo = element_at(stats._1, i + 1)
      val ran = element_at(stats._2, i + 1)
      call_function("div", (x - lo) * lit(255L), greatest(ran, lit(1L)))
    })

  /** The dequantized-scaled vector: dv_d = 255·lo_d + code_d·range_d. */
  private def sqDequantized(codes: Column, stats: (Column, Column)): Column =
    transform(codes, (code, i) =>
      lit(255L) * element_at(stats._1, i + 1) +
        code * element_at(stats._2, i + 1))

  /** Build a persisted SQ8 index — per-dim (lo, hi) stats plus the
    * 8-bit code table written once ([[buildIvfIndex]]'s sibling for
    * the scalar-quantized path, completing the indexed trio):
    *
    *   - `indexPath/stats/` — (d, lo, hi), dim rows;
    *   - `indexPath/codes/` — (cid, codes: array of 0..255), the
    *     8x-compressed corpus — the ONLY thing a query job scans.
    *
    * Codes are computed against the stats ARTIFACT read back, so the
    * stored index always matches what [[sqTopKIndexed]] will load.
    */
  def buildSqIndex(corpus: DataFrame, indexPath: String,
                   dim: Int = 64): Unit = {
    sqStats(corpus)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/stats")
    writeSqCodes(corpus, indexPath, dim, "overwrite")
  }

  /** The stored stats as literals: [[sqStatsLiterals]] of `stats/`. */
  private def readSqStats(spark: SparkSession, indexPath: String,
                          dim: Int): (Column, Column) =
    sqStatsLiterals(readIndex(spark, indexPath, "stats", SqStatsSchema), dim)

  /** Code `vectors` against the stored stats into `codes/`. */
  private def writeSqCodes(vectors: DataFrame, indexPath: String, dim: Int,
                           mode: String): Unit = {
    val stats = readSqStats(vectors.sparkSession, indexPath, dim)
    prepC(vectors).select(col("cid"), sqCodes(col("cv"), stats).as("codes"))
      .write.mode(mode).parquet(s"$indexPath/codes")
  }

  /** Incremental maintenance for a persisted SQ8 index: new vectors
    * are coded against the FROZEN per-dim (lo, hi) stats artifact and
    * appended to the code table. The frozen-quantizer contract: codes
    * (and therefore ADC scores) follow the BUILD corpus's ranges —
    * identical to build-at-once exactly when the build shard attains
    * every dimension's extrema ([[sqExtremalIds]] makes that split
    * constructible; SimilaritySpec law), and otherwise still exact
    * integer arithmetic against the stored stats (codes are not
    * clamped, so out-of-range appends degrade resolution, never
    * correctness of the dequantize identity).
    */
  def appendToSqIndex(newVectors: DataFrame, indexPath: String,
                      dim: Int = 64): Unit =
    writeSqCodes(newVectors, indexPath, dim, "append")

  /** vec_ids attaining each dimension's min/max quantized value — the
    * (≤ 2·dim)-row shard that must stay in the BUILD half for a later
    * [[appendToSqIndex]] to be content-identical to build-at-once
    * (frozen stats = union stats). One dim-row aggregation, run once
    * per index build job.
    */
  def sqExtremalIds(corpus: DataFrame): Seq[Long] =
    prepC(corpus)
      .select(col("cid"), posexplode(col("cv")).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(min(struct(col("v"), col("cid"))).as("lo"),
        max(struct(col("v"), col("cid"))).as("hi"))
      .select(col("lo.cid").as("a"), col("hi.cid").as("b"))
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .distinct.sorted.toSeq

  /** SQ8 top-k against a persisted index ([[buildSqIndex]]): loads the
    * dim-row stats (plan literals) and the code table, both with their
    * declared schemas, dequantizes dv_d = 255·lo_d + code_d·range_d —
    * the identical arithmetic the inline [[sqTopK]] applies — and
    * ADC-scores a broadcast query set in one pass over the codes.
    * Corpus floats are never read at query time; shares
    * q_simsearch_sq's oracle. Eager: see [[mergedTopK]].
    */
  def sqTopKIndexed(queries: DataFrame, indexPath: String, k: Int,
                    dim: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    val stats = readSqStats(spark, indexPath, dim)
    dotTopK(prepQ(queries), readIndex(spark, indexPath, "codes", SqCodesSchema)
      .select(col("cid"), sqDequantized(col("codes"), stats).as("cv")), k)
  }

  /** k-NN graph construction: every corpus vector's top-k neighbors —
    * the precursor to semantic dedup and clustering. Candidates come
    * from an LSH bucket SELF-join (`Dedup.bandCandidatePairs`: one
    * shuffle by (band, key), in-bucket enumeration), NOT from
    * `lshTopK(corpus, corpus)` — that path broadcasts the query side,
    * which is the whole corpus here. Survivors rank by exact quantized
    * dot with ties to the lower neighbor id; vectors sharing no bucket
    * with k others emit fewer than k edges (standard LSH recall
    * trade-off).
    */
  def knnGraph(corpus: DataFrame, k: Int, bits: Int = 0, bands: Int = 4,
               dim: Int = 64, n: Long = -1L): DataFrame = {
    import graft.functions.VectorFunctions.{lshBandKeys, autoBits}
    // bits = 0 (the default) = data-sized banding (cf.
    // Dedup.lshCosinePairs): fixed bits makes the candidate stream
    // ~n²/2^(bits/bands); autoBits keeps it ~n·targetBucket. One count
    // (hint > stats > count() — Dedup.corpusCount) feeds both the
    // banding and the broadcast-budget check.
    val nRows = Dedup.corpusCount(corpus, n)
    val sizedBits =
      if (bits > 0) bits else autoBits(nRows, bands = bands)
    val broadcastable = Dedup.broadcastableVectors(nRows, dim)
    // memo barrier: quantized vectors + band keys feed the banding and
    // both sides of the scoring join. localCheckpoint on the broadcast
    // arm keeps the 100M+-row candidate probe pipeline free of the
    // scan→quantize→explode chain (cf. Dedup.lshCosinePairs — measured
    // 3x there)
    val prep0 = prepC(corpus)
      .withColumn("bks", array(lshBandKeys(col("cv"), sizedBits, bands, dim): _*))
      .transform(graft.engine.Spread.byKey(_, col("cid")))
    val prep = if (broadcastable) prep0.localCheckpoint(true) else prep0
    val banded0 = prep.select(col("cid"),
      posexplode(col("bks")).as(Seq("band", "bk")))
    val banded = if (broadcastable) banded0.localCheckpoint(true) else banded0
    // ranking needs DISTINCT edges (a duplicate (qid,cid) would occupy
    // two ranks), so the candidate dedup stays — but it runs on slim
    // 16-byte id pairs. The scoring joins broadcast the ~10 MB vector
    // table when it fits, so the (2·candidates)-row edge stream never
    // shuffles 64-long arrays (at sf1 that array traffic was ~100 GB
    // and the query took 331 s); the cluster-scale fallback keeps the
    // shuffle joins.
    // no pre-dedup of the 120M-row candidate stream: duplicate
    // (qid,cid) edges (pairs sharing several bands) are absorbed by the
    // id-distinct top-k aggregator below, whose buffer-membership check
    // replaces a corpus-wide distinct shuffle
    val undirected = Dedup.bandCandidatePairsJoin(banded, "cid", "a", "b",
      dedup = false)
    val edges = undirected.unionAll(
      undirected.select(col("b").as("a"), col("a").as("b")))
    val aSide = prep.select(col("cid").as("a"), col("cv").as("qv"))
    val bSide = prep.select(col("cid").as("b"), col("cv"))
    val scored =
      (if (broadcastable)
        edges.join(broadcast(aSide), Seq("a"))
          .join(broadcast(bSide), Seq("b"))
      else edges.join(aSide, Seq("a")).join(bSide, Seq("b")))
      .select(col("a").as("qid"), col("b").as("cid"),
        LongArrayDot(col("qv"), col("cv")).as("score"))
    // Two-phase top-k per query — never a window (which shuffles and
    // sorts every scored edge: 241M rows at sf1, a measured 99 s), and
    // never a single ObjectHashAggregate over the full stream (its
    // 128-group sort-based fallback re-sorts the input; raising the
    // threshold instead regresses every high-cardinality collect_list
    // agg in the engine).
    //   Phase A: per-PARTITION local top-k in the kernel's TopKHeaps
    //   (mapPartitions; n_vectors × (k+1) longs of state), emitting
    //   ≤ k rows per query per partition — the map-side combine,
    //   hand-rolled to stay off the object-agg fallback path. Phase A
    //   is not mergedTopK: the queries are the whole corpus, so the
    //   merge must stay distributed.
    //   Phase B: the native TopKPairsAgg merges the ≤ k·partitions
    //   rows per query; distinctIds absorbs duplicate candidate edges
    //   in both phases in place of a corpus-wide dropDuplicates.
    // Ties match the window form (score desc, cid asc).
    val spark2 = corpus.sparkSession
    import spark2.implicits._
    val reduced = scored.as[(Long, Long, Long)].mapPartitions { it =>
      val heaps = new TopKHeaps(k, distinctIds = true)
      it.foreach { case (qid, cid, score) => heaps.insert(qid, cid, Some(score)) }
      heaps.ranked.iterator.map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    }.toDF("qid", "cid", "score")
    reduced.groupBy(col("qid"))
      .agg(graft.plans.TopKPairsAgg(col("score"), col("cid"), k,
        distinctIds = true).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "sc")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rnk"),
        col("sc.id").as("cid"), col("sc.score").as("score"))
  }

  /** LSH-bucketed top-k: the bucketed alternative to IVF when no trained
    * quantizer exists. Corpus and queries get random-hyperplane band
    * signatures (same deterministic family as `Dedup.lshCosinePairs`);
    * a query ranks only corpus vectors sharing at least one band key.
    *
    * Scale shape: candidate generation joins on (band, key) — constant
    * bytes per vector shuffled, no corpus cross join. Recall is tuned by
    * bands × (bits/band); ranking of survivors is exact quantized dot,
    * so precision within the candidate set is exact. Queries that share
    * no bucket with k others return fewer than k rows (standard ANN
    * recall trade-off, documented at the call site). A pair sharing
    * several bands is one candidate: the heap keeps one copy per
    * (qid, cid), the better one, in place of a dedup shuffle. Eager:
    * see [[mergedTopK]].
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bits: Int = 12, bands: Int = 4, dim: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions.lshBandKeys
    def banded(prepped: DataFrame, id: String, v: String): DataFrame =
      prepped
        .withColumn("bks", array(lshBandKeys(col(v), bits, bands, dim): _*))
        .select(col(id), col(v), posexplode(col("bks")).as(Seq("band", "bk")))
    // queries are few: broadcast their banded signatures; the corpus side
    // streams — the join shuffles nothing corpus-sized
    val qb = banded(prepQ(queries), "qid", "qv")
    val cb = banded(prepC(corpus), "cid", "cv")
    topK(cb.join(broadcast(qb), Seq("band", "bk")).select(col("qid"),
      col("cid"), LongArrayDot(col("qv"), col("cv")).as("score")),
      k, distinctIds = true)
  }

  /** k-Center greedy (farthest-point) selection — the classic 2-approx
    * coreset / diversity-sampling traversal (Gonzalez 1985; the
    * "k-center" selection baseline of the data-pruning literature):
    * start from the lowest-vec_id vector, then k-1 times pick the
    * vector farthest from everything chosen so far.
    *
    * Exact and deterministic like [[trainCentroids]]: quantized integer
    * vectors, full L2² = |x|² + |c|² - 2<x,c> in long arithmetic
    * (the |x|² term matters here — the argMAX ranges over x, so it is
    * not a constant the way it is in the assignment argmin), distance
    * ties broken to the lower vec_id.
    *
    * Scale shape: the running min-distance column is UPDATED
    * incrementally — each iteration folds only the ONE new center in
    * (`least(d2min, dist2(new))`, a broadcast of a single row) and
    * re-checkpoints, so the whole traversal is k linear passes, not
    * k·|chosen| distance evaluations. The per-iteration argmax is a
    * TakeOrderedAndProject (distributed 1-heap) + 1-row collect. At
    * 100 TB this selects a k ~ 10³-10⁴ coreset in k scan-rate jobs;
    * for k beyond that, swap in the two-level quantizer as a coarse
    * pre-filter (the `semanticDedup` regime lesson).
    *
    * Returns (sel_order, vec_id, radius2): radius2 is the chosen
    * vector's min-distance² at selection time (= the coverage radius
    * achieved by the previous prefix; 0 for the seed). radius2 is
    * non-increasing in sel_order — the standard k-center certificate.
    */
  /** Hard-negative mining — the contrastive-training data op: for each
    * anchor, the k most-SIMILAR corpus vectors with a DIFFERENT label
    * (near the anchor in embedding space but semantically wrong — the
    * negatives that actually move a contrastive loss; random negatives
    * are trivially separable). Same one-pass broadcast plan as
    * [[bruteForceTopK]] with the label disagreement folded into the
    * pre-ranking filter, so rejected candidates never enter the top-k
    * heap. Returns (qid, rnk, cid, score, neg_label).
    *
    * Eager top-k (see [[mergedTopK]]); `neg_label` joins back from the
    * corpus against a broadcast of the ≤ nq·k kept rows when the
    * result is read, so corpus vec_ids must be unique.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"),
      quantize(col("embedding")).as("qv"), col("label").as("qlab"))
    val c = corpus.select(col("vec_id").as("cid"),
      quantize(col("embedding")).as("cv"), col("label").as("clab"))
    val top = topK(c.crossJoin(broadcast(q))
      .filter(col("clab") =!= col("qlab"))
      .select(col("qid"), col("cid"),
        LongArrayDot(col("qv"), col("cv")).as("score")), k)
    corpus.select(col("vec_id").as("cid"), col("label").as("neg_label"))
      .join(broadcast(top), Seq("cid"))
      .select(col("qid"), col("rnk"), col("cid"), col("score"),
        col("neg_label"))
  }

  /** Deterministic ±1 sign matrix for [[randomProject]]: entry (j, d)
    * comes from the cross-engine stableHash60 of "rp#j#d", so the
    * oracle regenerates the SAME matrix from the hashSql fragment —
    * no seed state, no RNG, identical on every run/engine.
    */
  def rpSigns(outDim: Int, inDim: Int): Array[Array[Long]] =
    Array.tabulate(outDim)(j => Array.tabulate(inDim)(d =>
      if (graft.functions.StableHash.stableHash60Local(s"rp#$j#$d") % 2 == 0)
        1L
      else -1L))

  /** Johnson–Lindenstrauss sign random projection (Achlioptas 2001:
    * ±1 entries suffice): maps each quantized embedding to `outDim`
    * exact-integer coordinates, one codegen'd [[LongArrayDot]] against
    * a LITERAL sign row per output dim — a narrow per-row map, no
    * shuffle, no stored projection matrix (it regenerates from the
    * hash anywhere).
    *
    * The 100 TB story: at outDim = 16 every downstream ANN/dedup pass
    * over the projected table reads and dots 1/4 of the bytes; linear
    * maps preserve near-duplicate structure exactly (copies collide,
    * scalings scale), which is what the dedup family needs from it.
    * Returns (vec_id, pv: array<long>).
    */
  def randomProject(corpus: DataFrame, outDim: Int,
                    inDim: Int = 64): DataFrame = {
    require(outDim >= 1 && inDim >= 1)
    val signs = rpSigns(outDim, inDim)
    corpus.select(col("vec_id"),
      array(signs.map(s =>
        LongArrayDot(quantize(col("embedding")), lit(s))): _*).as("pv"))
  }

  /** Brute-force top-k in the PROJECTED space — the cheap first stage
    * of a project-then-rerank pipeline (rerank survivors with full
    * vectors as needed). Same plan shape as [[bruteForceTopK]]; ties
    * break by corpus vec_id. Eager: see [[mergedTopK]].
    */
  def rpTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             outDim: Int, inDim: Int = 64): DataFrame =
    dotTopK(randomProject(queries, outDim, inDim)
        .select(col("vec_id").as("qid"), col("pv").as("qv")),
      randomProject(corpus, outDim, inDim)
        .select(col("vec_id").as("cid"), col("pv").as("cv")), k)

  /** The production two-stage ANN shape composed from
    * [[randomProject]]: rank in the CHEAP projected space (outDim ints
    * per vector, 1/4 the bytes at 64→16), keep a `pool`-sized
    * shortlist per query, then re-rank ONLY the shortlist with full
    * quantized vectors. Both stages are deterministic integer
    * arithmetic, so the whole cascade — including which candidates the
    * projection admits — is oracle-replayable.
    *
    * Scale shape: stage 1 ([[rpTopK]] with k = `pool`) streams the
    * corpus once past the broadcast projected queries; stage 2 streams
    * it once more past the BROADCAST shortlist (nq·pool ids, a local
    * frame), so full vectors are only ever dotted for shortlist
    * members. `pool` = corpus size degenerates to exact
    * [[bruteForceTopK]] (SimilaritySpec law). Eager: both stages run
    * on call ([[mergedTopK]]).
    */
  def rpRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                   pool: Int, outDim: Int, inDim: Int = 64): DataFrame = {
    require(pool >= k && k >= 1)
    val shortlist = rpTopK(queries, corpus, pool, outDim, inDim)
      .select(col("qid"), col("cid"))
    topK(prepC(corpus).join(broadcast(shortlist), Seq("cid"))
      .join(broadcast(prepQ(queries)), Seq("qid"))
      .select(col("qid"), col("cid"),
        LongArrayDot(col("qv"), col("cv")).as("score")), k)
  }

  /** Maximal Marginal Relevance diversified top-k — the standard
    * retrieval re-ranker (Carbonell & Goldstein 1998): greedily pick
    * the candidate maximizing λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s),
    * so results are relevant AND mutually diverse (duplicate-heavy
    * corpora return k near-copies under plain top-k).
    *
    * Two-stage shape, which is also the production shape at 100 TB:
    *  1. candidate pool — top-`pool` by quantized dot product, eager
    *     (ONE corpus pass past the broadcast queries: the
    *     [[bruteForceTopK]] kernel); the pooled vectors join back from
    *     the corpus against a broadcast of the ≤ nq·pool kept rows;
    *  2. the greedy rerank runs per query over its ≤ pool candidates
    *     inside `flatMapGroups` (pool²·k integer ops per query;
    *     queries parallelize, the corpus is long gone).
    *
    * NULL-scored candidates (a NULL embedding on either side) drop
    * before the walk: they have no relevance and no similarity. A
    * query with a NULL embedding therefore returns no rows, and one
    * whose pool holds fewer than k scored candidates returns fewer
    * than k.
    *
    * λ is the exact fraction lamNum/lamDen and every score is integer
    * (mmr = lamNum·rel − (lamDen−lamNum)·maxSim; empty-selection
    * maxSim = 0; ties to the lower cid), so the whole greedy walk is
    * engine-portable and the oracle replays it step by step.
    * Returns (qid, rnk, cid, rel, mmr).
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int, pool: Int,
              lamNum: Long = 7, lamDen: Long = 10): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool >= k >= 1, got k=$k pool=$pool")
    require(lamDen > 0 && lamNum >= 0 && lamNum <= lamDen,
      s"lambda $lamNum/$lamDen not in [0,1]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val top = dotTopK(prepQ(queries), prepC(corpus), pool)
      .filter(col("score").isNotNull)
    val pooled = corpus.select(col("vec_id").as("cid"), col("embedding"))
      .join(broadcast(top), Seq("cid"))
      .select(col("qid"), col("cid"), col("score"),
        quantize(col("embedding")).as("cv"))
      .as[(Long, Long, Long, Array[Long])]
    pooled.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray
        val picked = new Array[Boolean](cands.length)
        val selected = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        (1 to math.min(k, cands.length)).iterator.map { rnk =>
          var bestIx = -1; var bestMmr = Long.MinValue; var bestCid = Long.MaxValue
          var i = 0
          while (i < cands.length) {
            if (!picked(i)) {
              val (_, cid, rel, cv) = cands(i)
              var ms = 0L
              var first = true
              selected.foreach(sv => dot(cv, sv).foreach { d =>
                if (first || d > ms) { ms = d; first = false }
              })
              if (selected.isEmpty) ms = 0L
              val mmr = lamNum * rel - (lamDen - lamNum) * ms
              if (mmr > bestMmr || (mmr == bestMmr && cid < bestCid)) {
                bestIx = i; bestMmr = mmr; bestCid = cid
              }
            }
            i += 1
          }
          picked(bestIx) = true
          selected += cands(bestIx)._4
          (qid, rnk, cands(bestIx)._2, cands(bestIx)._3, bestMmr)
        }
      }
      .toDF("qid", "rnk", "cid", "rel", "mmr")
  }

  def kCenterSelect(corpus: DataFrame, k: Int): DataFrame =
    kCenterSelectFull(corpus, k).drop("cv")

  /** As [[kCenterSelect]] but keeps each center's quantized vector
    * (already on the driver from the traversal's 1-row collects) so
    * callers like [[kCenterCensus]] don't re-scan the corpus to
    * recover k rows.
    */
  private[operators] def kCenterSelectFull(
      corpus: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = prepC(corpus)
      .withColumn("xn2", LongArrayDot(col("cv"), col("cv")))
    val seedRows = base.orderBy(col("cid")).limit(1)
      .select(col("cid"), col("cv")).collect()
    if (seedRows.isEmpty)
      return Seq.empty[(Int, Long, Long, Array[Long])]
        .toDF("sel_order", "vec_id", "radius2", "cv")
    val seed = seedRows(0)
    var chosen =
      List((1, seed.getLong(0), 0L, seed.getSeq[Long](1).toArray))
    var nextCenter = seed.getSeq[Long](1).toArray
    // each selected vector is REMOVED from the state before its
    // distance folds in, so an id can never be selected twice — with
    // quantization-identical duplicates the dup stays eligible at
    // d2min = 0 and is picked only once everything farther is
    // exhausted. If the corpus runs out before k (k > n), the
    // traversal stops early and returns fewer rows.
    var state = base.filter(col("cid") =!= seed.getLong(0))
      .select(col("cid"), col("cv"), col("xn2"),
        (col("xn2") + lit(nextCenter.map(x => x * x).sum) -
          lit(2L) * LongArrayDot(col("cv"),
            typedLit(nextCenter))).as("d2min"))
      .localCheckpoint(true)
    var exhausted = false
    for (i <- 2 to k if !exhausted) {
      val farRows = state.orderBy(col("d2min").desc, col("cid"))
        .limit(1).select(col("cid"), col("cv"), col("d2min"))
        .collect()
      if (farRows.isEmpty) exhausted = true
      else {
        val far = farRows(0)
        nextCenter = far.getSeq[Long](1).toArray
        chosen ::= ((i, far.getLong(0), far.getLong(2), nextCenter))
        state = state.filter(col("cid") =!= far.getLong(0))
          .select(col("cid"), col("cv"), col("xn2"),
            least(col("d2min"),
              col("xn2") + lit(nextCenter.map(x => x * x).sum) -
                lit(2L) * LongArrayDot(col("cv"), typedLit(nextCenter)))
              .as("d2min"))
          .localCheckpoint(true)
      }
    }
    chosen.reverse.toDF("sel_order", "vec_id", "radius2", "cv")
  }

  /** Coverage census of a k-center coreset: every corpus vector is
    * assigned to its nearest selected center (full quantized L2², ties
    * to the lower center id — one broadcast of the k-row center table),
    * and each center reports its member count and realized coverage
    * radius (max member distance²). The k-center quality certificate:
    * max over centers of max_d2 is the covering radius the greedy
    * 2-approximation guarantees within 2× of optimal.
    */
  def kCenterCensus(corpus: DataFrame, k: Int): DataFrame = {
    // the traversal already collected each center's quantized vector
    // driver-side — reuse it (k rows, broadcast) instead of re-joining
    // against a second full corpus scan to recover k rows
    val centers = kCenterSelectFull(corpus, k)
    val base = prepC(corpus)
      .withColumn("xn2", LongArrayDot(col("cv"), col("cv")))
    val cw = centers.select(col("sel_order"),
      col("vec_id").as("center_id"), col("cv").as("center_v"))
    base.crossJoin(broadcast(cw))
      .withColumn("d2",
        col("xn2") + LongArrayDot(col("center_v"), col("center_v")) -
          lit(2L) * LongArrayDot(col("cv"), col("center_v")))
      .groupBy(col("cid"))
      .agg(min(struct(col("d2"), col("center_id"), col("sel_order")))
        .as("m"))
      .select(col("m.center_id").as("center_id"),
        col("m.sel_order").as("sel_order"), col("m.d2").as("d2"))
      .groupBy(col("sel_order"), col("center_id"))
      .agg(count(lit(1)).as("n_members"), max(col("d2")).as("max_d2"))
  }
}
