package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming embedding-pipeline surface: continuous ingest of embedding
  * shards with incremental semantic dedup — the embedding-side twin of
  * [[DocStream]]'s text ingest (the r8 gap: text had a daily-shard
  * incremental path, embeddings recomputed the full SemDeDup).
  *
  * Production IVF practice shapes the design: the quantizer is trained
  * ONCE on the stored-corpus snapshot and FROZEN — arriving vectors are
  * assigned to the existing cells (faiss trains on a sample, assigns
  * forever; retraining would reshuffle every stored vector's cell).
  * Per micro-batch the work is:
  *
  *   1. assign the shard to the frozen centroids (broadcast argmin —
  *      the exact batch rule, [[graft.operators.Dedup.assignToCentroids]]);
  *   2. gate new×new pairs (cell-blocked self-join over the SHARD only)
  *      and new×stored pairs ([[graft.operators.Dedup.embeddingPairsAcross]]
  *      — the stored side streams, only the shard exchanges);
  *   3. fold the new edges into the accumulated duplicate graph and
  *      re-close connected components — the graph holds only NEAR-DUP
  *      PAIRS (the corpus' duplication volume, not its size), so the
  *      re-closure is bounded by dup density, never by corpus scale;
  *   4. emit the DELTA: the shard's canonical assignments plus any
  *      stored vector whose canonical changed (a new vector can bridge
  *      two old components — min-id canonicals then move; append-only
  *      emission of new rows alone would silently disagree with batch).
  *
  * EXACT by construction, for ANY arrival order: every within-cell
  * gated pair {u, v} is found either at init (both stored), in v's
  * batch (u stored or same batch), so the accumulated edge set equals
  * the batch edge set over the union, assignments are per-vector
  * identical (same frozen centroids, same tie rule), and the final
  * canonical table EQUALS [[graft.operators.Dedup.semanticDedupWith]]
  * (union, same centroids) — spec-locked in `EmbStreamSpec`, measured
  * at sf1 in PLANS.md "Streaming incremental embedding dedup at sf1"
  * (probe tool last present at commit 6989ace).
  *
  * Durability ([[GenStore]]'s discipline, new r11 — the prior form
  * REQUIRED a fresh stateDir because the merge map lived only on the
  * driver): each generation directory `b<seq>` carries that batch's
  * `assigned/` + `canon/` parquet AND the full resolved merge-map
  * snapshot `_merges.tsv`, staged under `tmp_b<seq>` and committed by
  * ONE atomic rename after the sink returned. A restarted stream on a
  * populated stateDir resumes exactly: centroids load from the oldest
  * generation (never retrained — the frozen-quantizer contract), the
  * merge map reloads from the newest snapshot, and an id-keyed
  * idempotence guard (anti-join of each batch against the stored
  * vec_ids) makes replay-after-commit — and caller re-sends — a no-op
  * instead of a row-duplicating corruption. Crash before the commit
  * rename replays the whole batch (at-least-once deltas, the standard
  * idempotent-sink contract); partial writes can never surface.
  */
object EmbStream {

  /** `baseline` is the canonical table the sink's deltas apply on top
    * of: the stored-corpus canon on a cold start, the WHOLE
    * accumulated canon store (merges folded) on a resume — in both
    * cases baseline + this run's deltas (last-write-wins) is the live
    * table. `compact` folds the accumulated merges into the canon
    * store (rewrite base = resolved, clear the merge map — the LSM
    * compaction step); call it only while the stream is quiescent
    * (between micro-batches / after stop). Returns rows rewritten.
    */
  final case class Incremental(baseline: DataFrame, query: StreamingQuery,
                               compact: () => Long = () => 0L)

  /** Continuous incremental semantic dedup (see object doc). `sink`
    * receives one delta frame per micro-batch: (vec_id, cent_id,
    * canonical) for every NEW vector and every stored vector whose
    * canonical CHANGED; last-write-wins over baseline+deltas is the
    * live canonical table.
    *
    * State discipline (the r9 compaction demerit, closed; durable
    * commits + resume new r11): per-batch cost is O(batch + affected),
    * never O(corpus) — plus ONE bloom-prefilterable anti-join of the
    * (small) batch against the stored ids, the idempotence guard.
    *
    *   - Assignments and insert-time canonicals live in APPEND-ONLY
    *     parquet generations, one `b<seq>` dir per batch holding
    *     assigned/ + canon/ + the merge-map snapshot, committed
    *     atomically after the sink ([[GenStore]]); reads are flat
    *     multi-path scans.
    *   - Connected components close over the REP GRAPH only: each new
    *     edge's endpoints collapse to their current canonical (old
    *     components are already fully connected, and each canonical IS
    *     its component's min id, so the rep-graph minimum equals the
    *     union-graph minimum — exactness is unchanged, EmbStreamSpec's
    *     batch-equality law still pins it). The full edge set is never
    *     stored at all.
    *   - Cross-batch canonical state is a resolved merge map (base
    *     canonical -> current canonical), bounded by the number of
    *     component MERGES ever observed — dup density, not corpus
    *     size; held on the driver and snapshotted into every committed
    *     generation, so a restart reloads it exactly.
    *   - The changed-canonical delta reads the canon store FILTERED to
    *     the merged roots (a broadcast IN over a merge-bounded set —
    *     partition-prunable), instead of diffing two corpus-sized
    *     canonical tables.
    */
  def semanticDedupIncremental(embStream: DataFrame, corpus: DataFrame,
                               nlist: Int = 0, iters: Int = 2,
                               tauNum: Int = 4, tauDen: Int = 10,
                               stateDir: Option[String] = None)
                              (sink: DataFrame => Unit): Incremental = {
    import graft.operators.{Dedup, Similarity}
    val spark0 = corpus.sparkSession

    val root = stateDir.map(Paths.get(_)).getOrElse(
      Files.createTempDirectory("graft_embstream_state"))
    Files.createDirectories(root)
    GenStore.sweepStaged(root)
    GenStore.healReplaces(root)
    val gens0 = GenStore.committed(root)
    val resuming = gens0.nonEmpty

    // frozen quantizer: trained once on the cold start and PERSISTED
    // with generation b0; a resume loads the artifact instead of
    // retraining (exact even if the caller's corpus snapshot drifted)
    val cents =
      if (resuming)
        spark0.read.parquet(gens0.head.resolve("centroids").toString)
          .localCheckpoint(true)
      else {
        val sizedNlist =
          if (nlist > 0) nlist
          else math.max(1L, math.ceil(
            math.sqrt(corpus.count().toDouble)).toLong).toInt
        Similarity.trainCentroids(corpus, sizedNlist, iters)
          .localCheckpoint(true)
      }

    def assignedDirs(gens: Seq[Path]): Seq[String] =
      gens.map(_.resolve("assigned").toString)
    def canonDirs(gens: Seq[Path]): Seq[String] =
      gens.map(_.resolve("canon").toString)

    // ---- cold start: stored-corpus init (assignment + dup graph +
    //      canonicals + centroid artifact), committed as b0 ----
    if (!resuming) {
      val staged = GenStore.stagedPath(root, 0L)
      Files.createDirectories(staged)
      cents.coalesce(1).write.mode("overwrite")
        .parquet(staged.resolve("centroids").toString)
      Dedup.assignToCentroids(corpus, cents)
        .write.mode("overwrite")
        .parquet(staged.resolve("assigned").toString)
      val a0 = spark0.read.parquet(staged.resolve("assigned").toString)
      val edges0 = Dedup.embeddingPairs(a0, tauNum, tauDen,
          blockCol = "cent_id")
        .select(col("v1").as("d1"), col("v2").as("d2"))
      a0.select(col("vec_id"), col("cent_id"))
        .join(Dedup.connectedComponents(edges0)
          .withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cent_id"),
          coalesce(col("component"), col("vec_id")).as("base_canon"))
        .write.mode("overwrite")
        .parquet(staged.resolve("canon").toString)
      GenStore.writePairs(staged.resolve("_merges.tsv"), Map.empty)
      GenStore.commit(root, staged, 0L)
    }
    val b0 = GenStore.committed(root).head
    val assignedSchema =
      spark0.read.parquet(b0.resolve("assigned").toString).schema
    val canonSchema =
      spark0.read.parquet(b0.resolve("canon").toString).schema
    def canonAll = spark0.read.schema(canonSchema)
      .parquet(canonDirs(GenStore.committed(root)): _*)

    // resolved merge map: base canonical -> current canonical for every
    // root a merge ever moved; values are always fully resolved.
    // Reloaded from the newest committed snapshot on resume.
    val merge = scala.collection.mutable.Map.empty[Long, Long]
    GenStore.loadNewestPairs(GenStore.committed(root), "_merges.tsv")
      .foreach(_.foreach { case (k, v) => merge(k) = v })

    // baseline: cold start = the stored-corpus canon (b0); resume = the
    // WHOLE accumulated canon with merges folded, so a restarted
    // caller needs no replay of earlier runs' deltas
    val baseline = {
      val raw =
        if (!resuming)
          spark0.read.schema(canonSchema)
            .parquet(b0.resolve("canon").toString)
        else {
          import spark0.implicits._
          val mergeDf = broadcast(merge.toSeq.toDF("base_canon", "cur"))
          canonAll.join(mergeDf, Seq("base_canon"), "left")
            .select(col("vec_id"), col("cent_id"),
              coalesce(col("cur"), col("base_canon")).as("base_canon"))
        }
      raw.withColumnRenamed("base_canon", "canonical")
        .localCheckpoint(true)
    }

    var seq = GenStore.nextSeq(root)

    val query = embStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val gens = GenStore.committed(root)
        // 0. idempotence guard: a vec_id already in the store is a
        //    replayed (post-commit) or re-sent row — drop it. Id-keyed
        //    at-most-once admission; bloom-prefilterable at scale.
        val fresh = batch.select(col("vec_id"), col("embedding"))
          .join(canonAll.select(col("vec_id")), Seq("vec_id"),
            "left_anti")
        // 1. assign + stage (read back: flat lineage, no recompute)
        val staged = GenStore.stagedPath(root, seq)
        Files.createDirectories(staged)
        Dedup.assignToCentroids(fresh, cents)
          .write.mode("overwrite")
          .parquet(staged.resolve("assigned").toString)
        val newA = spark.read.schema(assignedSchema)
          .parquet(staged.resolve("assigned").toString)
        val priorA = spark.read.schema(assignedSchema)
          .parquet(assignedDirs(gens): _*)
        // 2. new edges: in-batch pairs + cross pairs vs the stored scan
        val newEdges = Dedup.embeddingPairs(newA, tauNum, tauDen,
            blockCol = "cent_id")
          .select(col("v1").as("d1"), col("v2").as("d2"))
          .unionByName(Dedup.embeddingPairsAcross(newA, priorA,
              tauNum, tauDen, blockCol = "cent_id")
            .select(col("v1").as("d1"), col("v2").as("d2")))
        // 3. collapse endpoints to current canonicals: stored endpoints
        //    resolve base_canon through the merge map; in-batch
        //    endpoints are their own rep. Only the d2 side can be
        //    stored — both edge sources put the SHARD vector in
        //    v1/d1 (embeddingPairs(newA) is in-batch on both sides;
        //    embeddingPairsAcross(newA, priorA) exchanges the shard as
        //    its `a`/v1 side) — so a d1-side canon join would scan the
        //    corpus-sized store every batch only to produce NULLs.
        val resolveOld = merge.toMap
        val mergeDf = broadcast(resolveOld.toSeq.toDF("root", "cur"))
        val repEdges = newEdges
          .join(canonAll.select(col("vec_id").as("d2"),
            col("base_canon")), Seq("d2"), "left")
          .join(mergeDf.withColumnRenamed("root", "base_canon"),
            Seq("base_canon"), "left")
          .select(col("d1"), coalesce(col("cur"), col("base_canon"),
            col("d2")).as("d2"))
          .filter(col("d1") =!= col("d2"))
          .distinct()
          .localCheckpoint(true) // consumed by CC and two joins below
        // 4. close the rep graph (merge-bounded, not corpus-bounded)
        val ccRep = Dedup.connectedComponents(repEdges)
          .localCheckpoint(true)
        // 5. driver merge-map update: only OLD reps that moved (the
        //    merge-bounded collect; new-vector nodes stay distributed)
        val oldReps = repEdges.select(col("d1").as("node"))
          .unionByName(repEdges.select(col("d2").as("node"))).distinct()
          .join(newA.select(col("vec_id").as("node")), Seq("node"),
            "left_anti")
        val moved = ccRep.join(oldReps, Seq("node"), "left_semi")
          .filter(col("node") =!= col("component"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // batch-LOCAL merge assignments — the driver map is mutated only
        // at the commit point below: a sink failure before the commit
        // must leave the in-memory map matching the committed snapshot,
        // or a later quiescent compact() would persist merges whose
        // canonical vec_ids exist only in the swept staged batch
        val changedRoots: Map[Long, Long] =
          if (moved.isEmpty) Map.empty
          else resolveOld.collect {
            case (root0, cur) if moved.contains(cur) =>
              root0 -> moved(cur)
          } ++ moved
        // 6. delta: every new vector (insert-time canonical from the
        //    rep CC), plus stored vectors whose root merged
        newA.select(col("vec_id"), col("cent_id"))
          .join(ccRep.withColumnRenamed("node", "vec_id"),
            Seq("vec_id"), "left")
          .select(col("vec_id"), col("cent_id"),
            coalesce(col("component"), col("vec_id")).as("base_canon"))
          .write.mode("overwrite")
          .parquet(staged.resolve("canon").toString)
        val newDelta = spark.read.schema(canonSchema)
          .parquet(staged.resolve("canon").toString)
          .withColumnRenamed("base_canon", "canonical")
        val delta =
          if (changedRoots.isEmpty) newDelta
          else {
            val rm = broadcast(changedRoots.toSeq.toDF("base_canon", "nc"))
            // the inner broadcast join IS the root filter (merge-bounded
            // build side); new rows already carry final canonicals
            val oldDelta = canonAll
              .join(newA.select(col("vec_id")), Seq("vec_id"),
                "left_anti")
              .join(rm, Seq("base_canon"))
              .select(col("vec_id"), col("cent_id"),
                col("nc").as("canonical"))
            newDelta.unionByName(oldDelta)
          }
        sink(delta)
        // COMMIT POINT: fold this batch's merges into the driver map
        // and snapshot it into the same rename as the batch's
        // assigned/canon data — everything before this replays on
        // crash (map untouched), after it the replayed batch
        // anti-joins to empty and the reloaded map is exact.
        for ((r, m) <- changedRoots) merge(r) = m
        GenStore.writePairs(staged.resolve("_merges.tsv"), merge)
        GenStore.commit(root, staged, seq)
        seq += 1
      }
      .start()

    // LSM compaction: fold every merge into ONE generation holding the
    // whole resolved canon + the whole assigned store + the centroid
    // artifact, committed with a _replaces marker (healed on restart),
    // then clear the merge map. Quiescent-only by contract (no batch
    // may be mid-flight; a LIVE query also holds `seq`, so compaction
    // runs between stops, exactly like DocStream.compactAdmissions).
    def compact(): Long = {
      GenStore.healReplaces(root)
      val gens = GenStore.committed(root)
      if (merge.isEmpty && gens.size <= 1) return 0L
      import spark0.implicits._
      val mergeDf = broadcast(merge.toSeq.toDF("base_canon", "cur"))
      // the SHARED counter, not a recomputed one: a live (quiescent)
      // query also holds `seq`, and the compacted generation must take
      // the next slot or the following batch's commit would collide
      val nextSeq = seq
      val staged = GenStore.stagedPath(root, nextSeq)
      Files.createDirectories(staged)
      cents.coalesce(1).write.mode("overwrite")
        .parquet(staged.resolve("centroids").toString)
      spark0.read.schema(assignedSchema)
        .parquet(assignedDirs(gens): _*)
        .write.mode("overwrite")
        .parquet(staged.resolve("assigned").toString)
      canonAll
        .join(mergeDf, Seq("base_canon"), "left")
        .select(col("vec_id"), col("cent_id"),
          coalesce(col("cur"), col("base_canon")).as("base_canon"))
        .select(canonSchema.fieldNames.map(col): _*)
        .write.mode("overwrite")
        .parquet(staged.resolve("canon").toString)
      val n = spark0.read.schema(canonSchema)
        .parquet(staged.resolve("canon").toString).count()
      GenStore.writePairs(staged.resolve("_merges.tsv"), Map.empty)
      GenStore.writeReplaces(staged, gens)
      val committedDir = GenStore.commit(root, staged, nextSeq)
      seq += 1
      gens.foreach(GenStore.deleteRecursively)
      Files.deleteIfExists(committedDir.resolve("_replaces.tsv"))
      merge.clear()
      n
    }
    Incremental(baseline, query, () => compact())
  }

  /** Continuous IVF-index maintenance — the streaming twin of
    * [[graft.operators.Similarity.appendToIvfIndex]]: each arriving
    * micro-batch of vectors is assigned against the index's FROZEN
    * stored centroids and appended to the cell-partitioned assignment
    * table. Per-batch cost is O(batch); the index never rebuilds.
    *
    * Idempotence is ID-KEYED (the semanticDedupIncremental device): a
    * vec_id already present in the assignment table is a replayed or
    * re-sent row and is dropped by one anti-join before the append —
    * so a post-commit batch replay changes nothing (EmbStreamSpec
    * law). Each append itself is one Spark batch job under the
    * file-commit protocol, so a crash mid-append surfaces no partial
    * files. At 100 TB the anti-join probe is bloom-prefilterable
    * (engine.BloomPrune) exactly like the text-dedup corpus index.
    *
    * The law: after any sequence of batches, `ivfTopKIndexed` over the
    * maintained index equals the inline operator over
    * build-corpus ∪ streamed-vectors.
    */
  def ivfAppendIncremental(vecStream: DataFrame,
                           indexPath: String): StreamingQuery =
    vecStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val seen = spark.read.parquet(s"$indexPath/assigned")
          .select(col("cid").as("vec_id"))
        val fresh = batch.select(col("vec_id"), col("embedding"))
          .join(seen, Seq("vec_id"), "left_anti")
        graft.operators.Similarity.appendToIvfIndex(fresh, indexPath)
      }
      .start()
}
