package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.DriverTier

import scala.collection.mutable

/** Iterative rank propagation over an explicit edge list — the
  * graph-centrality half of curation (PageRank, Brin & Page 1998). In a
  * training-data pipeline this ranks documents by how central they are in
  * the kNN similarity graph: high-rank nodes are representative cluster
  * cores, low-rank nodes are outliers — a documented selection signal
  * that composes with [[Similarity.knnGraph]] (edges) exactly as the
  * census composes with k-center. The reference has no graph computation
  * at all (it delegates everything to its warehouse,
  * `/root/reference/src/db/db.go`); this adds the one propagation-style
  * iterative family the engine lacked (connectedComponents contracts,
  * PageRank propagates).
  *
  * Execution shape (the 100 TB contract): the edge list — the O(E) bulk —
  * is joined to per-source out-degrees ONCE and cached; it never crosses
  * the wire again. What each of the T iterations does with the O(N) rank
  * frame is a REGIME SWITCH on n (the same pattern as
  * [[Dedup.connectedComponents]]'s ≤4M-edge driver union-find and
  * `semanticDedup`'s two-level auto-route):
  *
  *   - n ≤ [[DriverNodeLimit]] (the common case — node counts are doc
  *     counts, edge lists are k× larger): ranks live in a driver array,
  *     broadcast each iteration; one zero-shuffle job scans the cached
  *     edge RDD accumulating per-destination quantized sums into dense
  *     long arrays merged O(n) on the driver. Per-iteration cost is one
  *     scan of E — no join, no exchange, no lineage growth. (The
  *     DataFrame form of this loop measured ~0.6 s/iteration of pure
  *     plan/shuffle/checkpoint overhead at ANY data size.)
  *   - n > [[DriverNodeLimit]]: distributed join path — the rank frame
  *     exchanges to meet the src-partitioned edges, a map-side-combined
  *     groupBy(dst) reduces E contributions to N sums, a left join back
  *     to the node list restores zero-in-degree nodes (teleport mass
  *     only), and a `localCheckpoint` truncates lineage so iteration T
  *     does not replay 1..T-1.
  *
  * Both regimes compute IDENTICAL ranks — locked by a GraphSpec boundary
  * law — because the numeric policy makes row-visit order immaterial:
  * per-edge contributions rank/outdeg are quantized to integers
  * (floor(v·1e9 + 0.5)) and summed EXACTLY as longs, and the new rank is
  * the fixed IEEE chain (1−d)/n + d·(Σq/1e9), every operand computed the
  * same way on both paths (and in the DuckDB oracle, which unrolls the
  * iterations as CTE pairs). Bound: a node's exact long sum is
  * ≤ in-degree·1e9 (each quantized contribution is ≤ 1e9 since
  * rank/outdeg ≤ 1), so in-degree must stay below ~9·10^6 for the exact
  * long→double conversion — far above any kNN graph (in-degree
  * concentrates near k) and checkable by the caller on arbitrary graphs.
  *
  * Semantics: the standard damped recurrence without dangling-mass
  * redistribution — a node with no out-edges simply stops forwarding its
  * rank (mass leaks, ranks still order nodes correctly). kNN graphs are
  * dangling-free by construction (every query node emits ≥ 1 edge when
  * any bucket peer exists), which is the flagship composition here.
  * Parallel edges contribute once each (multigraph convention).
  */
object Graph {

  /** Quantization scale for exact integer contribution sums. */
  val Scale: Double = 1.0e9

  /** Largest node count the broadcast-rank driver regime handles. The
    * boundary is MEASURED, not a memory bound: per-task n-long
    * accumulators + the per-iteration n-double broadcast grow linearly
    * while the join path's per-iteration cost is mostly fixed, so the
    * regimes cross near 1M nodes on the k=6 stress graph (fresh-JVM
    * arms, 10 iters: driver/join 8.0/11.6 s at 100k, 13.0/15.1 s at
    * 500k, 18.5/19.1 s at 1M, 32.9/20.0 s at 2M).
    */
  val DriverNodeLimit: Long = 1000000L

  /** PageRank over `edges` (columns `src`, `dst`). Nodes = distinct
    * endpoints of either side. Returns (id, pr) with pr the
    * final-iteration rank rounded to 1e-9 for a stable presentation
    * surface (the unrounded trajectory is already engine-exact; the
    * rounding is belt-and-braces like
    * [[TextAnalysis.qualityModelScore]]).
    */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85,
               driverNodeLimit: Long = DriverNodeLimit,
               localEdgeLimit: Long = LocalEdges): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0,1), got $damping")
    // materialize the caller's edge pipeline ONCE (deg, the node set and
    // the iterations would each re-run its upstream knn gate); persist,
    // not localCheckpoint, so the finally below RELEASES the O(E) blocks
    val ecp = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = ecp.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = ecp.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
    val nodes = ecp.select(col("src").as("id"))
      .union(ecp.select(col("dst").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the node ids' bounded collect is the regime gate
      DriverTier.collect(nodes.select(col("id").cast("long")),
          driverNodeLimit, "graft.pagerank: driver tier collect") match {
        case Some(rows) =>
          require(rows.nonEmpty, "pageRank needs a non-empty edge list")
          require(!rows.exists(_.isNullAt(0)), "pageRank needs non-null ids")
          pageRankDriver(e, rows.map(_.getLong(0)).sorted, iters, damping,
            localEdgeLimit)
        case None => pageRankJoin(e, nodes, nodes.count(), iters, damping)
      }
    } finally {
      nodes.unpersist(blocking = false)
      ecp.unpersist(blocking = false)
    }
  }

  /** Broadcast-rank regime: ranks in a driver array (n ≤ driver limit),
    * one zero-shuffle scan of the cached edge RDD per iteration.
    */
  private def pageRankDriver(e: DataFrame, ids: Array[Long],
                             iters: Int, damping: Double,
                             localEdgeLimit: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val idx = new mutable.LongMap[Int](ids.length * 2)
    ids.zipWithIndex.foreach { case (id, i) => idx.put(id, i) }
    val bIdx = spark.sparkContext.broadcast(idx)
    // dense (srcIdx, dstIdx, outdeg) triples, cached once — the only
    // O(E) state; every iteration scans it map-side
    val eRdd = e.select(col("src").cast("long"), col("dst").cast("long"),
        col("outdeg"))
      .as[(Long, Long, Long)]
      .rdd.map { case (s, d, od) => (bIdx.value(s), bIdx.value(d), od) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nn = ids.length
      val base = (1.0 - damping) / nn
      var rank = Array.fill(nn)(1.0 / nn)
      val sc = spark.sparkContext
      // LOCAL tier: under `LocalEdges` triples the whole iteration loop
      // runs on collected arrays — ZERO jobs per iteration instead of one
      // treeAggregate each — with the identical floor-quantized integer
      // fold (GraphSpec pins the tier law). It packs an RDD, not a frame,
      // so its gate is a count of the persisted triples.
      val eCount = eRdd.count()
      if (eCount <= localEdgeLimit) {
        // collect as three flat primitive arrays packed per partition —
        // a plain collect() ships boxed Tuple3(Integer, Integer, Long)
        // objects, ~300 MB of driver heap at the 4M-edge cap vs ~64 MB
        // flat (r15; the cap's budget comment was written against the
        // flat figure)
        val parts = eRdd.mapPartitions { it =>
          val sb = Array.newBuilder[Int]
          val db = Array.newBuilder[Int]
          val ob = Array.newBuilder[Long]
          it.foreach { t => sb += t._1; db += t._2; ob += t._3 }
          Iterator.single((sb.result(), db.result(), ob.result()))
        }.collect()
        val m = parts.map(_._1.length).sum
        val srcA = new Array[Int](m)
        val dstA = new Array[Int](m)
        val odA = new Array[Long](m)
        var off = 0
        parts.foreach { case (s, d, o) =>
          System.arraycopy(s, 0, srcA, off, s.length)
          System.arraycopy(d, 0, dstA, off, d.length)
          System.arraycopy(o, 0, odA, off, o.length)
          off += s.length
        }
        for (_ <- 1 to iters) {
          val sums = new Array[Long](nn)
          var i = 0
          while (i < m) {
            sums(dstA(i)) +=
              math.floor(rank(srcA(i)) / odA(i) * Scale + 0.5).toLong
            i += 1
          }
          rank = sums.map(s => base + damping * (s.toDouble / Scale))
        }
      } else {
        for (_ <- 1 to iters) {
          val bRank = sc.broadcast(rank)
          val sums = eRdd.treeAggregate(new Array[Long](nn))(
            seqOp = (acc, t) => {
              val r = bRank.value
              acc(t._2) += math.floor(r(t._1) / t._3 * Scale + 0.5).toLong
              acc
            },
            combOp = (x, y) => {
              var i = 0
              while (i < x.length) { x(i) += y(i); i += 1 }
              x
            })
          bRank.destroy()
          rank = sums.map(s => base + damping * (s.toDouble / Scale))
        }
      }
      ids.zip(rank).toSeq.toDF("id", "rank")
        .select(col("id"),
          (floor(col("rank") * lit(Scale) + lit(0.5)) / lit(Scale)).as("pr"))
    } finally {
      eRdd.unpersist(blocking = false)
      bIdx.destroy()
    }
  }

  /** Edge-count ceiling for the zero-jobs-per-iteration local tier of
    * [[pageRankDriver]]: 4M edges ≈ 64 MB collected as three flat
    * primitive arrays (int src, int dst, long outdeg) — the same
    * driver budget `connectedComponents` grants its union-find tier.
    */
  val LocalEdges: Long = 4000000L

  /** Distributed join regime: edges partitioned by src once, each
    * iteration exchanges only the O(N) rank frame.
    */
  private def pageRankJoin(e0: DataFrame, nodes: DataFrame, n: Long,
                           iters: Int, damping: Double): DataFrame = {
    val e = graft.engine.Spread.byKey(e0, col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val base = (1.0 - damping) / n
      var r = nodes.select(col("id"), lit(1.0 / n).as("rank"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val contrib = e.join(r, e("src") === r("id"))
          .groupBy(col("dst"))
          .agg(sum(floor(col("rank") / col("outdeg") * lit(Scale)
            + lit(0.5)).cast("long")).as("s"))
        val rNew = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
          .select(nodes("id"),
            (lit(base) + lit(damping) *
              (coalesce(col("s"), lit(0L)).cast("double") / lit(Scale)))
              .as("rank"))
        val prev = r
        r = rNew.localCheckpoint(true)
        prev.unpersist(blocking = false)
      }
      r.select(col("id"),
        (floor(col("rank") * lit(Scale) + lit(0.5)) / lit(Scale)).as("pr"))
    } finally e.unpersist(blocking = false)
  }
}
