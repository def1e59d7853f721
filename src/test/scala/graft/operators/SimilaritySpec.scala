package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val e = spark.read.parquet(sf() + "/embeddings.parquet")
  private lazy val queries = e.filter(col("vec_id") < 5)

  test("brute-force top-k: k rows per query, scores non-increasing, no self") {
    val out = Similarity.bruteForceTopK(queries, e, k = 5)
      .orderBy("qid", "rnk").collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 5 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { rows =>
      val scores = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(r => r.getAs[Long]("cid") != r.getAs[Long]("qid")))
    }
  }

  test("cosine variant agrees with quantized ranking on top-1 for most queries") {
    val q = Similarity.bruteForceTopK(queries, e, k = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    val c = Similarity.bruteForceTopKCosine(queries, e, k = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    // quantized dot ranks by unnormalized similarity; cosine normalizes —
    // they agree when the top hit is clear, which is the common case
    assert(q.keySet == c.keySet)
  }

  test("persisted IVF index: build-once artifacts + ivfTopKIndexed " +
       "equal the inline ivfTopK row-for-row, and a trained-quantizer " +
       "build round-trips through the artifact store") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfidx_spec").toString
    Similarity.buildIvfIndex(e, path, nlist = 16)
    val idx = Similarity.ivfTopKIndexed(queries, path, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.ivfTopK(queries, e, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSet
    assert(idx.nonEmpty && idx == inline)
    // trained centroids persist + reload to the same cells as inline
    val path2 = java.nio.file.Files
      .createTempDirectory("graft_ivfidx_spec2").toString
    Similarity.buildIvfIndex(e, path2, nlist = 8, trainIters = 2)
    val trained = Similarity.trainCentroids(e, nlist = 8, iters = 2)
    val idx2 = Similarity.ivfTopKIndexed(queries, path2, k = 5, nprobe = 3)
      .collect().map(_.toSeq).toSet
    val inline2 = Similarity.ivfTopK(queries, e, k = 5, nlist = 8,
        nprobe = 3, centroids = Some(trained))
      .collect().map(_.toSeq).toSet
    assert(idx2.nonEmpty && idx2 == inline2)
  }

  test("incremental IVF maintenance: build(A) + appendToIvfIndex(B) " +
       "answers queries exactly as the inline operator over A ∪ B and " +
       "as an index built on the union at once") {
    // build shard keeps the 16 lowest vec_ids, so default centroids
    // equal the full-corpus ones — any query difference would be a
    // defect in the append path itself
    val a = e.filter(col("vec_id") < 16 || col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") >= 16 && col("vec_id") % 2 === 1)
    val incrPath = java.nio.file.Files
      .createTempDirectory("graft_ivfincr_spec").toString
    Similarity.buildIvfIndex(a, incrPath, nlist = 16)
    Similarity.appendToIvfIndex(b, incrPath)
    val incr = Similarity.ivfTopKIndexed(queries, incrPath, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.ivfTopK(queries, e, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSet
    assert(incr.nonEmpty && incr == inline)
    val oncePath = java.nio.file.Files
      .createTempDirectory("graft_ivfonce_spec").toString
    Similarity.buildIvfIndex(e, oncePath, nlist = 16)
    val once = Similarity.ivfTopKIndexed(queries, oncePath, k = 5, nprobe = 4)
      .collect().map(_.toSeq).toSet
    assert(incr == once)
    // the appended shard's vectors really landed in the cell map
    val nAssigned = spark.read.parquet(s"$incrPath/assigned").count()
    assert(nAssigned === e.count())
  }

  private val VecSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id long, embedding array<float>")

  private def vectors(rows: (Long, Seq[Float])*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) =>
        org.apache.spark.sql.Row(id, v) }: _*), VecSchema)

  /** Every row in rank order, duplicates kept. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("qid", "rnk", "cid").collect().map(_.toSeq).toSeq

  test("IVF kernel equals the window reference row for row: score ties, " +
       "NULL embeddings on both sides, nprobe >= nlist, a probed cell " +
       "with no directory, k past the candidates") {
    // cells 0..3 are the four lowest ids; 10/11 and 16/17 are exact
    // copies (score ties), 12 has no embedding, and the query 103
    // appears twice with different vectors (one heap per qid)
    val corpus = vectors(
      0L -> Seq(0.9f, 0.1f, 0f, 0f), 1L -> Seq(0.1f, 0.9f, 0f, 0f),
      2L -> Seq(0f, 0f, 0.9f, 0.1f), 3L -> Seq(0f, 0f, 0.1f, 0.9f),
      10L -> Seq(0.5f, 0.5f, 0f, 0f), 11L -> Seq(0.5f, 0.5f, 0f, 0f),
      12L -> null, 13L -> Seq(0.2f, 0.1f, 0.7f, 0f),
      14L -> Seq(0f, 0.3f, 0.3f, 0.3f), 15L -> Seq(0.6f, 0f, 0f, 0.4f),
      16L -> Seq(0f, 0f, 0.5f, 0.5f), 17L -> Seq(0f, 0f, 0.5f, 0.5f),
      18L -> Seq(0.3f, 0.3f, 0.3f, 0.3f), 19L -> Seq(-0.5f, 0.2f, 0.1f, 0f))
    val qs = vectors(10L -> Seq(0.5f, 0.5f, 0f, 0f), 100L -> null,
      101L -> Seq(0.4f, 0.4f, 0.1f, 0.1f), 102L -> Seq(0f, 0f, 0.3f, 0.3f),
      103L -> Seq(1f, 0f, 0f, 0f), 103L -> Seq(0f, 0f, 0f, 1f))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_ref").toString
    Similarity.buildIvfIndex(corpus, path, nlist = 4)
    val cases = Seq((2, 3), (1, 2), (6, 50))
    for ((nprobe, k) <- cases) {
      val want = rows(IvfReference.overIndex(qs, path, k, nprobe))
      assert(want.nonEmpty)
      assert(rows(Similarity.ivfTopKIndexed(qs, path, k, nprobe)) == want,
        s"indexed nprobe=$nprobe k=$k")
      assert(rows(Similarity.ivfTopK(qs, corpus, k, nlist = 4,
        nprobe = nprobe)) == want, s"inline nprobe=$nprobe k=$k")
    }
    // the NULL rows rank last, by cid
    val wide = rows(Similarity.ivfTopKIndexed(qs, path, k = 50, nprobe = 6))
    assert(wide.filter(_(0) == 100L).forall(_(3) == null))
    assert(wide.filter(_(0) == 101L).last == Seq(101L, 14, 12L, null))
    // a probed cell without a directory contributes nothing
    val gone = new java.io.File(path, "assigned/cent_id=2")
    assert(gone.isDirectory)
    org.apache.commons.io.FileUtils.deleteDirectory(gone)
    for ((nprobe, k) <- cases)
      assert(rows(Similarity.ivfTopKIndexed(qs, path, k, nprobe)) ==
        rows(IvfReference.overIndex(qs, path, k, nprobe)),
        s"missing cell nprobe=$nprobe k=$k")
  }

  private val LabelledSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id long, embedding array<float>, label string")

  private def labelled(rows: (Long, Seq[Float], String)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v, l) =>
        org.apache.spark.sql.Row(id, v, l) }: _*), LabelledSchema)

  test("every top-k site equals its window reference row for row: score " +
       "ties, NULL embeddings on both sides, a repeated qid, k = 0, k " +
       "past the candidates") {
    // 10/11 and 16/17 are exact copies (score ties), 12 has no
    // embedding and 18 no label; query 10 is also a corpus id, 100 has
    // no embedding, and 103 appears twice with different vectors and
    // labels (one heap per qid)
    val corpus = labelled(
      (0L, Seq(0.9f, 0.1f, 0f, 0f), "a"), (1L, Seq(0.1f, 0.9f, 0f, 0f), "b"),
      (2L, Seq(0f, 0f, 0.9f, 0.1f), "a"), (3L, Seq(0f, 0f, 0.1f, 0.9f), "b"),
      (10L, Seq(0.5f, 0.5f, 0f, 0f), "a"), (11L, Seq(0.5f, 0.5f, 0f, 0f), "b"),
      (12L, null, "a"), (13L, Seq(0.2f, 0.1f, 0.7f, 0f), "b"),
      (14L, Seq(0f, 0.3f, 0.3f, 0.3f), "a"), (15L, Seq(0.6f, 0f, 0f, 0.4f), "b"),
      (16L, Seq(0f, 0f, 0.5f, 0.5f), "a"), (17L, Seq(0f, 0f, 0.5f, 0.5f), "b"),
      (18L, Seq(0.3f, 0.3f, 0.3f, 0.3f), null),
      (19L, Seq(-0.5f, 0.2f, 0.1f, 0f), "a"))
    val qs = labelled((10L, Seq(0.5f, 0.5f, 0f, 0f), "a"), (100L, null, "b"),
      (101L, Seq(0.4f, 0.4f, 0.1f, 0.1f), "a"),
      (102L, Seq(0f, 0f, 0.3f, 0.3f), "b"),
      (103L, Seq(1f, 0f, 0f, 0f), "a"), (103L, Seq(0f, 0f, 0f, 1f), "b"))
    val pqPath = java.nio.file.Files.createTempDirectory("graft_pq_ref").toString
    Similarity.buildPqIndex(corpus, pqPath, subspaces = 2, dim = 4, nCodes = 4)
    val sqPath = java.nio.file.Files.createTempDirectory("graft_sq_ref").toString
    Similarity.buildSqIndex(corpus, sqPath, dim = 4)
    for (k <- Seq(0, 1, 3, 50)) {
      def same(site: String, got: => org.apache.spark.sql.DataFrame,
               want: org.apache.spark.sql.DataFrame): Unit = {
        val w = rows(want)
        assert(w.nonEmpty == (k > 0), s"$site k=$k: $w")
        assert(rows(got) == w, s"$site k=$k")
      }
      same("bruteForceTopK", Similarity.bruteForceTopK(qs, corpus, k),
        TopKReference.bruteForce(qs, corpus, k))
      val pq = TopKReference.pqOverIndex(qs, pqPath, k, subspaces = 2, dim = 4)
      same("pqTopK", Similarity.pqTopK(qs, corpus, k, subspaces = 2, dim = 4,
        nCodes = 4), pq)
      same("pqTopKIndexed", Similarity.pqTopKIndexed(qs, pqPath, k,
        subspaces = 2, dim = 4), pq)
      val sq = TopKReference.sqOverIndex(qs, sqPath, k, dim = 4)
      same("sqTopK", Similarity.sqTopK(qs, corpus, k, dim = 4), sq)
      same("sqTopKIndexed", Similarity.sqTopKIndexed(qs, sqPath, k, dim = 4), sq)
      same("lshTopK", Similarity.lshTopK(qs, corpus, k, bits = 4, bands = 2,
        dim = 4), TopKReference.lsh(qs, corpus, k, bits = 4, bands = 2, dim = 4))
      same("hardNegatives", Similarity.hardNegatives(qs, corpus, k),
        TopKReference.hardNegatives(qs, corpus, k))
      same("rpTopK", Similarity.rpTopK(qs, corpus, k, outDim = 2, inDim = 4),
        TopKReference.rp(qs, corpus, k, outDim = 2, inDim = 4))
      // both require k >= 1
      if (k > 0) {
        same("rpRerankTopK", Similarity.rpRerankTopK(qs, corpus, k,
          pool = k + 2, outDim = 2, inDim = 4),
          TopKReference.rpRerank(qs, corpus, k, k + 2, outDim = 2, inDim = 4))
        same("mmrTopK", Similarity.mmrTopK(qs, corpus, k, pool = k + 2),
          TopKReference.mmr(qs, corpus, k, k + 2, lamNum = 7, lamDen = 10))
      }
    }
    // the fixture reaches the NULL order: NULL scores rank last, by cid
    val wide = rows(Similarity.bruteForceTopK(qs, corpus, k = 50))
    assert(wide.filter(_(0) == 100L).map(_(3)).distinct == Seq(null))
    assert(wide.filter(_(0) == 101L).last == Seq(101L, 14, 12L, null))
    // k < 1 runs no job
    assert(withJobLabels(Similarity.bruteForceTopK(qs, corpus, 0))._2.isEmpty)
  }

  test("mmrTopK: a NULL embedding in the pool drops before the greedy " +
       "walk (it has no relevance and no similarity)") {
    val corpus = vectors(0L -> Seq(0.9f, 0.1f), 1L -> Seq(0.5f, 0.5f),
      2L -> Seq(0.1f, 0.9f), 3L -> null)
    val q = corpus.filter(col("vec_id") === 1L)
    // plain top-k ranks the NULL-scored vector last
    assert(rows(Similarity.bruteForceTopK(q, corpus, k = 3)).last ==
      Seq(1L, 3, 3L, null))
    val wide = rows(Similarity.mmrTopK(q, corpus, k = 2, pool = 5))
    assert(wide.map(_(2)).toSet == Set(0L, 2L))
    assert(wide == rows(Similarity.mmrTopK(q, corpus, k = 2, pool = 2)))
    // a query without an embedding has no relevant candidate
    assert(Similarity.mmrTopK(corpus.filter(col("vec_id") === 3L), corpus,
      k = 2, pool = 5).count() == 0)
  }

  test("PQ and SQ8 index artifacts are read with declared schemas: " +
       "append and query run no schema-inference job") {
    val vecs = e.select("vec_id", "embedding")
    val local = spark.createDataFrame(
      vecs.filter(col("vec_id") < 10).collect().toSeq.asJava, vecs.schema)
    val (built, added) =
      (vecs.filter(col("vec_id") < 400), vecs.filter(col("vec_id") >= 400))
    val pq = java.nio.file.Files.createTempDirectory("graft_pq_jobs").toString
    val sq = java.nio.file.Files.createTempDirectory("graft_sq_jobs").toString
    Similarity.buildPqIndex(built, pq)
    Similarity.buildSqIndex(built, sq)
    def jobs(f: => Any): Int = withJobLabels(f)._2.size
    // the codebook's broadcast build, the encode argmin's shuffle and
    // the write
    assert(jobs(Similarity.appendToPqIndex(added, pq)) == 3)
    // the stats collect and the write
    assert(jobs(Similarity.appendToSqIndex(added, sq)) == 2)
    // the codebook and LUT broadcast builds, the ADC sum's shuffle and
    // the top-k
    assert(jobs(Similarity.pqTopKIndexed(local, pq, k = 5)) == 4)
    // the stats collect, the query broadcast and the top-k scan
    assert(jobs(Similarity.sqTopKIndexed(local, sq, k = 5)) == 3)
    assert(Similarity.pqTopKIndexed(local, pq, k = 5).count() == 50)
    assert(Similarity.sqTopKIndexed(local, sq, k = 5).count() == 50)
  }

  test("IVF index freshness: a query sees vectors appended after the " +
       "previous query, and a rebuild's new centroids") {
    val vecs = e.select("vec_id", "embedding")
    val local = spark.createDataFrame(
      vecs.filter(col("vec_id") < 3).collect().toSeq.asJava, vecs.schema)
    val corpus = vecs.filter(col("vec_id") >= 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_fresh").toString
    Similarity.buildIvfIndex(corpus, path, nlist = 16)
    def answer = rows(Similarity.ivfTopKIndexed(local, path, k = 5, nprobe = 1))
    val before = answer
    // twice the query vector scores twice its squared norm: rank 1
    val doubled = local.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * 2f).as("embedding"))
    Similarity.appendToIvfIndex(doubled, path)
    val appended = answer
    assert(appended != before)
    assert(appended.filter(_(1) == 1).map(r => r(0) -> r(2)).toSet ==
      Set(0L -> 1000000L, 1L -> 1000001L, 2L -> 1000002L))
    val union = corpus.unionByName(doubled)
    assert(appended == rows(Similarity.ivfTopK(local, union, k = 5,
      nprobe = 1, centroids = Some(spark.read.parquet(s"$path/centroids")))))
    Similarity.buildIvfIndex(union, path, nlist = 8)
    val rebuilt = answer
    assert(rebuilt == rows(Similarity.ivfTopK(local, union, k = 5, nlist = 8,
      nprobe = 1)))
    assert(rebuilt != appended)
  }

  test("persisted PQ index: codebook + code table reload to the exact " +
       "inline pqTopK ranking") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_pqidx_spec").toString
    Similarity.buildPqIndex(e, path)
    val idx = Similarity.pqTopKIndexed(queries, path, k = 5)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.pqTopK(queries, e, k = 5)
      .collect().map(_.toSeq).toSet
    assert(idx.nonEmpty && idx == inline)
  }

  test("incremental PQ maintenance: build(A) + appendToPqIndex(B) with " +
       "the codebook-source rows in A answers exactly as build-at-once " +
       "and as inline pqTopK over the union") {
    val a = e.filter(col("vec_id") < 16 || col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") >= 16 && col("vec_id") % 2 === 1)
    val incrPath = java.nio.file.Files
      .createTempDirectory("graft_pqincr_spec").toString
    Similarity.buildPqIndex(a, incrPath)
    Similarity.appendToPqIndex(b, incrPath)
    val incr = Similarity.pqTopKIndexed(queries, incrPath, k = 5)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.pqTopK(queries, e, k = 5)
      .collect().map(_.toSeq).toSet
    assert(incr.nonEmpty && incr == inline)
  }

  test("incremental SQ8 maintenance: keeping the per-dim extrema " +
       "(sqExtremalIds) in the build shard makes frozen stats equal " +
       "union stats — append answers exactly as inline sqTopK; and the " +
       "extremal shard really is load-bearing") {
    val ext = Similarity.sqExtremalIds(e)
    assert(ext.nonEmpty && ext.size <= 128)
    val a = e.filter(col("vec_id").isin(ext: _*) || col("vec_id") % 2 === 0)
    val b = e.filter(!col("vec_id").isin(ext: _*) && col("vec_id") % 2 === 1)
    val incrPath = java.nio.file.Files
      .createTempDirectory("graft_sqincr_spec").toString
    Similarity.buildSqIndex(a, incrPath)
    Similarity.appendToSqIndex(b, incrPath)
    val incr = Similarity.sqTopKIndexed(queries, incrPath, k = 5)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.sqTopK(queries, e, k = 5)
      .collect().map(_.toSeq).toSet
    assert(incr.nonEmpty && incr == inline)
    // every appended vector's codes landed beside the build shard's
    val nCodes = spark.read.parquet(s"$incrPath/codes").count()
    assert(nCodes === e.count())
  }

  test("persisted SQ8 index: stats + code table reload to the exact " +
       "inline sqTopK ranking (same dequantization arithmetic)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_sqidx_spec").toString
    Similarity.buildSqIndex(e, path)
    val idx = Similarity.sqTopKIndexed(queries, path, k = 5)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.sqTopK(queries, e, k = 5)
      .collect().map(_.toSeq).toSet
    assert(idx.nonEmpty && idx == inline)
  }

  test("IVF: at most k rows per query, never beats brute-force top score") {
    val bf = Similarity.bruteForceTopK(queries, e, k = 1)
      .select("qid", "score").as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfTopK(queries, e, k = 5, nlist = 16, nprobe = 4)
      .orderBy("qid", "rnk").collect()
    val byQ = ivf.groupBy(_.getAs[Long]("qid"))
    assert(byQ.values.forall(_.length <= 5))
    byQ.foreach { case (qid, rows) =>
      val best = rows.map(_.getAs[Long]("score")).max
      assert(best <= bf(qid))
    }
  }

  test("LSH top-k: at most k rows per query, candidates rank exactly, " +
       "never beats brute-force top score") {
    val bf = Similarity.bruteForceTopK(queries, e, k = 1)
      .select("qid", "score").as[(Long, Long)].collect().toMap
    val lsh = Similarity.lshTopK(queries, e, k = 5)
      .orderBy("qid", "rnk").collect()
    val byQ = lsh.groupBy(_.getAs[Long]("qid"))
    assert(byQ.nonEmpty && byQ.values.forall(_.length <= 5))
    byQ.foreach { case (qid, rows) =>
      val scores = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.max <= bf(qid))
      assert(rows.forall(r => r.getAs[Long]("cid") != qid))
    }
  }

  test("k-means centroids: deterministic, and recall >= naive centroids") {
    val cents1 = Similarity.trainCentroids(e, nlist = 8, iters = 2)
    val cents2 = Similarity.trainCentroids(e, nlist = 8, iters = 2)
    assert(cents1.orderBy("cent_id").collect().map(_.toSeq).toSeq ==
      cents2.orderBy("cent_id").collect().map(_.toSeq).toSeq)
    def recall(centroids: Option[org.apache.spark.sql.DataFrame]): Double = {
      val truth = Similarity.bruteForceTopK(queries, e, k = 5)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      val got = Similarity.ivfTopK(queries, e, k = 5, nlist = 8, nprobe = 2,
          centroids = centroids)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    // this corpus is unclustered gaussian noise, so k-means can't beat
    // data-vector centroids (means shrink toward the origin) — assert a
    // sane recall floor + determinism here; the structural win shows on
    // clustered data
    val naive = recall(None)
    val trained = recall(Some(cents1))
    assert(trained > 0.5 && naive > 0.5,
      s"recall collapsed: trained $trained naive $naive")
  }

  test("PQ top-k: exactly k rows per query, ADC scores non-increasing, " +
       "no self; ADC is EXACT for codebook members") {
    val pq = Similarity.pqTopK(queries, e, k = 5)
      .orderBy("qid", "rnk").collect()
    val byQ = pq.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 5 && byQ.values.forall(_.length == 5))
    byQ.foreach { case (qid, rows) =>
      val scores = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(r => r.getAs[Long]("cid") != qid))
    }
    // a codebook member's sub-vectors encode to themselves (its own
    // centroid minimizes |c|^2 - 2<v,c> = |v-c|^2 - |v|^2), so its ADC
    // score collapses to the exact quantized dot product
    val exact = Similarity.bruteForceTopK(queries, e, k = e.count().toInt - 1)
      .filter(col("cid").between(5, 15))
      .select("qid", "cid", "score")
      .as[(Long, Long, Long)].collect()
      .map { case (q, c, s) => (q, c) -> s }.toMap
    val adc = Similarity.pqTopK(queries, e, k = e.count().toInt - 1)
      .filter(col("cid").between(5, 15))
      .select("qid", "cid", "score")
      .as[(Long, Long, Long)].collect()
      .map { case (q, c, s) => (q, c) -> s }.toMap
    assert(adc.keySet == exact.keySet)
    adc.foreach { case (k2, s) => assert(s == exact(k2),
      s"ADC not exact for codebook member pair $k2") }
  }

  test("SQ8 top-k: exactly k rows per query, scores non-increasing, " +
       "and codes reconstruct within one quantization step per dim") {
    val out = Similarity.sqTopK(queries, e, k = 5)
      .orderBy("qid", "rnk").collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 5 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { rows =>
      val scores = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(r => r.getAs[Long]("cid") != r.getAs[Long]("qid")))
    }
    // rank quality: SQ8 top-1 matches exact brute-force top-1 for most
    // queries (8-bit per-dim resolution is near-lossless at dim 64)
    val bf = Similarity.bruteForceTopK(queries, e, k = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    val sq = Similarity.sqTopK(queries, e, k = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    assert(bf.keySet == sq.keySet)
    assert(bf.count { case (q, c) => sq(q) == c } >= 4,
      s"SQ8 top-1 should match brute force on >= 4/5 queries: $bf vs $sq")
  }

  test("knnGraph (bucket self-join) == lshTopK with corpus as queries") {
    // knnGraph's default banding is data-sized (autoBits); hand lshTopK
    // the same sizing so the equivalence holds candidate-for-candidate
    val sized = graft.functions.VectorFunctions.autoBits(e.count())
    val graph = Similarity.knnGraph(e, k = 3)
      .select("qid", "rnk", "cid", "score")
      .as[(Long, Int, Long, Long)].collect().toSet
    val viaTopK = Similarity.lshTopK(e, e, k = 3, bits = sized)
      .select("qid", "rnk", "cid", "score")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(graph == viaTopK)
    assert(graph.nonEmpty)
  }

  test("IVF with nprobe = nlist probes everything -> equals brute force") {
    val bf = Similarity.bruteForceTopK(queries, e, k = 3)
      .select("qid", "rnk", "cid").as[(Long, Int, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, e, k = 3, nlist = 8, nprobe = 8)
      .select("qid", "rnk", "cid").as[(Long, Int, Long)].collect().toSet
    assert(ivf == bf)
  }

  test("kCenterSelect: farthest-point traversal with exact quantized " +
    "L2 and lower-vec_id ties; radius2 non-increasing") {
    import spark.implicits._
    val embs = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(10f, 0f)), (3L, Array(5f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelect(embs, 4).orderBy("sel_order")
      .as[(Int, Long, Long)].collect()
    // seed = lowest vec_id; then x=10 (d2 = 10000^2), then the
    // midpoint x=5 (min-dist 5000^2 to both), then x=1 (1000^2)
    assert(out.toSeq == Seq(
      (1, 0L, 0L), (2, 2L, 100000000L),
      (3, 3L, 25000000L), (4, 1L, 1000000L)))
    val radii = out.drop(1).map(_._3)
    assert(radii.zip(radii.drop(1)).forall { case (a, b) => b <= a })
  }

  test("kCenterSelect: ids never repeat under quantization-identical " +
    "duplicates; k past the corpus stops early; empty corpus -> empty") {
    import spark.implicits._
    val dups = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelect(dups, 5).orderBy("sel_order")
      .as[(Int, Long, Long)].collect()
    // 3 rows (k > n stops early), distinct ids; the duplicate of the
    // seed is selected LAST with radius2 = 0
    assert(out.map(_._2).toSeq == Seq(0L, 2L, 1L))
    assert(out.map(_._2).distinct.length == 3)
    assert(out(2)._3 == 0L)
    val empty = Similarity.kCenterSelect(
      dups.filter(col("vec_id") < 0), 3)
    assert(empty.count() == 0)
  }

  test("mmrTopK: rank 1 is the plain top-1; lambda=1 degenerates to " +
       "bruteForceTopK; output is partition-invariant") {
    val mmr = Similarity.mmrTopK(queries, e, k = 4, pool = 12)
      .orderBy("qid", "rnk").collect()
    val top1 = Similarity.bruteForceTopK(queries, e, k = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    mmr.filter(_.getAs[Int]("rnk") == 1).foreach { r =>
      assert(top1(r.getAs[Long]("qid")) === r.getAs[Long]("cid"))
    }
    // lambda = 1: no diversity penalty — MMR order IS relevance order
    val lam1 = Similarity.mmrTopK(queries, e, k = 4, pool = 12,
        lamNum = 1, lamDen = 1)
      .select("qid", "rnk", "cid").as[(Long, Int, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, e, k = 4)
      .select("qid", "rnk", "cid").as[(Long, Int, Long)].collect().toSet
    assert(lam1 === brute)
    // partition invariance of the greedy walk
    val repart = Similarity.mmrTopK(queries, e.repartition(7), k = 4,
        pool = 12).orderBy("qid", "rnk").collect()
    assert(repart.map(_.toSeq).toSeq === mmr.map(_.toSeq).toSeq)
  }

  test("mmrTopK diversity law: on a planted two-cluster corpus, plain " +
       "top-2 returns one cluster, MMR crosses clusters at rank 2") {
    // query between two orthogonal clusters, tilted toward A: cluster A
    // members are near-copies of each other (huge mutual dot), cluster B
    // is orthogonal to A (tiny penalty) with real relevance via the tilt
    val rows = Seq(
      (100L, Array(1000f, 300f, 0f, 0f)),    // query
      (1L, Array(1000f, 0f, 0f, 0f)),        // A
      (2L, Array(999f, 5f, 0f, 0f)),         // A
      (3L, Array(998f, 10f, 0f, 0f)),        // A
      (4L, Array(0f, 1000f, 0f, 0f)),        // B
      (5L, Array(5f, 999f, 0f, 0f)))         // B
    val corpus = rows.toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 100L)
    val c = corpus.filter(col("vec_id") =!= 100L)
    val brute = Similarity.bruteForceTopK(q, c, k = 2)
      .orderBy("rnk").select("cid").as[Long].collect()
    assert(brute.toSet === Set(3L, 2L), "plain top-2 stays in cluster A")
    // lambda = 0.5: the second near-copy's ~rel-sized penalty drops it
    // below cluster B's barely-penalized members
    val mmr = Similarity.mmrTopK(q, c, k = 2, pool = 5,
        lamNum = 1, lamDen = 2)
      .orderBy("rnk").select("cid").as[Long].collect()
    assert(mmr(0) === 3L)
    assert(mmr(1) === 4L,
      s"rank 2 should cross to cluster B, got ${mmr.toSeq}")
  }

  test("randomProject laws: linear (scalings scale, copies collide), " +
       "deterministic across partitionings, and a planted near-copy is " +
       "rank 1 in the projected space") {
    // exact-at-3-decimals floats so quantize(2x) == 2*quantize(x)
    val base = Array.tabulate(64)(i => ((i % 9) - 4) * 0.25f)
    val rows = Seq(
      (0L, base),
      (1L, base.map(_ * 2)),                       // scaled copy
      (2L, base.clone()),                          // exact copy
      (3L, Array.tabulate(64)(i => ((i % 7) - 3) * 0.5f)),
      (4L, Array.tabulate(64)(i => (((i * 3) % 11) - 5) * 0.25f)))
    val df = rows.toDF("vec_id", "embedding")
    val pv = Similarity.randomProject(df, outDim = 16)
      .select("vec_id", "pv").as[(Long, Array[Long])].collect().toMap
    assert(pv(1).toSeq === pv(0).map(_ * 2).toSeq, "linearity under x2")
    assert(pv(2).toSeq === pv(0).toSeq, "copies collide")
    val repart = Similarity.randomProject(df.repartition(3), 16)
      .select("vec_id", "pv").as[(Long, Array[Long])].collect().toMap
    assert(repart.view.mapValues(_.toSeq).toMap ===
      pv.view.mapValues(_.toSeq).toMap)
    // planted twins: under the dot metric the x2-scaled copy (2x the
    // dot) outranks the exact copy — top-2 is exactly the twin pair,
    // scaled first
    val top = Similarity.rpTopK(df.filter(col("vec_id") === 0L), df,
        k = 2, outDim = 16)
      .orderBy("rnk").select("cid").as[Long].collect()
    assert(top.toSeq === Seq(1L, 2L))
  }

  test("rpRerankTopK: pool = corpus size degenerates to exact " +
       "bruteForceTopK, and the pool=50 cascade keeps useful recall") {
    val n = e.count().toInt
    val full = Similarity.rpRerankTopK(queries, e, k = 5, pool = n,
        outDim = 16)
      .select("qid", "rnk", "cid").as[(Long, Int, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, e, k = 5)
      .select("qid", "rnk", "cid").as[(Long, Int, Long)].collect().toSet
    assert(full === brute, "full-pool cascade must equal brute force")
    val cascade = Similarity.rpRerankTopK(queries, e, k = 5, pool = 50,
        outDim = 16)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val bruteSet = brute.map(t => (t._1, t._3))
    val recall = cascade.intersect(bruteSet).size.toDouble / bruteSet.size
    // random unit vectors are the WORST case for a 16-dim projection
    // (no cluster structure to preserve); still must beat chance by far
    assert(recall >= 0.2, s"cascade recall@5 collapsed: $recall")
  }

  test("kCenterCensus: members partition the corpus, and the realized " +
    "covering radius equals the (k+1)th selection's radius2") {
    import spark.implicits._
    val embs = spark.read.parquet(sf() + "/embeddings.parquet")
    val n = embs.count()
    val census = Similarity.kCenterCensus(embs, 4)
      .as[(Int, Long, Long, Long)].collect()
    assert(census.map(_._3).sum == n)
    val next = Similarity.kCenterSelect(embs, 5)
      .filter(col("sel_order") === 5)
      .select(col("radius2")).as[Long].head()
    assert(census.map(_._4).max == next)
  }
}
