package graft.operators

import graft.SparkSpec
import graft.engine.DriverTier

/** The driver-tier gate ([[DriverTier.collect]]) and the jobs each of its
  * sites runs per call in its driver regime. Every site used to run a
  * count (two jobs under AQE when it aggregates, one for a plain count)
  * ahead of the collect of the same frame; the bounded collect is now
  * the gate, so each pin below is at least one job under the count-then-
  * collect form.
  */
class DriverTierSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq((1L, "low low lower newest widest"),
    (2L, "the cat sat on the mat"), (3L, "the cat sat"),
    (4L, "newest newest low")).toDF("doc_id", "text")

  test("collect: one labelled job; None past the cap, the rows at or " +
       "under it; caps past Int.MaxValue collect everything") {
    val ten = spark.range(10).toDF("id")
    val (at, jobs) = withJobLabels(DriverTier.collect(ten, 10L, "t: gate"))
    assert(at.map(_.map(_.getLong(0)).sorted.toSeq) == Some(0L until 10L))
    assert(jobs == Seq("t: gate"), jobs)
    assert(DriverTier.collect(ten, 9L, "t").isEmpty)
    assert(DriverTier.collect(ten, 0L, "t").isEmpty)
    assert(DriverTier.collect(ten, -1L, "t").isEmpty)
    assert(DriverTier.collect(ten, Long.MaxValue, "t").map(_.length) ==
      Some(10))
    assert(DriverTier.collect(ten.limit(0), 0L, "t").map(_.length) ==
      Some(0))
  }

  /** The labels of the jobs `f` runs, checked to hold `label` once. */
  private def jobs(label: String)(f: => Any): Seq[String] = {
    val (_, labels) = withJobLabels(f)
    assert(labels.count(_ == label) == 1, labels)
    labels
  }

  test("merge training: the wordFreq checkpoint and one gate collect") {
    assert(jobs("graft.bpe: driver tier collect")(
      Bpe.trainMerges(docs, 5)).size == 3)
    assert(jobs("graft.wordpiece: driver tier collect")(
      WordPiece.trainMerges(docs, 5)).size == 3)
  }

  test("Unigram.train: the wordFreq checkpoint and one gate collect") {
    assert(jobs("graft.unigram: driver tier collect")(
      Unigram.train(docs, vocabSize = 10)).size == 3)
  }

  test("LM sites: the LM checkpoint, one gate collect and (JM only) the " +
       "unigram collect") {
    val label = "graft.lm: driver tier collect"
    assert(jobs(label)(TextAnalysis.lmPerplexity(docs)).size == 5)
    assert(jobs(label)(TextAnalysis.knPerplexity(docs)).size == 3)
    assert(jobs(label)(TextAnalysis.bigramCoverage(docs)).size == 3)
  }

  test("Graph.pageRank: the node gate runs no count ahead of its collect") {
    val es = (0L until 30L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 30), (i, (i + 1) % 30))).toDF("src", "dst")
    val (_, labels) = withJobLabels(Graph.pageRank(es, iters = 3))
    // the gate runs first; AQE's exchange jobs of the node set's
    // distinct carry its label too
    assert(labels.takeWhile(_ == "graft.pagerank: driver tier collect")
      .nonEmpty, labels)
    assert(labels.size == 9, labels)
  }

  test("connectedComponents: a small graph's checkpoint and one gate " +
       "collect") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("d1", "d2")
    val labels = jobs("graft.cc: driver union-find collect")(
      Dedup.connectedComponents(pairs))
    assert(labels.size == 3, labels)
  }

  test("recursiveTreeCensus: one gate collect of the customer keys") {
    val s = spark.newSession()
    locally {
      import s.implicits._
      (1L to 300L).toDF("c_custkey").createOrReplaceTempView("customer")
    }
    val (_, labels) = withJobLabels(graft.SparkEntry.recursiveTreeCensus(s))
    assert(labels == Seq("graft.recursive: driver tier collect"), labels)
  }
}
