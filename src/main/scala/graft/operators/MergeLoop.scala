package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.engine.DriverTier

/** The driver tier shared by [[Bpe]] and [[WordPiece]] merge training:
  * under the vocab caps the checkpointed (word, freq, syms) base arrives
  * in ONE bounded collect that is also the gate
  * ([[graft.engine.DriverTier]]), and the k merge iterations run on the
  * driver with zero jobs instead of 1-2 vocab-bounded jobs each.
  *
  * Bit-identity: counts are exact integer sums; tie-breaks compare
  * symbols as UTF-8 BINARY (UTF8String.compareTo, Spark's string order;
  * String.compareTo diverges on supplementary-plane characters); the
  * rewrite calls the SAME [[graft.plans.MergeListFold]] kernel the
  * distributed plans embed; the symbols are Spark's own
  * `split(word, "")`, never re-derived locally.
  */
private[operators] object MergeLoop {

  /** Mutable word entry: frequency plus the current symbol array. */
  final class WordSyms(val freq: Long, var syms: Array[UTF8String])

  /** Word / symbol caps of the driver tier: the collected base is
    * ~40-60 B per single-character symbol, so the driver copy stays
    * under ~100 MB.
    */
  val MaxWords = 250000L
  val MaxSyms = 1000000L

  /** The base's words with their collected UTF8String symbols (the word
    * string is kept for the segmentation table), or `None` past
    * [[MaxWords]] words or [[MaxSyms]] symbols.
    */
  def collect(base: DataFrame,
              label: String): Option[Array[(String, WordSyms)]] =
    DriverTier.collect(base, MaxWords, label)
      .filter(_.iterator.map(_.getArray(2).numElements().toLong).sum <=
        MaxSyms)
      .map(_.map { r =>
        val syms = r.getArray(2)
        (r.getUTF8String(0).toString, new WordSyms(r.getLong(1),
          Array.tabulate(syms.numElements())(syms.getUTF8String)))
      })

  /** Frequency-weighted, overlap-inclusive adjacent-pair counts — the
    * local mirror of `explode(AdjacentPairs(syms))` + `sum(freq)`.
    */
  def pairCounts(words: Array[(String, WordSyms)])
      : java.util.HashMap[(UTF8String, UTF8String), Long] = {
    val m = new java.util.HashMap[(UTF8String, UTF8String), Long]()
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)._2
      val s = w.syms
      var i = 0
      while (i < s.length - 1) {
        m.merge((s(i), s(i + 1)), w.freq, (x, y) => x + y)
        i += 1
      }
      wi += 1
    }
    m
  }

  /** Frequency-weighted symbol-occurrence counts — the local mirror of
    * `explode(syms)` + `sum(freq)` (1-symbol words included: they are
    * merge outputs whose mass must stay in denominators).
    */
  def unitCounts(words: Array[(String, WordSyms)])
      : java.util.HashMap[UTF8String, Long] = {
    val m = new java.util.HashMap[UTF8String, Long]()
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)._2
      val s = w.syms
      var i = 0
      while (i < s.length) {
        m.merge(s(i), w.freq, (x, y) => x + y)
        i += 1
      }
      wi += 1
    }
    m
  }

  /** Rewrite every word with one (a, b) merge through the exact
    * [[graft.plans.MergeListFold]] kernel the distributed projections
    * evaluate — sequential single-merge application composes to the
    * same fold as the accumulated merge list (the kernel applies its
    * list sequentially in place).
    */
  def applyMerge(words: Array[(String, WordSyms)], a: UTF8String,
                 b: UTF8String): Unit = {
    val fold = graft.plans.MergeListFold(
      BoundReference(0, ArrayType(StringType), nullable = false),
      Seq((a.toString, b.toString)))
    val row = new GenericInternalRow(1)
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)._2
      if (w.syms.length > 1) {
        row.update(0, new GenericArrayData(
          w.syms.asInstanceOf[Array[Any]]))
        val out = fold.eval(row).asInstanceOf[ArrayData]
        val n = out.numElements()
        val next = new Array[UTF8String](n)
        var i = 0
        while (i < n) { next(i) = out.getUTF8String(i); i += 1 }
        w.syms = next
      }
      wi += 1
    }
  }

  /** Rows for the returned segmentation DataFrame, in collected order
    * (consumers aggregate or join — row order immaterial, schema taken
    * from the distributed base verbatim).
    */
  def segRows(words: Array[(String, WordSyms)])
      : Seq[org.apache.spark.sql.Row] =
    words.toSeq.map { case (word, w) =>
      org.apache.spark.sql.Row(word, w.freq,
        w.syms.toSeq.map(_.toString))
    }
}
