package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k state: parallel (scores, ids) arrays sorted by
  * (score desc, id asc), at most k entries.
  */
final class TopKPairsBuffer(val k: Int) extends Serializable {
  var n: Int = 0
  val scores = new Array[Long](k)
  val ids = new Array[Long](k)

  private def better(s: Long, id: Long, i: Int): Boolean =
    s > scores(i) || (s == scores(i) && id < ids(i))

  def insert(s: Long, id: Long, distinctIds: Boolean): Unit = {
    if (distinctIds) {
      var i = 0
      while (i < n) {
        if (ids(i) == id) {
          // duplicate id: keep the better copy, so results are
          // order-independent even when a caller feeds unequal scores
          // for one id (LSH streams carry equal scores; replace == drop)
          if (s <= scores(i)) return
          var j = i
          while (j < n - 1) { scores(j) = scores(j + 1); ids(j) = ids(j + 1); j += 1 }
          n -= 1
          i = n
        }
        i += 1
      }
    }
    if (n < k) {
      // shift worse entries right, insert in order
      var i = n
      while (i > 0 && better(s, id, i - 1)) {
        scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
      }
      scores(i) = s; ids(i) = id; n += 1
    } else if (better(s, id, n - 1)) {
      var i = n - 1
      while (i > 0 && better(s, id, i - 1)) {
        scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
      }
      scores(i) = s; ids(i) = id
    }
  }
}

/** Catalyst-native per-group top-k over (score, id) long pairs —
  * `ArrayType(Struct(score, id))` sorted by (score desc, id asc).
  *
  * Why not the typed `Aggregator`: Dataset `groupByKey(...).agg(...)`
  * pays per-ROW object work (row → tuple deserialization, boxing, and
  * kryo at every buffer touch) — measured 97 s where a native
  * `groupBy.agg(max)` over the same 241M-row stream takes 8 s. This
  * TypedImperativeAggregate reads two unboxed longs per row, keeps a
  * bounded primitive-array buffer, and serializes it only at shuffle
  * boundaries (≤ k·16+8 bytes per group per map task), so partial
  * aggregation bounds the shuffle exactly like any native agg.
  *
  * `distinctIds` absorbs with-multiplicity inputs (e.g. LSH candidate
  * pairs sharing several bands): a (score, id) whose id is already
  * held keeps whichever copy scores higher — LSH streams carry equal
  * scores per id (where replace == drop), and the replace makes the
  * aggregator order-independent for any other caller. Tie semantics
  * match `row_number over (order by score desc, id asc)`.
  */
case class TopKPairsAgg(
    score: Expression, id: Expression, k: Int, distinctIds: Boolean,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKPairsBuffer] {

  require(k > 0, s"k must be positive, got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", LongType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "topk_pairs"

  override def createAggregationBuffer(): TopKPairsBuffer =
    new TopKPairsBuffer(k)

  override def update(buf: TopKPairsBuffer, input: InternalRow): TopKPairsBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Long], i.asInstanceOf[Long], distinctIds)
    buf
  }

  override def merge(buf: TopKPairsBuffer, other: TopKPairsBuffer): TopKPairsBuffer = {
    var i = 0
    while (i < other.n) {
      buf.insert(other.scores(i), other.ids(i), distinctIds)
      i += 1
    }
    buf
  }

  override def eval(buf: TopKPairsBuffer): Any = {
    val rows = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      rows(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKPairsBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.n * 16)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putLong(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairsBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKPairsBuffer(k)
    var i = 0
    while (i < n) {
      // input is already sorted and ≤ k entries: append directly
      buf.scores(i) = bb.getLong; buf.ids(i) = bb.getLong; i += 1
    }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairsAgg =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKPairsAgg {
  /** Column-level API: per-group top-k (score, id) pairs. */
  def apply(score: Column, id: Column, k: Int,
            distinctIds: Boolean): Column =
    ColumnBridge.column(new TopKPairsAgg(
      ColumnBridge.expression(score), ColumnBridge.expression(id),
      k, distinctIds).toAggregateExpression())
}
