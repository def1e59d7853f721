package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd intersection SIZE of two SORTED-ASCENDING
  * ArrayType(LongType) columns via a two-pointer merge walk.
  *
  * The built-in `size(array_intersect(a, b))` allocates and fills an
  * OpenHashSet per ROW and materializes the intersection array it
  * immediately discards — in the near-dup verification hot loop
  * (millions of candidate pairs x hundreds of shingle hashes) that is
  * the dominant CPU term. The merge walk does zero allocation, O(n+m)
  * comparisons, and inlines into the surrounding whole-stage codegen.
  *
  * PRECONDITION: both arrays sorted ascending with distinct elements
  * (the shape `sort_array(collect_set(...))`-style producers emit).
  * Semantics match size(array_intersect) on that shape; NULL if either
  * side is NULL.
  */
case class SortedLongArrayIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two ARRAY<BIGINT> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_long_array_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedLongArrayIntersectSize.count(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongArrayIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedLongArrayIntersectSize {
  /** The merge walk itself (the interpreted form; driver-side callers
    * use it directly on collected arrays).
    */
  def count(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  /** Column-level API: |a ∩ b| for sorted distinct long arrays. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      new SortedLongArrayIntersectSize(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))
}

/** Early-abandoning variant of [[SortedLongArrayIntersectSize]] for
  * verification filters of the form `|a ∩ b| ≥ req`: the merge walk
  * keeps the running upper bound c + min(remaining_a, remaining_b) and
  * returns −1 the moment that bound drops below `req` — the true size
  * is then provably < req, so a caller that only KEEPS rows with
  * intersection ≥ req (any τ-threshold verify with τ > 0) filters the
  * sentinel exactly like the row's true (sub-threshold) size. Callers
  * that output the size unconditionally must use the exact kernel.
  *
  * `req` is evaluated per row (DoubleType); req ≤ 0 (or null) never
  * abandons, degenerating to the exact walk. The abandon check costs
  * two predictable int compares on the MISS path only — match steps
  * leave the bound unchanged (c and both remainders move together).
  */
case class SortedLongArrayIntersectSizeAtLeast(
    left: Expression, right: Expression, req: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = req

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType) &&
        req.dataType == org.apache.spark.sql.types.DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (ARRAY<BIGINT>, ARRAY<BIGINT>, DOUBLE), got " +
        s"${left.dataType.sql}, ${right.dataType.sql}, ${req.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_long_array_intersect_size_at_least"

  override protected def nullSafeEval(a: Any, b: Any, r: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    // smallest integer count that satisfies the caller's bound; ≤ 0
    // disables abandonment (exact walk)
    val reqL = math.ceil(r.asInstanceOf[Double]).toLong
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else {
        if (xv < yv) i += 1 else j += 1
        if (c + (nx - i) < reqL && c + (ny - j) < reqL) return -1L
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, r) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val reqL = ctx.freshName("reqL")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |long $reqL = (long) java.lang.Math.ceil($r);
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else {
         |    if ($xv < $yv) { $i++; } else { $j++; }
         |    if ($c + ($nx - $i) < $reqL && $c + ($ny - $j) < $reqL) {
         |      $c = -1L; break;
         |    }
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SortedLongArrayIntersectSizeAtLeast =
    copy(left = newFirst, right = newSecond, req = newThird)
}

object SortedLongArrayIntersectSizeAtLeast {
  /** Column-level API: |a ∩ b| when ≥ req, else −1. */
  def apply(a: Column, b: Column, req: Column): Column =
    ColumnBridge.column(
      new SortedLongArrayIntersectSizeAtLeast(ColumnBridge.expression(a),
        ColumnBridge.expression(b), ColumnBridge.expression(req)))
}
