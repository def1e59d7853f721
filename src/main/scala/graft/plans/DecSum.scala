package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact-decimal sums over double columns as ONE codegen'd long-pair
  * aggregate — the engine's hash-stability numeric policy
  * (`sum(cast(x as decimal(p,s))).cast("double")`) without the decimal
  * tax.
  *
  * The policy's cost is NOT the cast: it is the per-row aggregate add.
  * `Sum(decimal(p,s))` buffers at decimal(p+10,s); precision > 18
  * buffers are BigDecimal-backed in the UnsafeRow, so every update is
  * a BigDecimal allocate-and-add (measured: 0.22 s double sums vs
  * 0.63 s decimal sums for the same groupBy at sf0.1, by a probe tool
  * last present at commit 6989ace; see PLANS.md "Removed probe tools").
  * Here the buffer is the exact 128-bit unscaled integer as two longs
  * (hi, lo) — two's-complement limb arithmetic, wrap-free for any
  * group under ~1.7e20 rows of max-magnitude values (five orders of
  * magnitude past a 100 TB corpus) — plus the same isEmpty bit
  * Spark's Sum carries.
  *
  * Bit-identity with the decimal form is engineered per component and
  * pinned by DecSumSpec:
  *   - double → unscaled long mirrors Cast double→decimal exactly:
  *     HALF_UP on the SHORTEST decimal representation
  *     (java.math.BigDecimal.valueOf, verified: cast(2.675D) = 2.68),
  *     NaN/Infinity → NULL (both eval modes — verified), precision
  *     overflow → ArithmeticException under ANSI / NULL otherwise.
  *     The fast path (one multiply + floor) bails to the BigDecimal
  *     path whenever the scaled value lies within a generous error
  *     window of a .5 rounding boundary or past 2^52;
  *   - integer sums are order-free, so partial/merge layout cannot
  *     change the result;
  *   - the final value mirrors Sum's CheckOverflowInSum on
  *     decimal(min(38,p+10), s) — ANSI throw / legacy NULL past the
  *     bound — then Cast decimal→double (BigDecimal.doubleValue, one
  *     correctly-rounded conversion, never computed via long→double
  *     division).
  *
  * Restriction: p <= 18 (every unscaled row value fits a long — which
  * is also what makes the decimal form's cast cheap to mirror).
  */
object DecSum {

  private val Pow10: Array[Long] =
    (0 to 18).map(i => math.pow(10, i).toLong).toArray

  /** Cast(double → decimal(p,s)) as an unscaled long. Null for NULL
    * semantics (NaN/Inf; finite overflow under legacy mode); throws
    * under ANSI on finite overflow exactly where the Cast throws.
    */
  def toScaled(d: Double, p: Int, s: Int, ansi: Boolean): java.lang.Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
      return null // Cast: BigDecimal.valueOf throws NFE -> NULL, both modes
    val m = d * Pow10(s)
    val am = math.abs(m)
    if (am < 4.5e15) { // < 2^52: floor/frac arithmetic below is exact
      val f = math.floor(am)
      val frac = am - f // exact: both < 2^52, frac a multiple of ulp(am)
      // |true_scaled - m| <= ulp/2 from the multiply + ulp/2 from the
      // shortest-rep gap ~ am * 2.3e-16; window is ~400x that, plus an
      // absolute floor for tiny magnitudes
      val err = am * 1e-13 + 1e-9
      if (frac < 0.5 - err || frac > 0.5 + err) {
        val n = f.toLong + (if (frac > 0.5) 1L else 0L)
        if (n < Pow10(p)) // precision bound (10^18 < Long.Max when p=18)
          return java.lang.Long.valueOf(if (d < 0) -n else n)
      }
    }
    // exact mirror of Cast: shortest decimal rep, HALF_UP to scale s
    val bd = java.math.BigDecimal.valueOf(d)
      .setScale(s, java.math.RoundingMode.HALF_UP)
    if (bd.precision > p) {
      if (ansi) throw new ArithmeticException(
        s"${bd.toPlainString} cannot be represented as Decimal($p, $s). " +
          "If necessary set \"spark.sql.ansi.enabled\" to \"false\" to " +
          "bypass this error, and return NULL instead.")
      else return null
    }
    java.lang.Long.valueOf(bd.unscaledValue.longValueExact)
  }

  /** CheckOverflowInSum(decimal(resP, s)) + Cast(→ double) over the
    * 128-bit unscaled sum.
    */
  def toDouble(hi: Long, lo: Long, resP: Int, s: Int,
               ansi: Boolean): java.lang.Double = {
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(i + 8) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    val bd = new java.math.BigDecimal(new java.math.BigInteger(bytes), s)
    if (bd.precision > resP) {
      if (ansi) throw new ArithmeticException(
        s"${bd.toPlainString} cannot be represented as Decimal($resP, $s).")
      else return null
    }
    java.lang.Double.valueOf(bd.doubleValue)
  }

  /** `sum(c.cast(s"decimal($p,$s)")).cast("double")`, fused. */
  def asDouble(c: Column, scale: Int, precision: Int = 18): Column =
    ColumnBridge.column(DecSumAsDouble(ColumnBridge.expression(c),
      precision, scale, SQLConf.get.ansiEnabled).toAggregateExpression())
}

/** Scalar: Cast(double → decimal(p,s)) as its unscaled long (see
  * [[DecSum.toScaled]]). Nullable even for non-null input (NaN/Inf,
  * legacy-mode overflow).
  */
case class DoubleToScaledLong(child: Expression, p: Int, s: Int,
                              ansi: Boolean)
    extends UnaryExpression {
  require(p >= 1 && p <= 18 && s >= 0 && s <= p,
    s"need 1 <= precision <= 18, 0 <= scale <= precision, got ($p,$s)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs DOUBLE, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "double_to_scaled_long"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else DecSum.toScaled(v.asInstanceOf[Double], p, s, ansi)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val boxed = ctx.freshName("scaled")
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = -1L;
        if (!${c.isNull}) {
          java.lang.Long $boxed =
            graft.plans.DecSum.toScaled(${c.value}, $p, $s, $ansi);
          if ($boxed != null) {
            ${ev.isNull} = false;
            ${ev.value} = $boxed.longValue();
          }
        }""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): DoubleToScaledLong = copy(child = newChild)
}

/** Scalar: the final fold of [[DecSumAsDouble]] — 128-bit unscaled sum
  * (hi, lo) → overflow-checked decimal(resP, s) → double.
  */
case class Dec128ToDouble(hiExpr: Expression, loExpr: Expression,
                          resP: Int, s: Int, ansi: Boolean)
    extends BinaryExpression {
  override def left: Expression = hiExpr
  override def right: Expression = loExpr
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dec128_to_double"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val h = hiExpr.eval(input); val l = loExpr.eval(input)
    if (h == null || l == null) null
    else DecSum.toDouble(h.asInstanceOf[Long], l.asInstanceOf[Long],
      resP, s, ansi)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val h = hiExpr.genCode(ctx); val l = loExpr.genCode(ctx)
    val boxed = ctx.freshName("dbl")
    ev.copy(code =
      code"""
        ${h.code}
        ${l.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${h.isNull} && !${l.isNull}) {
          java.lang.Double $boxed = graft.plans.DecSum.toDouble(
            ${h.value}, ${l.value}, $resP, $s, $ansi);
          if ($boxed != null) {
            ${ev.isNull} = false;
            ${ev.value} = $boxed.doubleValue();
          }
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dec128ToDouble =
    copy(hiExpr = newLeft, loExpr = newRight)
}

/** The fused aggregate: buffer (hi, lo, isEmpty) — exact 128-bit
  * unscaled integer accumulation with wrap-free two's-complement limb
  * adds (LEGACY-mode Add on purpose: limb arithmetic WANTS 64-bit
  * wraparound; the carry is recovered via an unsigned compare).
  */
case class DecSumAsDouble(child: Expression, precision: Int, scale: Int,
                          ansi: Boolean)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs DOUBLE, got ${other.sql}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dec_sum_as_double"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, isEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private val signBit = Literal(Long.MinValue)
  private def add(l: Expression, r: Expression): Expression =
    Add(l, r, EvalMode.LEGACY)
  // carry-out of the unsigned 64-bit add a + b: (a + b) <u a
  private def carry(a: Expression, b: Expression): Expression =
    If(LessThan(BitwiseXor(add(a, b), signBit), BitwiseXor(a, signBit)),
      Literal(1L), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = {
    val u = DoubleToScaledLong(child, precision, scale, ansi)
    val v = Coalesce(Seq(u, Literal(0L))) // adding 0 is the identity
    Seq(
      add(add(hi, ShiftRight(v, Literal(63))), carry(lo, v)),
      add(lo, v),
      And(isEmpty, IsNull(u)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    add(add(hi.left, hi.right), carry(lo.left, lo.right)),
    add(lo.left, lo.right),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, DoubleType),
      Dec128ToDouble(hi, lo, math.min(38, precision + 10), scale, ansi))

  override protected def withNewChildInternal(
      newChild: Expression): DecSumAsDouble = copy(child = newChild)
}
