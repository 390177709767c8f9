package graft.plans

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BinaryExpression, BoundReference, Cast, EvalMode, Expression, GenericInternalRow, IsNull, Literal, Multiply, NumericEvalContext, Or, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.{CurrentOrigin, UnaryLike}
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal, DecimalType, DoubleType, LongType}

/** Exact fixed-point kernels for the decimal arithmetic graft's
  * relational queries run on every row: `cast(double AS decimal(p,s))`,
  * exact decimal products and grouped decimal sums. Spark evaluates all
  * three on `java.math.BigDecimal` (the cast parses `Double.toString`,
  * `Decimal.*` always multiplies BigDecimals, and a sum buffer wider
  * than 18 digits is stored as BigInteger bytes), so each row allocates.
  *
  * [[FixedPointRule]] swaps each for a kernel on unscaled longs whose
  * result equals Spark's in value, scale, null-ness and error: every
  * kernel takes its fast path only when it can prove the answer, and
  * otherwise evaluates the original Spark expression on the same input.
  * `spark.sql.optimizer.excludedRules=graft.plans.FixedPointRule`
  * restores Spark's own expressions (the parity reference).
  */
object FixedPoint {
  /** "No fast answer": the kernel must run Spark's expression. */
  final val NoFast = Long.MinValue

  private val Pow10L: Array[Long] = Decimal.POW_10
  private val Pow10D: Array[Double] = Pow10L.map(_.toDouble) // exact up to 10^22
  private val Long18 = Pow10L(18)

  /** Fast-path bound on |d|·10^s: below 2^40 the double product is
    * within 2^-12 of the decimal value of `Double.toString(d)`·10^s
    * (both errors are under 2^-53 relative), far inside [[Guard]].
    */
  private val CastBound = (1L << 40).toDouble
  /** Half-width of the band around a .5 fraction that runs Spark's cast. */
  private val Guard = 1.0 / 1024

  /** Unscaled value of `cast(d AS decimal(precision, scale))`, or
    * [[NoFast]]. Spark rounds the decimal string of `d` HALF_UP; that
    * string parses back to `d`, so |d|·10^s rounded half-up is the same
    * integer whenever its fraction is outside the guard band of .5.
    * NaN, ±Inf, |y| ≥ 2^40, near-ties and overflow return NoFast.
    */
  def castUnscaled(d: Double, precision: Int, scale: Int): Long = {
    val y = Math.abs(d) * Pow10D(scale)
    if (!(y < CastBound)) return NoFast
    val f = Math.floor(y)
    val r = y - f
    if (Math.abs(r - 0.5) <= Guard) return NoFast
    val u = f.toLong + (if (r > 0.5) 1L else 0L)
    if (u >= Pow10L(precision)) NoFast
    else if (d < 0) -u else u
  }

  /** `d`'s unscaled value as a long when its scale is `scale` and it has
    * one (always for a long-backed Decimal), else [[NoFast]].
    */
  def unscaled(d: Decimal, scale: Int): Long =
    if (d.scale != scale) NoFast
    else try d.toUnscaledLong catch { case _: ArithmeticException => NoFast }

  /** Exact `a × b` as a long-backed decimal(precision, sa+sb), or null
    * when either factor or the product leaves the long range.
    */
  def timesOrNull(a: Decimal, sa: Int, b: Decimal, sb: Int, precision: Int): Decimal = {
    val x = unscaled(a, sa)
    val y = unscaled(b, sb)
    if (x == NoFast || y == NoFast) return null
    val p = x * y
    if (Math.multiplyHigh(x, y) != (p >> 63) || p <= -Long18 || p >= Long18) null
    else Decimal.createUnsafe(p, precision, sa + sb)
  }

  private def wide(d: Decimal, scale: Int): BigInteger =
    d.toJavaBigDecimal.setScale(scale, RoundingMode.HALF_UP).unscaledValue

  /** Low 64 bits of `d`'s unscaled value at `scale`. */
  def lowWord(d: Decimal, scale: Int): Long = {
    val v = unscaled(d, scale)
    if (v != NoFast) v else wide(d, scale).longValue
  }

  /** High 64 bits of `d`'s unscaled value at `scale`, two's complement. */
  def highWord(d: Decimal, scale: Int): Long = {
    val v = unscaled(d, scale)
    if (v != NoFast) v >> 63 else wide(d, scale).shiftRight(64).longValue
  }

  /** High word of the 128-bit sum (hi:lo) + (xHi:xLo). */
  def addHi(hi: Long, lo: Long, xHi: Long, xLo: Long): Long =
    hi + xHi + (if (java.lang.Long.compareUnsigned(lo + xLo, lo) < 0) 1L else 0L)

  private val Limit: Array[(Long, Long)] = Array.tabulate(39) { p =>
    val b = BigInteger.TEN.pow(p)
    (b.shiftRight(64).longValue, b.longValue)
  }

  /** Whether (hi:lo) + (xHi:xLo) leaves the signed 128-bit range or
    * reaches 10^precision in magnitude (precision ≥ 19): where Spark's
    * decimal(precision) sum buffer turns null.
    */
  def addOverflows(hi: Long, lo: Long, xHi: Long, xLo: Long, precision: Int): Boolean = {
    val l = lo + xLo
    val h = addHi(hi, lo, xHi, xLo)
    if (((hi ^ h) & (xHi ^ h)) < 0) return true
    if (h == (l >> 63)) return false // |sum| < 2^63 < 10^19
    val (mh, ml) = if (h < 0) (~h + (if (l == 0) 1L else 0L), -l) else (h, l)
    val (th, tl) = Limit(precision)
    mh < 0 || mh > th || (mh == th && java.lang.Long.compareUnsigned(ml, tl) >= 0)
  }

  /** The 128-bit unscaled (hi:lo) as a decimal(precision, scale). */
  def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal =
    if (hi == (lo >> 63) && lo > -Long18 && lo < Long18) Decimal.createUnsafe(lo, precision, scale)
    else {
      val u = BigInteger.valueOf(hi).shiftLeft(64)
        .add(BigInteger.valueOf(lo >>> 32).shiftLeft(32))
        .add(BigInteger.valueOf(lo & 0xffffffffL))
      Decimal(new JBigDecimal(u, scale), precision, scale)
    }
}

/** `cast(child AS dataType)` for a double child and precision ≤ 18: the
  * long fast path of [[FixedPoint.castUnscaled]], else Spark's `Cast`
  * (same mode, time zone and query context) on the same value.
  */
case class FixedPointCast(child: Expression, dataType: DecimalType,
                          timeZoneId: Option[String], evalMode: EvalMode.Value)
    extends UnaryExpression {
  @transient private lazy val fallback: Cast = CurrentOrigin.withOrigin(origin)(
    Cast(BoundReference(0, DoubleType, child.nullable), dataType, timeZoneId, evalMode))
  override def nullable: Boolean = fallback.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fixed_cast"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override protected def nullSafeEval(v: Any): Any = {
    val u = FixedPoint.castUnscaled(v.asInstanceOf[Double], dataType.precision, dataType.scale)
    if (u != FixedPoint.NoFast) Decimal.createUnsafe(u, dataType.precision, dataType.scale)
    else fallback.eval(new GenericInternalRow(Array[Any](v)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fb = ctx.addReferenceObj("fixedCastFallback", fallback, classOf[Expression].getName)
    val u = ctx.freshName("unscaled")
    val o = ctx.freshName("slow")
    val (p, s) = (dataType.precision, dataType.scale)
    nullSafeCodeGen(ctx, ev, c =>
      s"""long $u = ${FixedPointCodegen.Obj}.castUnscaled($c, $p, $s);
         |if ($u != Long.MIN_VALUE) {
         |  ${ev.value} = ${FixedPointCodegen.Dec}.createUnsafe($u, $p, $s);
         |} else {
         |  Object $o = $fb.eval(new ${FixedPointCodegen.Row}(new Object[] { Double.valueOf($c) }));
         |  ${FixedPointCodegen.setNull(this, ev, o)}
         |  if ($o != null) ${ev.value} = (${FixedPointCodegen.Dec}) $o;
         |}""".stripMargin)
  }
}

/** A decimal product whose Spark type is exact (p1+p2+1 ≤ 38, scale
  * s1+s2): both factors' unscaled longs multiplied with an overflow
  * check, else Spark's `Multiply` on the same values.
  */
case class FixedPointMultiply(left: Expression, right: Expression, evalContext: NumericEvalContext)
    extends BinaryExpression {
  @transient private lazy val fallback: Multiply = CurrentOrigin.withOrigin(origin)(
    Multiply(BoundReference(0, left.dataType, left.nullable),
      BoundReference(1, right.dataType, right.nullable), evalContext))
  private def ls = left.dataType.asInstanceOf[DecimalType].scale
  private def rs = right.dataType.asInstanceOf[DecimalType].scale
  override def dataType: DataType = fallback.dataType
  override def nullable: Boolean = fallback.nullable
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fixed_multiply"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val d = FixedPoint.timesOrNull(a.asInstanceOf[Decimal], ls, b.asInstanceOf[Decimal], rs,
      dataType.asInstanceOf[DecimalType].precision)
    if (d != null) d else fallback.eval(new GenericInternalRow(Array[Any](a, b)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fb = ctx.addReferenceObj("fixedMultiplyFallback", fallback, classOf[Expression].getName)
    val o = ctx.freshName("slow")
    val p = dataType.asInstanceOf[DecimalType].precision
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = ${FixedPointCodegen.Obj}.timesOrNull($a, $ls, $b, $rs, $p);
         |if (${ev.value} == null) {
         |  Object $o = $fb.eval(new ${FixedPointCodegen.Row}(new Object[] { $a, $b }));
         |  ${FixedPointCodegen.setNull(this, ev, o)}
         |  ${ev.value} = (${FixedPointCodegen.Dec}) $o;
         |}""".stripMargin)
  }
}

private object FixedPointCodegen {
  val Obj: String = FixedPoint.getClass.getName.stripSuffix("$")
  val Dec: String = classOf[Decimal].getName
  val Row: String = classOf[GenericInternalRow].getName
  /** Null-ness of a fallback result, for a kernel that can be null. */
  def setNull(e: Expression, ev: ExprCode, o: String): String =
    if (e.nullable) s"${ev.isNull} = $o == null;" else ""
}

/** One 64-bit word of a decimal's unscaled value at `scale`: the low
  * word, or the high word of its 128-bit two's-complement form.
  */
case class UnscaledWord(child: Expression, scale: Int, high: Boolean) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (high) "unscaled_hi" else "unscaled_lo"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override protected def nullSafeEval(v: Any): Any =
    if (high) FixedPoint.highWord(v.asInstanceOf[Decimal], scale)
    else FixedPoint.lowWord(v.asInstanceOf[Decimal], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"${FixedPointCodegen.Obj}.${if (high) "highWord" else "lowWord"}($c, $scale)")
}

/** One part of the 128-bit sum (hi:lo) + (xHi:xLo): its low word, its
  * high word, or whether it overflows decimal(precision). A null addend
  * leaves (hi:lo) unchanged and does not overflow.
  */
case class Add128(hi: Expression, lo: Expression, xHi: Expression, xLo: Expression,
                  part: Add128.Part, precision: Int) extends Expression {
  override def children: Seq[Expression] = Seq(hi, lo, xHi, xLo)
  override def nullable: Boolean = false
  override def dataType: DataType = if (part == Add128.Overflow) BooleanType else LongType
  override def prettyName: String = s"add128_${part.toString.toLowerCase}"
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(hi = c(0), lo = c(1), xHi = c(2), xLo = c(3))

  override def eval(input: InternalRow): Any = {
    val h = hi.eval(input).asInstanceOf[Long]
    val l = lo.eval(input).asInstanceOf[Long]
    val xh = xHi.eval(input)
    val xl = xLo.eval(input)
    if (xh == null || xl == null) part match {
      case Add128.Lo => l
      case Add128.Hi => h
      case Add128.Overflow => false
    } else {
      val (a, b) = (xh.asInstanceOf[Long], xl.asInstanceOf[Long])
      part match {
        case Add128.Lo => l + b
        case Add128.Hi => FixedPoint.addHi(h, l, a, b)
        case Add128.Overflow => FixedPoint.addOverflows(h, l, a, b, precision)
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(h, l, a, b) = children.map(_.genCode(ctx))
    val (keep, add) = part match {
      case Add128.Lo => (s"${l.value}", s"${l.value} + ${b.value}")
      case Add128.Hi => (s"${h.value}",
        s"${FixedPointCodegen.Obj}.addHi(${h.value}, ${l.value}, ${a.value}, ${b.value})")
      case Add128.Overflow => ("false",
        s"${FixedPointCodegen.Obj}.addOverflows(${h.value}, ${l.value}, ${a.value}, ${b.value}, $precision)")
    }
    val jt = if (part == Add128.Overflow) "boolean" else "long"
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      ${a.code}
      ${b.code}
      $jt ${ev.value} = (${a.isNull} || ${b.isNull}) ? $keep : $add;""", isNull = FalseLiteral)
  }
}

object Add128 {
  sealed trait Part
  case object Lo extends Part
  case object Hi extends Part
  case object Overflow extends Part
}

/** The 128-bit accumulator as a decimal(precision, scale), or null once
  * it overflowed — the value Spark's sum buffer holds.
  */
case class SumValue(hi: Expression, lo: Expression, overflow: Expression, dataType: DecimalType)
    extends Expression {
  override def children: Seq[Expression] = Seq(hi, lo, overflow)
  override def nullable: Boolean = true
  override def prettyName: String = "sum_value"
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(hi = c(0), lo = c(1), overflow = c(2))
  override def eval(input: InternalRow): Any =
    if (overflow.eval(input).asInstanceOf[Boolean]) null
    else FixedPoint.toDecimal(hi.eval(input).asInstanceOf[Long], lo.eval(input).asInstanceOf[Long],
      dataType.precision, dataType.scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(h, l, o) = children.map(_.genCode(ctx))
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      ${o.code}
      boolean ${ev.isNull} = ${o.value};
      ${FixedPointCodegen.Dec} ${ev.value} = ${ev.isNull} ? null :
        ${FixedPointCodegen.Obj}.toDecimal(${h.value}, ${l.value}, ${dataType.precision}, ${dataType.scale});""")
  }
}

/** Spark's `Sum` over decimal(p, s), 8 < p, on a fixed-width buffer:
  * a 128-bit two's-complement accumulator in two longs, the is-empty
  * flag and a sticky overflow flag. The flag is set at the row or merge
  * where |acc| reaches 10^P (P = Spark's result precision), the point
  * where Spark's UnsafeRow buffer turns null; evaluation is Spark's own
  * `Sum` evaluation over that value, so empty groups, ANSI errors and
  * `try_sum` nulls are Spark's.
  */
case class FixedPointSum(child: Expression, evalContext: NumericEvalContext)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  @transient private lazy val sparkSum: Sum = CurrentOrigin.withOrigin(origin)(Sum(child, evalContext))
  override def dataType: DataType = sparkSum.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "fixed_sum"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  private def scale = child.dataType.asInstanceOf[DecimalType].scale
  private def precision = dataType.asInstanceOf[DecimalType].precision

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()
  private lazy val overflow = AttributeReference("overflow", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty, overflow)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true), Literal(false))

  private def add(h: Expression, l: Expression, xh: Expression, xl: Expression) = Seq(
    Add128(h, l, xh, xl, Add128.Hi, precision),
    Add128(h, l, xh, xl, Add128.Lo, precision),
    Add128(h, l, xh, xl, Add128.Overflow, precision))

  override lazy val updateExpressions: Seq[Expression] = {
    val Seq(h, l, o) = add(hi, lo, UnscaledWord(child, scale, high = true),
      UnscaledWord(child, scale, high = false))
    Seq(h, l,
      if (child.nullable) And(isEmpty, IsNull(child)) else Literal(false),
      Or(overflow, o))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val Seq(h, l, o) = add(hi.left, lo.left, hi.right, lo.right)
    Seq(h, l, And(isEmpty.left, isEmpty.right), Or(Or(overflow.left, overflow.right), o))
  }

  override lazy val evaluateExpression: Expression = {
    val Seq(sum, empty) = sparkSum.aggBufferAttributes
    val value = SumValue(hi, lo, overflow, dataType.asInstanceOf[DecimalType])
    sparkSum.evaluateExpression.transform {
      case a: AttributeReference if a.exprId == sum.exprId => value
      case a: AttributeReference if a.exprId == empty.exprId => isEmpty
    }
  }
}

/** Rewrites double→decimal casts, exact decimal products and grouped
  * decimal sums into the [[FixedPoint]] kernels. Sums are rewritten only
  * in batch aggregates with grouping keys, no DISTINCT and hash-aggregate
  * buffers: there Spark checks its sum buffer for overflow row by row,
  * which the kernel's sticky flag reproduces. Without grouping keys, or
  * with object-hash or sort buffers, Spark checks only where a buffer is
  * written out or evaluated, so those sums stay Spark's. Streaming
  * aggregates keep Spark's buffer (their state schema is checkpointed),
  * and window sums are not aggregates of an `Aggregate`, so they stay
  * Spark's too.
  */
object FixedPointRule extends Rule[LogicalPlan] {
  private val scalar: PartialFunction[Expression, Expression] = {
    case c @ Cast(child, dt: DecimalType, tz, mode)
        if child.dataType == DoubleType && dt.precision <= Decimal.MAX_LONG_DIGITS =>
      CurrentOrigin.withOrigin(c.origin)(FixedPointCast(child, dt, tz, mode))
    case m @ Multiply(l, r, ctx) if exactProduct(l.dataType, r.dataType, m.dataType) =>
      CurrentOrigin.withOrigin(m.origin)(FixedPointMultiply(l, r, ctx))
  }

  private def exactProduct(l: DataType, r: DataType, out: DataType): Boolean = (l, r) match {
    case (a: DecimalType, b: DecimalType) =>
      a.precision + b.precision + 1 <= DecimalType.MAX_PRECISION &&
        out == DecimalType(a.precision + b.precision + 1, a.scale + b.scale)
    case _ => false
  }

  private val sums: PartialFunction[Expression, Expression] = {
    case s @ Sum(child, ctx) if (child.dataType match {
        case d: DecimalType => d.precision > 8 // p ≤ 8: Spark's DecimalAggregates sums longs
        case _ => false
      }) =>
      CurrentOrigin.withOrigin(s.origin)(FixedPointSum(child, ctx))
  }

  private def sumsRowChecked(a: Aggregate): Boolean = {
    val aggs = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
    !a.isStreaming && a.groupingExpressions.nonEmpty && !aggs.exists(_.isDistinct) &&
      Aggregate.supportsHashAggregate(
        aggs.flatMap(_.aggregateFunction.aggBufferAttributes), a.groupingExpressions)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a: Aggregate if sumsRowChecked(a) =>
      a.transformExpressionsUp(scalar).transformExpressionsUp(sums)
    case p => p.transformExpressionsUp(scalar)
  }
}
