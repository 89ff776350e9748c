package graft.plans

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BoundReference, Cast, CheckOverflowInSum, EvalMode, Expression, GenericInternalRow, If, IsNull, Literal, NamedExpression, ShiftRight, TernaryExpression, UnaryExpression, UnscaledValue, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.catalyst.trees.TreePattern.SUM
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}

/** Exact decimal sums on long arithmetic: Spark's `DecimalAggregates`
  * rewrite extended from input precision ≤ 8 to precision ≤ 18.
  *
  * Every money total in graft is `sum(cast(x as decimal(18,s)))`
  * ([[graft.queries.Shared.dsum]]): exact and independent of row order.
  * Spark runs it on a BigDecimal-backed `decimal(p+10,s)` buffer, and
  * feeds it through a `Double.toString`-based cast, on every row.
  * Spark's own rule sums the unscaled value as one long, but only when
  * `p + 10 ≤ 18`. This rule takes the rest, `9 ≤ p ≤ 18`.
  *
  * A non-distinct `Sum` over `decimal(p, s)`, in an aggregate or a
  * window, in ANSI or legacy mode, becomes:
  *  - three long `Sum`s over 21-bit limbs of the unscaled value `u`:
  *    `u & M`, `(u >> 21) & M` and `u >> 42` (arithmetic shift), with
  *    the original `FILTER`, window spec and eval mode;
  *  - one final expression that rebuilds the exact `decimal(p+10, s)`
  *    once per group or row: [[LimbsToDecimal]] under Spark's own
  *    `CheckOverflowInSum`, so a total out of range is Spark's overflow
  *    error under ANSI and null otherwise; a group with no non-null
  *    input is null.
  * `try_sum` is left as it is, and so are sums whose precision Spark's
  * rule already covers.
  *
  * When the input is `cast(double as decimal(p, s))`, `u` comes from
  * [[UnscaledDouble]], one kernel that skips the BigDecimal. It falls
  * back to Spark's own cast for every value it cannot prove, so nulls
  * and errors stay Spark's. Otherwise `u` is Spark's `UnscaledValue`.
  *
  * Bounds and the one difference from Spark:
  *  - |u| < 10^18 < 2^60, so a limb sum stays exact up to 2^42 rows per
  *    group (the low limbs reach 2^21 per row). Spark's own long
  *    rewrite accepts ~9·10^10 rows (`p + 10 ≤ 18` digits per sum).
  *  - Spark's `Sum` checks its `decimal(p+10)` buffer after every row,
  *    so past ~10^10 rows per group a running total that leaves the
  *    range and comes back gives null in legacy mode and the overflow
  *    error in ANSI mode, even when the final total fits. The limbs
  *    check only the final total, which stays exact, so there the rule
  *    returns that total. Results agree whenever Spark's sum neither
  *    errors nor is null.
  */
object DecimalSums extends Rule[LogicalPlan] {
  private val LimbBits = 21
  private val LimbMask = (1L << LimbBits) - 1

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(SUM)) {
      case q: LogicalPlan => q.transformExpressionsDownWithPruning(
          _.containsPattern(SUM)) {
        case we @ WindowExpression(ae: AggregateExpression, _)
            if rewritable(ae) =>
          limbSum(ae, a => we.copy(windowFunction = a))
        case ae: AggregateExpression if rewritable(ae) =>
          limbSum(ae, identity)
      }
    }

  private def rewritable(ae: AggregateExpression): Boolean =
    !ae.isDistinct && (ae.aggregateFunction match {
      case s: Sum => s.evalContext.evalMode != EvalMode.TRY &&
        (s.child.dataType match {
          case d: DecimalType =>
            d.precision + 10 > Decimal.MAX_LONG_DIGITS &&
              d.precision <= Decimal.MAX_LONG_DIGITS
          case _ => false
        })
      case _ => false
    })

  private def limbSum(ae: AggregateExpression,
      wrap: AggregateExpression => Expression): Expression = {
    val sum = ae.aggregateFunction.asInstanceOf[Sum]
    CurrentOrigin.withOrigin(sum.origin) {
      val in = sum.child.dataType.asInstanceOf[DecimalType]
      val u = sum.child match {
        case c: Cast if c.child.dataType == DoubleType =>
          CurrentOrigin.withOrigin(c.origin) {
            UnscaledDouble(c.child, in.precision, in.scale, c.evalMode,
              c.timeZoneId)
          }
        case e => UnscaledValue(e)
      }
      val limbs = Seq(
        BitwiseAnd(u, Literal(LimbMask)),
        BitwiseAnd(ShiftRight(u, Literal(LimbBits)), Literal(LimbMask)),
        ShiftRight(u, Literal(2 * LimbBits)))
      val Seq(s0, s1, s2) = limbs.map(l => wrap(ae.copy(
        aggregateFunction = Sum(l, sum.evalContext),
        resultId = NamedExpression.newExprId)))
      val out = sum.dataType.asInstanceOf[DecimalType]
      If(IsNull(s0), Literal.create(null, out),
        CheckOverflowInSum(LimbsToDecimal(s0, s1, s2, out), out,
          sum.evalContext.evalMode != EvalMode.ANSI, sum.getContextOrNull()))
    }
  }

  private val FastRange = math.pow(2, 52)

  /** HALF_UP-rounded `d · 10^s` as Spark's cast computes it (the decimal
    * of `Double.toString(d)`, then `changePrecision`), or `Long.MinValue`
    * when that cannot be proved here.
    *
    * `hi + lo` is `|d| · 10^s` exactly (`lo` is the FMA error term). The
    * decimal of `Double.toString(d)` lies within half an ulp of `d`, so
    * its scaled value is within `ulp(hi)` of `hi + lo`. A fraction
    * farther than `2·ulp(hi)` from one half therefore rounds the same
    * way for both. Near-ties, |scaled| ≥ 2^52, results outside the
    * precision, NaN and ±Inf all return the sentinel. */
  def unscaledOrMin(d: Double, scaleFactor: Double, limit: Long): Long = {
    val a = Math.abs(d)
    val hi = a * scaleFactor
    if (!(hi < FastRange)) return Long.MinValue
    val lo = Math.fma(a, scaleFactor, -hi)
    val f = Math.floor(hi)
    val t = (hi - f) + lo
    if (Math.abs(t - 0.5) <= 2 * Math.ulp(hi)) return Long.MinValue
    val r = f.toLong + (if (t > 0.5) 1L else 0L)
    if (r >= limit) Long.MinValue else if (d < 0) -r else r
  }

  /** `l0 + l1·2^21 + l2·2^42`, exact, at `scale`. It may exceed the
    * sum's precision, which `CheckOverflowInSum` then rejects, as it
    * does for Spark's own decimal `Sum`. Runs once per group (per row
    * for a window sum). */
  def combine(l0: Long, l1: Long, l2: Long, scale: Int): Decimal =
    Decimal(new JBigDecimal(BigInteger.valueOf(l2).shiftLeft(2 * LimbBits)
      .add(BigInteger.valueOf(l1).shiftLeft(LimbBits))
      .add(BigInteger.valueOf(l0)), scale))
}

/** The unscaled long of `cast(child as decimal(precision, scale))` for
  * a double `child`. [[DecimalSums.unscaledOrMin]] decides the common
  * case; every other value goes through Spark's own `Cast` with the
  * original eval mode and origin, so out-of-range values, NaN and ±Inf
  * give Spark's null or Spark's error. */
case class UnscaledDouble(child: Expression, precision: Int, scale: Int,
    evalMode: EvalMode.Value, timeZoneId: Option[String])
    extends UnaryExpression {

  @transient private lazy val cast: Cast =
    CurrentOrigin.withOrigin(origin) {
      Cast(BoundReference(0, DoubleType, child.nullable),
        DecimalType(precision, scale), timeZoneId, evalMode)
    }
  private val scaleFactor = math.pow(10, scale)
  private val limit = Decimal.POW_10(precision)

  override def dataType: DataType = LongType
  override def nullable: Boolean = cast.nullable

  /** Spark's cast of `d`: a `Decimal`, null, or Spark's error. */
  def viaCast(d: Double): Decimal =
    cast.eval(new GenericInternalRow(Array[Any](d))).asInstanceOf[Decimal]

  override protected def nullSafeEval(input: Any): Any = {
    val d = input.asInstanceOf[Double]
    val u = DecimalSums.unscaledOrMin(d, scaleFactor, limit)
    if (u != Long.MinValue) u
    else {
      val dec = viaCast(d)
      if (dec == null) null else dec.toUnscaledLong
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("unscaledDouble", this)
    val dec = ctx.freshName("dec")
    nullSafeCodeGen(ctx, ev, d =>
      s"""${ev.value} = graft.plans.DecimalSums$$.MODULE$$.unscaledOrMin(
         |  $d, ${scaleFactor}D, ${limit}L);
         |if (${ev.value} == Long.MIN_VALUE) {
         |  org.apache.spark.sql.types.Decimal $dec = $self.viaCast($d);
         |  if ($dec == null) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dec.toUnscaledLong();
         |  }
         |}""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): UnscaledDouble = copy(child = newChild)
}

/** The exact sum of three limb totals, `first + second·2^21 +
  * third·2^42`, as `dataType` (see [[DecimalSums.combine]]); the
  * enclosing `CheckOverflowInSum` bounds it. */
case class LimbsToDecimal(first: Expression, second: Expression,
    third: Expression, dataType: DecimalType) extends TernaryExpression {

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    DecimalSums.combine(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long], dataType.scale)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"""${ev.value} = graft.plans.DecimalSums$$.MODULE$$.combine(
         |  $a, $b, $c, ${dataType.scale});""".stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): LimbsToDecimal =
    copy(first = newFirst, second = newSecond, third = newThird)
}
