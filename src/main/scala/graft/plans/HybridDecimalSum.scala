package graft.plans

import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact decimal SUM with LONG partials — the hybrid documented in
  * SCALING.md's round-13 experiment (measured 1.37× over the builtin
  * decimal sum on the TPC-H Q01 shape) and deferred there as "the
  * documented optimization when a real workload is decimal-sum-bound".
  *
  * The builtin Sum over DECIMAL keeps a DECIMAL(p+10) buffer: every row
  * pays a Decimal object add (BigDecimal arithmetic once past the compact
  * range). This aggregate instead accumulates the UNSCALED long value of
  * each input (exact: p ≤ 18 guarantees a row's unscaled value fits a
  * long) and folds the long partial into a DECIMAL(38) carry only when
  * the partial approaches overflow (|partial| > 2⁶¹; one flush per ~2⁶¹ /
  * avg-unscaled rows, i.e. amortized never) and at merge/evaluate time.
  * Exactness and ORDER-INDEPENDENCE are structural: long addition is
  * associative/commutative and every flush is an exact widening — the
  * round-11 determinism hardening (bit-identical at any partition count)
  * is preserved, unlike double partials.
  *
  * Semantics vs builtin Sum:
  *  - result type, null-on-empty, null-skipping: identical;
  *  - overflow: the final value is checked against the builtin's result
  *    type DECIMAL(min(38, p+10), s) — null (legacy) / throw (ANSI)
  *    exactly like the builtin's CheckOverflowInSum. The one divergence
  *    is favorable: the builtin can null out when an INTERMEDIATE buffer
  *    value overflows (p+10) even though the true sum fits; the hybrid's
  *    38-digit carry only overflows when the true sum does.
  */
case class DecimalSumHybrid(child: Expression, failOnError: Boolean)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  private lazy val (p, s) = child.dataType match {
    case dt: DecimalType => (dt.precision, dt.scale)
    case other => throw new IllegalStateException(
      s"DecimalSumHybrid needs a DECIMAL child, got $other")
  }

  // p ≤ 18: a row's unscaled value provably fits a long (unchecked fast
  // path). p > 18: the unscaled value USUALLY fits (real-world magnitudes
  // are far below 38 digits) — extract it with a runtime fits-check and
  // fall back to a direct decimal-carry add for the rare huge row.
  private lazy val checkedUnscaled: Boolean = p > 18

  // DecimalType.bounded is private[sql]; 38 = MAX_PRECISION
  private def bounded(precision: Int, scale: Int): DecimalType =
    DecimalType(math.min(precision, 38), scale)

  override lazy val dataType: DataType = bounded(p + 10, s)
  override def nullable: Boolean = true
  override def prettyName: String = "decimal_sum_hybrid"

  private lazy val carryType = DecimalType(38, s)

  private lazy val partial =
    AttributeReference("partial", LongType, nullable = false)()
  private lazy val seen =
    AttributeReference("seen", BooleanType, nullable = false)()
  // nullable: a null carry is the sticky 38-digit-overflow marker (the
  // builtin decimal Sum uses the same null-buffer convention); `seen`
  // distinguishes it from the empty-input null
  private lazy val carry =
    AttributeReference("carry", carryType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(partial, seen, carry)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(0L), Literal(false), Literal.create(Decimal(0, 38, s), carryType))

  // |partial| stays ≤ FlushAt + max single-row unscaled < 2⁶¹ + 2⁶¹ = 2⁶²
  // < 2⁶³, so the LEGACY (unchecked) long add below can never wrap: on the
  // p ≤ 18 path a row's unscaled value is < 10¹⁸ < 2⁶⁰, and on the checked
  // path UnscaledLongOrNull only accepts values with bitLength ≤ 61.
  private val FlushAt = 1L << 61

  private def longAdd(a: Expression, b: Expression) =
    Add(a, b, EvalMode.LEGACY)
  // NOT Catalyst Add: its decimal typing re-derives (38,s)+(38,s) as
  // (38,s-1) when s > 6 (adjustPrecisionScale shaves the scale to keep
  // integral headroom) — a silent rounding the exact carry cannot afford.
  // ExactDecimalAdd adds at the carry's own (38,s) with an overflow check.
  private def decAdd(a: Expression, b: Expression) =
    ExactDecimalAdd(a, b, s, failOnError)
  private def asCarry(longPartial: Expression) =
    MakeDecimal(longPartial, 38, s)

  override lazy val updateExpressions: Seq[Expression] = {
    val mustFlush = GreaterThan(Abs(partial, failOnError = false), Literal(FlushAt))
    if (!checkedUnscaled) {
      val u = UnscaledValue(child)
      Seq(
        If(IsNull(child), partial,
          If(mustFlush, u, longAdd(partial, u))),
        Or(seen, IsNotNull(child)),
        If(IsNull(child), carry,
          If(mustFlush, decAdd(carry, asCarry(partial)), carry)))
    } else {
      // u is null when the row is null OR its unscaled value needs > 61
      // bits; the latter takes the direct decimal-carry add instead
      val u = UnscaledLongOrNull(child)
      Seq(
        If(IsNull(u), partial,
          If(mustFlush, u, longAdd(partial, u))),
        Or(seen, IsNotNull(child)),
        If(IsNull(child), carry,
          If(IsNull(u), decAdd(carry, Cast(child, carryType)),
            If(mustFlush, decAdd(carry, asCarry(partial)), carry))))
    }
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    partial.left,
    Or(seen.left, seen.right),
    decAdd(decAdd(carry.left, carry.right), asCarry(partial.right)))

  override lazy val evaluateExpression: Expression =
    If(Not(seen), Literal.create(null, dataType),
      CheckOverflow(decAdd(carry, asCarry(partial)),
        bounded(p + 10, s), nullOnOverflow = !failOnError))

  override protected def withNewChildInternal(newChild: Expression)
      : DecimalSumHybrid = copy(child = newChild)
}

/** Exact decimal addition at a FIXED (38, s) type — both operands must
  * already carry scale s. Catalyst's Add would re-derive the result type
  * and, at precision 38 with s > 6, SHAVE THE SCALE (adjustPrecisionScale),
  * silently rounding the carry. This adds via `Decimal.+` (exact — equal
  * scales, BigDecimal add) and only CHECKS 38-digit overflow:
  * null (legacy) or throw (ANSI), the same terminal behavior as the
  * builtin Sum's buffer overflow.
  */
case class ExactDecimalAdd(left: Expression, right: Expression,
                           scale: Int, failOnError: Boolean)
  extends BinaryExpression {

  override def dataType: DataType = DecimalType(38, scale)
  // null also signals 38-digit overflow in legacy mode, regardless of
  // child nullability
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = a.asInstanceOf[Decimal] + b.asInstanceOf[Decimal]
    if (r.changePrecision(38, scale)) r
    else if (failOnError)
      throw new ArithmeticException(
        s"decimal sum overflowed DECIMAL(38,$scale)")
    else null
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("sum")
      val overflow =
        if (failOnError)
          s"""throw new ArithmeticException("decimal sum overflowed DECIMAL(38,$scale)");"""
        else s"${ev.isNull} = true;"
      s"""
         |org.apache.spark.sql.types.Decimal $r = $a.$$plus($b);
         |if ($r.changePrecision(38, $scale)) { ${ev.value} = $r; }
         |else { $overflow }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : ExactDecimalAdd = copy(left = l, right = r)

  override def prettyName: String = "exact_decimal_add"
}

/** A decimal's unscaled value as a LONG, or NULL when the value needs more
  * than 61 bits (or the input is null). The 61-bit cap keeps
  * [[DecimalSumHybrid]]'s running long partial provably overflow-free:
  * partial (≤ 2⁶¹ after a flush check) + row (< 2⁶¹) < 2⁶³.
  */
case class UnscaledLongOrNull(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val bi = input.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue
    if (bi.bitLength <= 61) bi.longValue else null
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, d => {
      val bi = ctx.freshName("bi")
      s"""
         |java.math.BigInteger $bi = $d.toJavaBigDecimal().unscaledValue();
         |if ($bi.bitLength() <= 61) { ${ev.value} = $bi.longValue(); }
         |else { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : UnscaledLongOrNull = copy(child = newChild)

  override def prettyName: String = "unscaled_long_or_null"
}

/** Rewrite `sum(x: DECIMAL)` in GROUP BY aggregates to
  * [[DecimalSumHybrid]]. Scope deliberately excludes: DISTINCT sums (the
  * distinct rewrite owns those), TRY eval mode, and window aggregates
  * (frame re-evaluation has a different cost shape). p ≤ 18 inputs take
  * the unchecked long path; wider inputs the runtime-checked path.
  */
object HybridDecimalSumRule extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.hybridDecimalSum.enabled", "true").toBoolean

  private def eligible(e: Expression): Boolean = e.dataType match {
    case _: DecimalType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUpWithSubqueries {
      case agg: Aggregate =>
        agg.transformExpressions {
          case ae @ AggregateExpression(
              Sum(e, evalMode), _, false, _, _)
              if eligible(e) && evalMode != EvalMode.TRY =>
            ae.copy(aggregateFunction =
              DecimalSumHybrid(e, evalMode == EvalMode.ANSI))
        }
    }
  }
}
