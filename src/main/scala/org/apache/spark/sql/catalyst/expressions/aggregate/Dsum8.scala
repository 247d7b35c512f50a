// In Spark's own package for the same reason as ReduceAgg: the expression
// composes catalyst internals (UnscaledValue, EvalMode-pinned arithmetic)
// whose constructors are not all public API.
package org.apache.spark.sql.catalyst.expressions.aggregate

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact fixed-point money sum: `dsum8(x)` ≡
  * `CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE)` — the engine's canonical
  * exact-decimal-sum pattern (Q.scala: associative decimal addition keeps
  * partial-aggregation order from perturbing low bits) — at a fraction of
  * the per-row cost. The `dsum8`/`dsum8_dec` functions call it on a
  * DOUBLE; in any query on a graft session, the optimizer rule
  * `graft.FixedPointSum` hands it the idiom's DOUBLE, or its DECIMAL(30,8)
  * input where the cast sits in CASE branches or below a window.
  *
  * Why: the decimal formulation's 38-digit sum buffer exceeds Spark's
  * compact-long decimal range, so every update pays BigDecimal boxing plus
  * UnsafeRow byte-array (de)serialization per row (measured: 2.7× the cost
  * of a double sum on the sf0.1 q01 shape — OPTIMIZATION_r17.md). The
  * reference engine keeps "short" decimals in a Java long for exactly this
  * reason (presto-spi type layout: decimal precision ≤ 18 rides a long).
  * Here the buffer is a two-long (signed 128-bit) unscaled accumulator:
  * update is `scale-8 unscaled → 128-bit add`, all whole-stage-codegen'd
  * long arithmetic, no allocation.
  *
  * Exactness: the per-row `Cast(x, DECIMAL(30,8))` is THE SAME expression
  * the decimal formulation evaluates, so each row contributes an identical
  * scale-8 unscaled value (|x| < 9.2e10 guarantees it fits a long — see
  * guard). Integer addition in 128 bits is exact and associative (headroom:
  * 2^127/9.2e18 ≈ 1.8e19 rows of maximal magnitude), and the final
  * `BigDecimal(unscaled, 8).doubleValue()` is the same correctly-rounded
  * conversion `CAST(DECIMAL AS DOUBLE)` performs. Bitwise equality is
  * spec-locked (Dsum8Spec) and every query the rule converts re-proves it
  * against the DuckDB oracle, which still runs the decimal formulation.
  *
  * Domain: finite |x| < 9.2e10 (unscaled must fit a signed long). A
  * FINITE out-of-range input RAISES — loud refusal rather than the silent
  * truncation `toUnscaledLong` would produce; the decimal formulation
  * would have continued (scale-8 money above 92 billion per ROW is
  * outside every monetary column this engine declares); through the rule
  * that reaches every query using the idiom (README "Known divergences").
  * NaN and ±Infinity
  * follow the decimal formulation exactly: `CAST(x AS DECIMAL)` is null
  * for them, so the row contributes nothing (Dsum8Spec non-finite leg).
  */
case class Dsum8(child: Expression, exactDecimal: Boolean = false)
  extends DeclarativeAggregate with ImplicitCastInputTypes with UnaryLike[Expression] {

  override def prettyName: String = if (exactDecimal) "dsum8_dec" else "dsum8"
  override def inputTypes: Seq[AbstractDataType] = Seq(TypeCollection(DoubleType, Dec30_8))
  private def decimalIn = child.dataType == Dec30_8
  // `dsum8_dec` keeps the exact DECIMAL(38,8) sum — the partial-aggregate
  // building block for two-level (pre-aggregate, then ROLLUP/regroup)
  // rewrites where the OUTER decimal re-sum must stay exact and the final
  // double cast happens above it.
  override def dataType: DataType =
    if (exactDecimal) DecimalType(38, 8) else DoubleType
  override def nullable: Boolean = true

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  // wrapping long arithmetic (the 128-bit carry needs two's-complement
  // wraparound, which ANSI-mode Add would reject as overflow)
  private def addL(a: Expression, b: Expression) = Add(a, b, EvalMode.LEGACY)

  /** Unsigned carry out of a 64-bit add `a + b = s`. */
  private def carry(a: Expression, b: Expression, s: Expression) =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(s))),
      Literal(63))

  /** 128-bit accumulate of a sign-extended 64-bit addend (hiAdd = addend
    * sign bits for update, or the other buffer's hi for merge).
    */
  private def add128(
      bufHi: Expression, bufLo: Expression,
      addHi: Expression, addLo: Expression): (Expression, Expression) = {
    val newLo = addL(bufLo, addLo)
    val newHi = addL(addL(bufHi, addHi), carry(bufLo, addLo, newLo))
    (newHi, newLo)
  }

  /** A row the decimal formulation SKIPS: null input, or a non-finite
    * input whose `Cast(x, DECIMAL)` is null under the session's legacy
    * cast (NaN and ±Infinity) — r18: previously NaN/Inf tripped the
    * magnitude guard (NaN via Spark's NaN-greatest ordering) and RAISED
    * where the decimal formulation proceeds with a null contribution;
    * matching the cast's null-skip keeps the identity exact on every
    * input (ADVICE_r17, Dsum8Spec non-finite leg). */
  private lazy val skipped: Expression =
    if (decimalIn) IsNull(child)
    else Or(IsNull(child), Or(IsNaN(child),
      EqualTo(Abs(child, failOnError = false), Literal(Double.PositiveInfinity))))

  /** Scale-8 unscaled long of the input row — the identical
    * `Cast(x, DECIMAL(30,8))` the decimal formulation evaluates (or, on a
    * DECIMAL(30,8) input, that formulation's own value), with a
    * loud guard where the (finite) unscaled value would not fit a long.
    * Evaluated only on non-skipped rows, so the magnitude compare never
    * sees NaN/Inf.
    */
  private lazy val unscaled: Expression = {
    val dec = if (decimalIn) child else Cast(child, Dec30_8)
    val limit =
      if (decimalIn) Literal(Decimal(9200000000000000000L, 30, 8), Dec30_8) else Literal(9.2e10)
    val tooBig = GreaterThanOrEqual(Abs(child, failOnError = false), limit)
    If(tooBig,
      Cast(new RaiseError(Literal(
        s"dsum8: |input| >= 9.2e10 exceeds the exact fixed-point domain")), LongType),
      UnscaledValue(dec))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val u = If(skipped, Literal(0L), unscaled)
    val (nh, nl) = add128(hi, lo, ShiftRight(u, Literal(63)), u)
    Seq(nh, nl, And(isEmpty, skipped))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (nh, nl) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(nh, nl, And(isEmpty.left, isEmpty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal(null, dataType),
      if (exactDecimal) Long128ToDecimal(hi, lo, 38, 8)
      else Long128ToDouble(hi, lo, 8))

  override protected def withNewChildInternal(newChild: Expression): Dsum8 =
    copy(child = newChild)

  private val Dec30_8 = DecimalType(30, 8)
}

/** `(hi, lo)` signed-128-bit unscaled → double via the exact
  * `BigDecimal(unscaled, scale).doubleValue()` conversion `CAST(DECIMAL AS
  * DOUBLE)` performs. Evaluated once per GROUP (Dsum8's evaluateExpression),
  * so the BigInteger construction is off the per-row path.
  */
case class Long128ToDouble(hiExpr: Expression, loExpr: Expression, scale: Int)
  extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = hiExpr
  override def right: Expression = loExpr
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override protected def nullSafeEval(hiV: Any, loV: Any): Any =
    Long128ToDouble.toDouble(hiV.asInstanceOf[Long], loV.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"org.apache.spark.sql.catalyst.expressions.aggregate.Long128ToDouble.toDouble($h, $l, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Long128ToDouble =
    copy(hiExpr = newLeft, loExpr = newRight)
}

object Long128ToDouble {
  private val MASK64 = java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)

  def bigDecimal(hi: Long, lo: Long, scale: Int): java.math.BigDecimal = {
    val unscaled = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(java.math.BigInteger.valueOf(lo).and(MASK64))
    new java.math.BigDecimal(unscaled, scale)
  }

  def toDouble(hi: Long, lo: Long, scale: Int): Double =
    bigDecimal(hi, lo, scale).doubleValue()

  def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal =
    Decimal(bigDecimal(hi, lo, scale), precision, scale)
}

/** `(hi, lo)` signed-128-bit unscaled → DECIMAL(precision, scale), the
  * exact value `SUM(CAST(x AS DECIMAL(30,8)))` would produce. Once per
  * group, like [[Long128ToDouble]].
  */
case class Long128ToDecimal(hiExpr: Expression, loExpr: Expression, precision: Int, scale: Int)
  extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = hiExpr
  override def right: Expression = loExpr
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = DecimalType(precision, scale)
  override def nullable: Boolean = false

  override protected def nullSafeEval(hiV: Any, loV: Any): Any =
    Long128ToDouble.toDecimal(hiV.asInstanceOf[Long], loV.asInstanceOf[Long], precision, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"org.apache.spark.sql.catalyst.expressions.aggregate.Long128ToDouble.toDecimal($h, $l, $precision, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Long128ToDecimal =
    copy(hiExpr = newLeft, loExpr = newRight)
}
