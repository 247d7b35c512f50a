package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, CaseWhen, Cast, ExprId, Expression, If, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Dsum8, ReduceAgg, ReduceAggPlaceholder, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE_EXPRESSION
import org.apache.spark.sql.types._

/** Swaps the fully-bound [[ReduceAggPlaceholder]] for the real mergeable
  * aggregate. Runs inside the analyzer's fixed-point Resolution batch (where
  * SparkSessionExtensions resolution rules are appended), so by the time it
  * fires the lambdas are bound and type-coerced, and the resulting
  * AggregateExpression is in place before GlobalAggregates / CheckAnalysis
  * look for it. See ReduceAggPlaceholder's scaladoc for why the SQL registry
  * path cannot return the aggregate directly.
  */
object ResolveReduceAgg extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveExpressions {
    case p: ReduceAggPlaceholder if p.resolved =>
      ReduceAgg(p.input, p.initial, p.inputFn, p.combineFn).toAggregateExpression()
  }
}

/** Runs the engine's exact money sum `SUM(CAST(e AS DECIMAL(30,8)))` on
  * Dsum8's two-long buffer: a non-DISTINCT sum of a DECIMAL(30,8) input
  * `c`, in an `Aggregate` or a `Window`, becomes `Dsum8(…, exactDecimal =
  * true)` (`dsum8_dec`) — same per-row decimals, same DECIMAL(38,8) type
  * and value (Dsum8Spec), same FILTER and result id, so whatever sits
  * above it is unchanged. It fires only when `c` is the cast of a DOUBLE
  * or integral `e`, because Dsum8 raises at |e| ≥ 9.2e10 where the decimal
  * sum goes on. The optimizer may have pushed that cast into CASE / IF
  * branches beside constants; Dsum8 then gets the same branches over the
  * DOUBLE, which it casts itself. A window's input is a column defined
  * further down, which Dsum8 takes as the decimal it is. Exclude the rule
  * with `spark.sql.optimizer.excludedRules = graft.FixedPointSum`.
  */
object FixedPointSum extends Rule[LogicalPlan] {
  private val Dec30_8 = DecimalType(30, 8)
  private val Integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(AGGREGATE_EXPRESSION)) {
      case p @ (_: Aggregate | _: Window) =>
        lazy val defs = definitions(p.children.head)
        p.transformExpressions {
          case ae @ AggregateExpression(Sum(c, _), _, false, _, _) if c.dataType == Dec30_8 =>
            val in = c match {
              case a: Attribute => defs.get(a.exprId).flatMap(asDouble).map(_ => a)
              case _ => asDouble(c)
            }
            in.fold(ae)(i => ae.copy(aggregateFunction = Dsum8(i, exactDecimal = true)))
        }
    }

  /** Aliases defined down `p`'s single-child spine, by id. */
  private def definitions(p: LogicalPlan): Map[ExprId, Expression] = {
    val here = p.expressions.collect { case a: Alias => a.exprId -> a.child }.toMap
    p match {
      case u: UnaryNode => definitions(u.child) ++ here
      case _ => here
    }
  }

  /** A DOUBLE whose DECIMAL(30,8) cast is `c` on every row, when each value
    * of `c` is a DOUBLE or integral cast or a constant inside Dsum8's domain
    * that a DOUBLE holds exactly. */
  private def asDouble(c: Expression): Option[Expression] = c match {
    case Cast(e, Dec30_8, _, _) if e.dataType == DoubleType => Some(e)
    case Cast(e, Dec30_8, _, _) if Integral(e.dataType) => Some(Cast(e, DoubleType))
    case Literal(null, _) => Some(Literal(null, DoubleType))
    case Literal(d: Decimal, _) => Some(Literal(d.toDouble))
      .filter(l => d.toDouble.abs < 9.2e10 && Cast(l, Dec30_8).eval() == d)
    case CaseWhen(branches, other) =>
      val values = branches.map(b => asDouble(b._2))
      val otherD = other.map(asDouble)
      if (values.contains(None) || otherD.contains(None)) None
      else Some(CaseWhen(branches.map(_._1).zip(values.flatten), otherD.flatten))
    case If(p, t, f) => for (x <- asDouble(t); y <- asDouble(f)) yield If(p, x, y)
    case _ => None
  }
}

/** Graft's Spark session extensions — install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `.withExtensions(new GraftExtensions)`) on the session builder, the same
  * registration pattern Delta/Iceberg use. Sessions built without it still
  * get every graft function; reduce_agg then falls back to a value-correct
  * single-pass fold (see Rewrites) instead of the mergeable aggregate.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => ResolveReduceAgg)
    ext.injectOptimizerRule(_ => FixedPointSum)
  }
}
