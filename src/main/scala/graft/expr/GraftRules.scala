package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Ascending, Attribute, AttributeReference, CreateNamedStruct, EqualTo, Expression, GetStructField, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NullsFirst, PosExplode, Round, RowNumber, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType}

/** Optimizer rules injected by [[GraftExtensions]] (the `Rule[LogicalPlan]`
  * extension point — SURVEY §4.2's "all stock Catalyst" policy holds for
  * plan *structure*; these are expression-level peepholes Catalyst lacks).
  */
object GraftRules {

  /** `round(round(x, s1), s2)` with `s2 >= s1` is the inner round alone:
    * a value already at s1 decimals re-rounds to >= s1 decimals
    * unchanged (Spark's Round goes through BigDecimal.valueOf, i.e. the
    * shortest decimal repr, so the identity holds for doubles too).
    * Arises when cleaning stages round defensively and an export rounds
    * again — e.g. Thresholds(scale=2) feeding a round(_, 4) projection.
    *
    * Floating types ONLY: on decimals, Round's result scale follows the
    * literal, so removing the outer round would change the expression's
    * data type (decimal(p,s2) → decimal(p,s1)) under the analyzed schema.
    */
  object RoundRoundFold extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressions {
        case Round(inner @ Round(_, Literal(s1: Int, IntegerType), _),
            Literal(s2: Int, IntegerType), _)
            if s2 >= s1 &&
              (inner.dataType == DoubleType || inner.dataType == FloatType) =>
          inner
      }
  }

  /** Rewrites the ubiquitous grouped-top-k idiom
    *
    *   `Filter(rn <= k, Window(row_number() OVER (PARTITION BY p ORDER BY o)))`
    *
    * into a bounded per-group heap aggregation
    * ([[BoundedTopKRows]]) + posexplode — same rows, same row-number
    * column, radically different cost model: the window form must SORT
    * EVERY ROW of every partition before the filter throws almost all
    * of them away; the aggregate keeps k rows per group, merges partial
    * buffers map-side, and moves only k rows per group through the
    * shuffle. On 100 TB this turns a full-data sort into a streaming
    * pass.
    *
    * Applies only when the pattern is exact: a single row_number window
    * expression, a deterministic partition/order spec, a literal bound
    * (`rn <= k`, `rn < k`, `rn = 1`, or the flipped forms), and
    * k ≤ `maxK` (a huge k would make the "bounded" buffer a lie — the
    * window form is the right plan there). Ties: row_number's contract
    * under a non-total order is already arbitrary; the rewrite keeps an
    * arbitrary-but-valid k, identical to the contract (and identical
    * VALUES whenever the order is total — which any deterministic
    * pipeline needs anyway).
    */
  object WindowTopKToAggregate extends Rule[LogicalPlan] {

    /** Session kill-switch: the rewrite changes WHICH tied rows survive a
      * row_number-filter under a non-total ORDER BY (contract-valid either
      * way, but different from vanilla Spark) — a user query relying on
      * vanilla's arbitrary pick can disable the rewrite per-session
      * without rebuilding the session/extensions.
      */
    val EnabledKey = "spark.graft.windowTopKRewrite.enabled"

    private val maxK = 10000

    // a LONG literal bound analyzes as Cast(rn AS BIGINT) <= 5L — treat
    // the lossless upcast of the row-number attribute as the attribute
    private def strip(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.dataType == org.apache.spark.sql.types.LongType &&
            c.child.dataType == IntegerType => c.child
      case other => other
    }

    private def intOf(l: Expression): Option[Int] = l match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, org.apache.spark.sql.types.LongType)
          if v <= Int.MaxValue && v >= Int.MinValue => Some(v.toInt)
      case _ => None
    }

    private def bound(cond: Expression, rn: Attribute): Option[Int] = {
      def attr(e: Expression): Boolean = strip(e) match {
        case a: Attribute => a.semanticEquals(rn)
        case _ => false
      }
      cond match {
        case LessThanOrEqual(a, l) if attr(a) => intOf(l)
        case LessThan(a, l) if attr(a) => intOf(l).map(_ - 1)
        case EqualTo(a, l) if attr(a) => intOf(l).filter(_ == 1)
        case EqualTo(l, a) if attr(a) => intOf(l).filter(_ == 1)
        case GreaterThanOrEqual(l, a) if attr(a) => intOf(l)
        case GreaterThan(l, a) if attr(a) => intOf(l).map(_ - 1)
        case _ => None
      }
    }

    override def apply(plan: LogicalPlan): LogicalPlan =
      if (!conf.getConfString(EnabledKey, "true").toBoolean) plan
      else rewrite(plan)

    private def rewrite(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case Filter(cond,
          Window(Seq(alias @ Alias(
            WindowExpression(_: RowNumber, WindowSpecDefinition(part, order, _)),
            rnName)), _, _, rawChild, _))
          if order.nonEmpty && order.forall(_.child.deterministic) &&
            part.forall(_.deterministic) &&
            bound(cond, alias.toAttribute).exists(k => k >= 1 && k <= maxK) =>
        val k = bound(cond, alias.toAttribute).get
        // InferWindowGroupLimit (main optimizer batch, runs before
        // extension rules) may already have inserted a WindowGroupLimit
        // pre-filter under the window; the bounded aggregate subsumes it
        // — keeping it would keep its two per-partition SORTS, the very
        // cost this rewrite removes. Outputs are identical, so strip it.
        val child = rawChild match {
          case wgl: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit =>
            wgl.child
          case c => c
        }
        val nKeys = order.length
        // struct = (sort keys..., payload struct of the full child row)
        val structExpr = CreateNamedStruct(
          order.zipWithIndex.flatMap { case (so, i) =>
            Seq(Literal(s"_k$i"), so.child)
          } ++ Seq(Literal("_payload"),
            CreateNamedStruct(child.output.flatMap(a =>
              Seq(Literal(a.name), a)))))
        val topk = BoundedTopKRows(structExpr, k, nKeys,
          order.map(_.direction == Ascending),
          order.map(_.nullOrdering == NullsFirst))
        val aggAlias = Alias(
          AggregateExpression(topk, org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false),
          "_graft_topk")()
        val aggregate = Aggregate(part, Seq(aggAlias), child)
        val posAttr = AttributeReference("_graft_pos", IntegerType, nullable = false)()
        val elemAttr = AttributeReference("_graft_elem", structExpr.dataType,
          nullable = false)()
        val generate = Generate(PosExplode(aggAlias.toAttribute),
          unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
          generatorOutput = Seq(posAttr, elemAttr), aggregate)
        // rebind the original output attribute ids: downstream operators
        // keep referencing the same columns they always did
        val payloadField = GetStructField(elemAttr, nKeys, Some("_payload"))
        val restored = child.output.zipWithIndex.map { case (a, i) =>
          Alias(GetStructField(payloadField, i, Some(a.name)), a.name)(
            exprId = a.exprId, qualifier = a.qualifier)
        }
        val rnCol = Alias(Add(posAttr, Literal(1)), rnName)(
          exprId = alias.exprId, qualifier = alias.qualifier)
        org.apache.spark.sql.catalyst.plans.logical.Project(
          restored :+ rnCol, generate)
    }
  }
}
