package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.expr.{AbloomKeyHash, SketchBuildAgg}

/** Hoists `abloom_key_hash` out of the build aggregates (any
  * [[graft.expr.SketchBuildAgg]] child that is an [[AbloomKeyHash]]) into
  * a codegen'd projection below the Aggregate.
  *
  * `TypedImperativeAggregate.update` evaluates its children INTERPRETED,
  * once per row — `bloom_agg(key)` pays an interpreted XXH64 (plus
  * dispatch + boxing) inside the ObjectHashAggregate iterator. Rewriting
  *
  * {{{ Aggregate(bloom_agg(abloom_key_hash(k))) }}}
  * to
  * {{{ Aggregate(bloom_agg(h), Project(k..., abloom_key_hash(k) AS h)) }}}
  *
  * moves the hash into whole-stage codegen upstream; the update path
  * becomes a single getLong (measured 1.3-2x on 10M string keys — the
  * same win `bloom_agg_hashed` gives manually, applied automatically).
  *
  * Registered ONLY in the experimental "User Provided Optimizers" batch
  * (see [[graft.sql.Registry.register]]): inside the main operator-
  * optimization fixpoint, CollapseProject re-inlines single-use aliases
  * and would ping-pong with this rule.
  *
  * Idempotent: after hoisting, the aggregate's key child is an attribute,
  * so the pattern no longer matches.
  */
object HoistSketchKeyHash extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(_, aggExprs, child, _) if agg.resolved =>
      val hoisted = scala.collection.mutable.ArrayBuffer.empty[(AbloomKeyHash, Alias)]
      def attrFor(k: AbloomKeyHash): Attribute =
        hoisted.find(_._1.semanticEquals(k)).map(_._2.toAttribute).getOrElse {
          val a = Alias(k, s"graftKeyHash${hoisted.size}")()
          hoisted += ((k, a))
          a.toAttribute
        }
      val newAggExprs = aggExprs.map { ne =>
        ne.transformUp {
          case f: SketchBuildAgg[_] =>
            f.mapChildren {
              case k: AbloomKeyHash
                  if k.deterministic && k.references.subsetOf(child.outputSet) =>
                attrFor(k)
              case other => other
            }
        }.asInstanceOf[NamedExpression]
      }
      if (hoisted.isEmpty) agg
      else agg.copy(aggregateExpressions = newAggExprs,
        child = Project(child.output ++ hoisted.map(_._2), child))
  }
}
