package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.expr.{AbloomKeyHash, BloomKernel, SketchOp, SketchQuery}

/** Automatic ABLM bloom pre-filter injection for equi-joins — the
  * optimizer-rule counterpart of the manual `bloom_contains` pattern in
  * `SparkEntry.bloom_semi_join`, mirroring the shape of Spark's own
  * `InjectRuntimeFilter` (which injects its builtin BloomFilterAggregate;
  * this rule injects the ABLM filter so the pre-filter is wire-compatible
  * with every other graft surface).
  *
  * For `large JOIN small ON large.k = small.j`, the large side becomes
  *
  * {{{ Filter(bloom_contains(ScalarSubquery(Aggregate(bloom_agg(j), small)), k), large) }}}
  *
  * — the subquery runs once (one extra pass over the SMALL side), and the
  * large side is pruned to ~|matches| + fp_rate x |large| rows before the
  * join shuffle. At 100 TB that converts a full-fact-table exchange into
  * a selectivity-proportional one, which is the whole game.
  *
  * Safety matrix (a side may be pruned only when unmatched rows from it
  * cannot reach the output): left prunable for Inner/LeftSemi/RightOuter,
  * right prunable for Inner/LeftOuter/LeftSemi/LeftAnti. Bloom FPs only
  * ever KEEP extra rows (the exact join still removes them); zero FN means
  * no true match is lost.
  *
  * Config (all `spark.graft.runtimeFilter.*`):
  *  - `enabled` (true) — master switch;
  *  - `capacity` (1000000) / `fpRate` (0.01) — injected filter sizing
  *    (stats row counts are estimates, so sizing is a fixed conservative
  *    constant like Spark's `spark.sql.optimizer.runtime.bloomFilter.*`);
  *  - `creationSideThreshold` (32 MB) — max stats size of the build side;
  *  - `applicationSideMinSize` (128 MB) — min stats size of the pruned
  *    side (filtering a small scan is pure overhead);
  *  - `skipBroadcastable` (true) — skip creation sides under
  *    `spark.sql.autoBroadcastJoinThreshold`: those become BHJ build
  *    sides, and a bloom probe in front of a BHJ duplicates the join's
  *    own O(rows) probe for no shuffle savings. The rule's value regime
  *    is the SHUFFLE-join window (broadcast threshold .. 32 MB).
  *
  * Creation-side scan count: the subquery re-plans the creation subtree,
  * but under AQE any Exchange inside it is canonically identical to the
  * join side's and is materialized ONCE (runtime `ReusedExchange` — the
  * stage cache is shared between a query and its subqueries; pinned by
  * InjectBloomPreFilterSpec). Only a bare-scan creation side (no shuffle
  * anywhere below) is read twice, and that second read is pruned to the
  * key column alone — the same trade Spark's builtin runtime filter
  * makes.
  */
object InjectBloomPreFilter extends Rule[LogicalPlan] with PredicateHelper {

  private def boolConf(k: String, d: Boolean): Boolean =
    conf.getConfString(s"spark.graft.runtimeFilter.$k", d.toString).toBoolean
  private def longConf(k: String, d: Long): Long =
    conf.getConfString(s"spark.graft.runtimeFilter.$k", d.toString).toLong

  private def enabled = boolConf("enabled", d = true)
  private def capacity = longConf("capacity", 1000000L)
  private def fpRate =
    conf.getConfString("spark.graft.runtimeFilter.fpRate", "0.01").toDouble
  private def creationMax = longConf("creationSideThreshold", 32L * 1024 * 1024)
  private def applicationMin = longConf("applicationSideMinSize", 128L * 1024 * 1024)
  private def skipBroadcastable = boolConf("skipBroadcastable", d = true)

  /** A creation side under the auto-broadcast threshold will (for the
    * equi-joins this rule matches) be planned as the build side of a
    * broadcast hash join — and a bloom pre-filter in front of a BHJ is
    * pure overhead: the filter probe is the same O(app rows) hash work
    * as the join's own build-side probe, and inner/semi BHJ already
    * drops non-matching rows without a shuffle. The rule's value regime
    * is creation sides ABOVE the broadcast threshold and below
    * `creationSideThreshold` (the shuffle-join window), so broadcastable
    * sides are skipped by default.
    */
  private def wouldBroadcast(creation: LogicalPlan): Boolean =
    conf.autoBroadcastJoinThreshold >= 0 &&
      creation.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold

  private def supportedType(e: Expression): Boolean = e.dataType match {
    case StringType | BinaryType | LongType | IntegerType | ShortType |
        ByteType | DoubleType | FloatType => true
    case _ => false
  }

  /** A bloom pre-filter already present anywhere below (added by this
    * rule earlier, or by hand). Deliberately COARSE — any
    * `bloom_contains` filter in the subtree suppresses injection: when
    * this rule shares a fixpoint batch with PushDownPredicates, the
    * pushed-down filter's key attribute gets substituted through
    * projections, so a key-equality check stops matching its own
    * injection and the rule re-injects every iteration (measured: 100
    * stacked filters, then MergeScalarSubqueries hangs merging hundreds
    * of subqueries). One pre-filter per subtree is the conservative,
    * loop-proof policy.
    */
  private def hasBloomFilter(plan: LogicalPlan): Boolean =
    plan.exists {
      case Filter(cond, _) => cond.exists {
        case SketchQuery(_, _, SketchOp.BloomContains) => true
        case _ => false
      }
      case _ => false
    }

  private def canPruneLeft(jt: JoinType): Boolean = jt match {
    case Inner | LeftSemi | RightOuter => true
    case _ => false
  }
  private def canPruneRight(jt: JoinType): Boolean = jt match {
    case Inner | LeftOuter | LeftSemi | LeftAnti => true
    case _ => false
  }

  private def injectable(app: LogicalPlan, creation: LogicalPlan,
      appKey: Expression, cKey: Expression): Boolean =
    supportedType(appKey) && supportedType(cKey) &&
      appKey.deterministic && cKey.deterministic &&
      !app.isStreaming && !creation.isStreaming &&
      // the creation side is DUPLICATED into the subquery and evaluated
      // independently of the join's own evaluation — any non-determinism
      // ANYWHERE in its subtree (not just the root) would let the filter
      // disagree with the join and wrongly prune matching rows
      !creation.exists(_.expressions.exists(!_.deterministic)) &&
      creation.stats.sizeInBytes <= creationMax &&
      app.stats.sizeInBytes >= applicationMin &&
      !(skipBroadcastable && wouldBroadcast(creation)) &&
      !hasBloomFilter(app)

  /** `Filter(bloom_contains(<subquery: ABLM over creation keys>, appKey), app)`.
    * The creation side is projected to the key columns so physical
    * planning prunes its scan to just those.
    */
  private def inject(app: LogicalPlan, creation: LogicalPlan,
      appKey: Expression, cKey: Expression): LogicalPlan = {
    val pruned = Project(cKey.references.toSeq, creation)
    val agg = BloomKernel(Seq(AbloomKeyHash(cKey)), Seq(Literal(capacity), Literal(fpRate)))
      .toAggregateExpression()
    val build = Aggregate(Nil, Seq(Alias(agg, "graftBloomFilter")()), pruned)
    Filter(SketchQuery(ScalarSubquery(build), AbloomKeyHash(appKey), SketchOp.BloomContains), app)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(left, right, joinType, Some(cond), _) =>
        // first equi-pair with both keys of hashable type
        val equi = splitConjunctivePredicates(cond).collectFirst {
          case EqualTo(l, r)
              if l.references.nonEmpty && r.references.nonEmpty &&
                l.references.subsetOf(left.outputSet) &&
                r.references.subsetOf(right.outputSet) &&
                supportedType(l) && supportedType(r) => (l, r)
          case EqualTo(l, r)
              if l.references.nonEmpty && r.references.nonEmpty &&
                r.references.subsetOf(left.outputSet) &&
                l.references.subsetOf(right.outputSet) &&
                supportedType(l) && supportedType(r) => (r, l)
        }
        equi match {
          case None => j
          case Some((lk, rk)) =>
            val newLeft =
              if (canPruneLeft(joinType) && injectable(left, right, lk, rk))
                inject(left, right, lk, rk)
              else left
            val newRight =
              if (canPruneRight(joinType) && injectable(right, left, rk, lk))
                inject(right, left, rk, lk)
              else right
            if ((newLeft eq left) && (newRight eq right)) j
            else j.copy(left = newLeft, right = newRight)
        }
    }
}
