package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.BinaryType

import graft.expr.{SketchBuildAgg, SketchUnionAgg, TopKAgg}

/** Purpose-built physical aggregation for graft sketch aggregates.
  *
  * Spark plans `TypedImperativeAggregate`s as `ObjectHashAggregateExec`,
  * whose in-memory map falls back to SORT-based aggregation after
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
  * 128) distinct groups — past that it SORTS the remaining input rows
  * per partition. Locally that tax is small because HoistSketchKeyHash
  * already narrows the sort rows to (group, hash) — measured 0.9-1.25x
  * vs builtin on 10-20M rows, i.e. parity within this host's noise.
  * What this operator buys is the 100 TB shape: partial-stage memory
  * bounded by an explicit flush (emit partials, reset map — legal
  * because partial aggregation may emit several rows per group) instead
  * of an O(rows log rows) per-partition input sort, and a plan we
  * control end to end.
  *
  * Two operators, the classic partial/final split:
  *
  *  - [[SketchPartialAggExec]]: per input partition, a hash map
  *    groupKey -> live sketch buffers, updated via the same
  *    `TypedImperativeAggregate.update` contract ObjectHashAggregate
  *    uses (so HoistSketchKeyHash's single-getLong update path still
  *    applies). Memory is bounded by `spark.graft.sketchAgg.flushBytes`
  *    (default 256 MB per task, estimated from one serialized buffer +
  *    map overhead) with `flushThreshold` as a coarse group-count rail:
  *    at the limit, current partials are emitted (serialized) and the
  *    map resets — partial aggregation may emit several rows per group,
  *    the final merge reconciles. Flushing trades shuffle volume for
  *    memory (each reappearing group emits another partial), so the
  *    budget should comfortably hold a partition's distinct groups when
  *    it can; the default only flushes when the bytes genuinely bind.
  *    No sort, no spill files, no per-row buffer serialization.
  *  - [[SketchFinalAggExec]]: declares `ClusteredDistribution` on the
  *    group keys (EnsureRequirements inserts the one hash exchange; only
  *    serialized sketches shuffle), merges partials per group with
  *    `TypedImperativeAggregate.merge`, and evaluates the result
  *    expressions. Exactly one row per group; empty global aggregates
  *    still emit the empty-sketch row, matching Spark semantics.
  *
  * Semantics are identical to the built-in plan by construction — the
  * same update/merge/serialize/eval methods run in the same partial →
  * shuffle → final shape (canonical-order guarantees implemented inside
  * an agg's eval, e.g. `Sbf.toBytes`, are untouched). At 100 TB the
  * final stage holds O(groups/partition x sketch) live buffers; raise
  * shuffle partitions, not `flushThreshold`, when group cardinality
  * grows.
  *
  * Disable with `spark.graft.sketchAgg.enabled=false` to fall back to
  * ObjectHashAggregate.
  */
case class SketchPartialAggExec(
    groupingExpressions: Seq[NamedExpression],
    aggregateExpressions: Seq[AggregateExpression],
    flushThreshold: Int,
    flushBytes: Long,
    child: SparkPlan,
    longKeyFastPath: Boolean = true)
  extends UnaryExecNode {

  require(flushThreshold > 0, "spark.graft.sketchAgg.flushThreshold must be positive")
  require(flushBytes > 0, "spark.graft.sketchAgg.flushBytes must be positive")

  // stable across calls: fresh exprIds per `output` call would make the
  // parent's references dangle
  private lazy val bufferAttributes: Seq[Attribute] =
    aggregateExpressions.indices.map(i =>
      AttributeReference(s"_sketch_buf$i", BinaryType, nullable = false)())

  override def output: Seq[Attribute] =
    groupingExpressions.map(_.toAttribute) ++ bufferAttributes

  override def producedAttributes: AttributeSet = AttributeSet(bufferAttributes)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext, "partial map flushes"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numFlushes = longMetric("numFlushes")
    val groupExprs = groupingExpressions
    val aggExprs = aggregateExpressions
    val childOutput = child.output
    val outputSchema = output
    val threshold = flushThreshold
    val maxBytes = flushBytes
    // single LONG group key -> primitive open-addressing map (below):
    // at high group cardinality (~1 row/group) the generic path's cost
    // is dominated by UnsafeRow key hashing/copies and map-entry
    // allocation churn — measured 1.3-1.4x the builtin's radix-sort
    // fallback at 200k-1M groups. The long fast path removes every
    // per-row allocation on the probe side.
    val longKeyPath = longKeyFastPath && groupExprs.length == 1 &&
      groupExprs.head.dataType == org.apache.spark.sql.types.LongType

    org.apache.spark.sql.GraftBridge.mapPartitionsInternal(child.execute()) { iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val funcs = aggExprs.map(ae => BindReferences
        .bindReference(ae.aggregateFunction.asInstanceOf[Expression], childOutput)
        .asInstanceOf[TypedImperativeAggregate[Any]]).toArray
      val nGroups = groupExprs.length
      val outProj = UnsafeProjection.create(outputSchema, outputSchema)
      val groupTypes = groupExprs.map(_.dataType)
      // flush on BYTES, with the group-count threshold as a coarse rail:
      // one fresh buffer's serialized size approximates the per-group
      // cost (exact for the fixed-size filters, right order for the
      // adaptive sketches) plus ~128 B of map-entry overhead (UnsafeRow
      // key copy, entry, buffer array), so a groupBy with
      // bloom_agg(capacity=10M) flushes after a handful of groups
      // instead of holding flushThreshold x 12 MB live, while SMALL
      // sketches hold millions of live groups before flushing —
      // measured: fragmenting partials at 64k groups on a 100k-group
      // partition emitted ~5x the shuffle rows and ran up to 10x
      // slower than holding the whole map.
      val perGroupBytes = 128L + funcs.map(f =>
        f.serialize(f.createAggregationBuffer()).length.toLong.max(1L)).sum
      val effectiveThreshold =
        math.max(1L, math.min(threshold.toLong, maxBytes / perGroupBytes)).toInt

      if (longKeyPath) new Iterator[InternalRow] {
        // -------- primitive fast path: single LONG group key ----------
        // Flush semantics (group rail, empty-buffer byte estimate,
        // sampled live-byte guard) are IDENTICAL to the generic path;
        // a nullable key gets one out-of-table slot.
        private val table = new LongKeyBufferMap(() => newBufs())
        private var nullBufs: Array[Any] = _
        private val outRow = new GenericInternalRow(1 + funcs.length)
        // drain state: -2 = not draining; -1 = null slot pending; >= 0 =
        // next table index to scan
        private var drainIdx = -2

        private def newBufs(): Array[Any] = {
          val bufs = new Array[Any](funcs.length)
          var i = 0
          while (i < funcs.length) {
            bufs(i) = funcs(i).createAggregationBuffer(); i += 1
          }
          bufs
        }
        private def mapSize: Int = table.size + (if (nullBufs != null) 1 else 0)

        private val SampleEvery = 8192
        private var rowsSinceSample = 0
        private def groupBytes(bufs: Array[Any]): Long = {
          var bytes = 128L
          var i = 0
          while (i < funcs.length) {
            bytes += funcs(i).serialize(bufs(i)).length; i += 1
          }
          bytes
        }
        private def liveBytesExceeded(hot: Array[Any]): Boolean = {
          rowsSinceSample = 0
          var perGroup = groupBytes(hot)
          // second probe: the lowest occupied slot — the generic path's
          // "oldest entry" stand-in for long-lived groups that are no
          // longer hot. Tracked on insert, so it finds a live entry even
          // when a previously-grown table meets a low-cardinality chunk
          // (cap millions, occupancy tens) without walking the empty
          // prefix on every sample.
          val lo = table.lowest
          if (lo < table.capacity && !(table.buffers(lo) eq hot)) {
            val hb = groupBytes(table.buffers(lo))
            if (hb > perGroup) perGroup = hb
          }
          perGroup * mapSize > maxBytes
        }

        private def aggregateChunk(): Unit = {
          table.reset()
          nullBufs = null
          var flush = false
          while (iter.hasNext && !flush) {
            val row = iter.next()
            val keyRow = keyProj(row)
            var bufs: Array[Any] = null
            if (keyRow.isNullAt(0)) {
              if (nullBufs == null) nullBufs = newBufs()
              bufs = nullBufs
            } else bufs = table.getOrInsert(keyRow.getLong(0))
            var i = 0
            while (i < funcs.length) {
              bufs(i) = funcs(i).update(bufs(i), row); i += 1
            }
            rowsSinceSample += 1
            if (mapSize >= effectiveThreshold ||
                (rowsSinceSample >= SampleEvery && liveBytesExceeded(bufs))) {
              numFlushes += 1
              flush = true
            }
          }
          drainIdx = if (nullBufs != null) -1 else table.lowest
        }

        override def hasNext: Boolean = {
          if (drainIdx == -1 || (drainIdx >= 0 && drainIdx < table.capacity)) true
          else if (iter.hasNext) {
            aggregateChunk()
            drainIdx == -1 || drainIdx < table.capacity
          } else false
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          var bufs: Array[Any] = null
          if (drainIdx == -1) {
            outRow.update(0, null)
            bufs = nullBufs
            nullBufs = null
            drainIdx = table.lowest
          } else {
            outRow.update(0, table.key(drainIdx))
            bufs = table.buffers(drainIdx)
            drainIdx = table.nextOccupied(drainIdx + 1)
          }
          var i = 0
          while (i < funcs.length) {
            outRow.update(1 + i, funcs(i).serialize(bufs(i)))
            i += 1
          }
          numOutputRows += 1
          outProj(outRow)
        }
      }
      else new Iterator[InternalRow] {
        private val map = new java.util.LinkedHashMap[UnsafeRow, Array[Any]]()
        private var drain: java.util.Iterator[
          java.util.Map.Entry[UnsafeRow, Array[Any]]] = _
        private val outRow = new GenericInternalRow(nGroups + funcs.length)

        // GROWABLE sketches (MG, t-digest, SBF, KLL) serialize near-empty
        // at creation, so the empty-buffer estimate behind
        // effectiveThreshold can under-count live bytes by orders of
        // magnitude. Every SampleEvery rows, re-estimate the map's
        // footprint from the just-updated (hot) group and the head
        // (oldest) entry, and flush if the byte budget is genuinely
        // exceeded. Two serializes per 8192 rows is noise; the guard is
        // what keeps the "bounded memory" contract true for adaptive
        // sketch families.
        private val SampleEvery = 8192
        private var rowsSinceSample = 0

        private def liveBytesExceeded(hot: Array[Any]): Boolean = {
          rowsSinceSample = 0
          // estimate per-group bytes as the MAX of (a) the JUST-UPDATED
          // group's serialized size — hot groups get sampled in
          // proportion to their update rate, which is exactly where
          // growable sketches balloon — and (b) the head (oldest) entry,
          // which covers long-lived groups that grew steadily but are no
          // longer hot. Both probes are O(1). A positional walk over the
          // LinkedHashMap cannot win here: capping its depth makes every
          // probe land in the oldest entries (undershooting precisely on
          // high-cardinality partials), and not capping it costs
          // O(groups) per sample.
          def groupBytes(bufs: Array[Any]): Long = {
            var bytes = 128L
            var i = 0
            while (i < funcs.length) {
              bytes += funcs(i).serialize(bufs(i)).length; i += 1
            }
            bytes
          }
          var perGroup = groupBytes(hot)
          val head = map.entrySet().iterator().next().getValue()
          if (!(head eq hot)) {
            val hb = groupBytes(head)
            if (hb > perGroup) perGroup = hb
          }
          perGroup * map.size() > maxBytes
        }

        /** Consume input until the map hits the flush threshold (group
          * rail, empty-buffer byte estimate, or sampled live-byte check)
          * or the input is exhausted; then drain the map. */
        private def aggregateChunk(): Unit = {
          map.clear()
          var flush = false
          while (iter.hasNext && !flush) {
            val row = iter.next()
            val key = keyProj(row)
            var bufs = map.get(key)
            if (bufs == null) {
              bufs = new Array[Any](funcs.length)
              var i = 0
              while (i < funcs.length) {
                bufs(i) = funcs(i).createAggregationBuffer(); i += 1
              }
              map.put(key.copy(), bufs)
            }
            var i = 0
            while (i < funcs.length) {
              bufs(i) = funcs(i).update(bufs(i), row); i += 1
            }
            rowsSinceSample += 1
            if (map.size() >= effectiveThreshold ||
                (rowsSinceSample >= SampleEvery && liveBytesExceeded(bufs))) {
              numFlushes += 1
              flush = true
            }
          }
          drain = map.entrySet().iterator()
        }

        override def hasNext: Boolean = {
          if (drain != null && drain.hasNext) true
          else if (iter.hasNext) { aggregateChunk(); drain.hasNext }
          else false
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val e = drain.next()
          val key = e.getKey
          var i = 0
          while (i < nGroups) {
            outRow.update(i, key.get(i, groupTypes(i))); i += 1
          }
          i = 0
          while (i < funcs.length) {
            outRow.update(nGroups + i, funcs(i).serialize(e.getValue()(i)))
            i += 1
          }
          numOutputRows += 1
          outProj(outRow)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SketchPartialAggExec =
    copy(child = newChild)
  override def simpleStringWithNodeId(): String = "GraftSketchAgg(partial)"
}

/** The long-key fast path's group map: open addressing with mix64 and
  * linear probing over parallel arrays — no key copies, no entry
  * objects, no per-row boxing. Capacity only grows; [[reset]] empties
  * the map between flush chunks and drops every buffer reference, so a
  * flushed chunk's buffers are not kept alive while the next one fills.
  */
private[plans] final class LongKeyBufferMap(newBufs: () => Array[Any]) {
  private var cap = 1 << 10
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var occ = new Array[Boolean](cap)
  private var vals = new Array[Array[Any]](cap)
  private var n = 0
  private var lo = cap

  def size: Int = n
  def capacity: Int = cap
  /** Lowest occupied slot; `capacity` when the map is empty. */
  def lowest: Int = lo
  def occupied(i: Int): Boolean = occ(i)
  def key(i: Int): Long = keys(i)
  def buffers(i: Int): Array[Any] = vals(i)

  private def probe(k: Long): Int = {
    var i = graft.core.Hashing.mix64(k).toInt & mask
    while (occ(i) && keys(i) != k) i = (i + 1) & mask
    i
  }
  private def insertAt(i: Int, k: Long, bufs: Array[Any]): Unit = {
    occ(i) = true; keys(i) = k; vals(i) = bufs; n += 1
    if (i < lo) lo = i
  }
  private def grow(): Unit = {
    val ok = keys; val oo = occ; val ov = vals; val ocap = cap
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap)
    occ = new Array[Boolean](cap)
    vals = new Array[Array[Any]](cap)
    n = 0; lo = cap
    var i = 0
    while (i < ocap) {
      if (oo(i)) insertAt(probe(ok(i)), ok(i), ov(i))
      i += 1
    }
  }

  /** The key's buffers, created on first sight. */
  def getOrInsert(k: Long): Array[Any] = {
    if ((n + 1) * 2 > cap) grow()
    val i = probe(k)
    if (occ(i)) vals(i)
    else { val bufs = newBufs(); insertAt(i, k, bufs); bufs }
  }

  def nextOccupied(from: Int): Int = {
    var i = from
    while (i < cap && !occ(i)) i += 1
    i // == cap when exhausted
  }

  def reset(): Unit = {
    java.util.Arrays.fill(occ, false)
    java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], null)
    n = 0; lo = cap
  }
}

case class SketchFinalAggExec(
    groupingAttributes: Seq[Attribute],
    aggregateExpressions: Seq[AggregateExpression],
    resultExpressions: Seq[NamedExpression],
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)

  override def producedAttributes: AttributeSet =
    AttributeSet(aggregateExpressions.map(_.resultAttribute)) ++
      AttributeSet(resultExpressions.map(_.toAttribute))

  override def requiredChildDistribution: Seq[Distribution] =
    if (groupingAttributes.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupingAttributes) :: Nil

  /** Sorted input turns finalization into a streaming run-merge: ONE
    * group's buffers live at a time — O(sketch) memory per task
    * regardless of group cardinality. The sort is over the PARTIAL rows
    * (a few per group per map partition), not the raw input, so it is
    * cheap where it matters; EnsureRequirements inserts it after the
    * exchange.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(groupingAttributes.map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    groupingAttributes.map(SortOrder(_, Ascending))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val groupAttrs = groupingAttributes
    val aggExprs = aggregateExpressions
    val resultExprs = resultExpressions
    val childOutput = child.output

    org.apache.spark.sql.GraftBridge.mapPartitionsInternal(child.execute()) { iter =>
      val funcs = aggExprs
        .map(_.aggregateFunction.asInstanceOf[TypedImperativeAggregate[Any]])
        .toArray
      val keyProj = UnsafeProjection.create(groupAttrs, childOutput)
      val nGroups = groupAttrs.length
      val resultProj = UnsafeProjection.create(
        resultExprs, groupAttrs ++ aggExprs.map(_.resultAttribute))
      val groupTypes = groupAttrs.map(_.dataType)
      val inRow = new GenericInternalRow(nGroups + funcs.length)

      new Iterator[InternalRow] {
        // the partition is empty but a GLOBAL aggregate must still emit
        // the empty-sketch row (AllTuples -> this is the only partition)
        private var pendingEmptyGlobal = nGroups == 0 && !iter.hasNext
        private var lookahead: InternalRow = if (iter.hasNext) iter.next() else null

        override def hasNext: Boolean = lookahead != null || pendingEmptyGlobal

        override def next(): InternalRow = {
          val bufs = new Array[Any](funcs.length)
          var key: UnsafeRow = null
          if (pendingEmptyGlobal) {
            pendingEmptyGlobal = false
            var i = 0
            while (i < funcs.length) {
              bufs(i) = funcs(i).createAggregationBuffer(); i += 1
            }
          } else {
            if (lookahead == null) throw new NoSuchElementException
            key = keyProj(lookahead).copy()
            var i = 0
            while (i < funcs.length) {
              bufs(i) = funcs(i).deserialize(lookahead.getBinary(nGroups + i)); i += 1
            }
            lookahead = null
            var runDone = false
            while (!runDone && iter.hasNext) {
              val row = iter.next()
              if (keyProj(row) == key) {
                var j = 0
                while (j < funcs.length) {
                  bufs(j) = funcs(j).merge(
                    bufs(j), funcs(j).deserialize(row.getBinary(nGroups + j)))
                  j += 1
                }
              } else {
                lookahead = row // starts the next run
                runDone = true
              }
            }
          }
          var i = 0
          while (i < nGroups) {
            inRow.update(i, key.get(i, groupTypes(i))); i += 1
          }
          i = 0
          while (i < funcs.length) {
            inRow.update(nGroups + i, funcs(i).eval(bufs(i))); i += 1
          }
          numOutputRows += 1
          resultProj(inRow)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SketchFinalAggExec =
    copy(child = newChild)
  override def simpleStringWithNodeId(): String = "GraftSketchAgg(final)"
}

/** Plans `Aggregate`s whose every aggregate is a graft sketch into the
  * partial/final [[SketchPartialAggExec]]/[[SketchFinalAggExec]] pair.
  * Bails (returns Nil) on mixed builtin+sketch aggregates, DISTINCT, or
  * FILTER clauses — those fall through to Spark's planner unchanged.
  */
case class SketchAggStrategy(session: SparkSession) extends SparkStrategy {

  private def isGraftSketchAgg(ae: AggregateExpression): Boolean =
    ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case _: SketchBuildAgg[_] | _: SketchUnionAgg[_] | _: TopKAgg => true
      case _ => false
    })

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(grouping, aggs, results, child)
        if aggs.nonEmpty && aggs.forall(isGraftSketchAgg) &&
          session.conf.get("spark.graft.sketchAgg.enabled", "true").toBoolean =>
      val flushThreshold = session.conf
        .get("spark.graft.sketchAgg.flushThreshold", (1 << 21).toString).toInt
      val flushBytes = session.conf
        .get("spark.graft.sketchAgg.flushBytes", (256L << 20).toString).toLong
      val partial = SketchPartialAggExec(
        grouping, aggs, flushThreshold, flushBytes, planLater(child),
        longKeyFastPath = session.conf
          .get("spark.graft.sketchAgg.longKeyFastPath", "true").toBoolean)
      SketchFinalAggExec(grouping.map(_.toAttribute), aggs, results, partial) :: Nil
    case _ => Nil
  }
}
