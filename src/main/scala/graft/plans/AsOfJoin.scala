package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeSet, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.{And, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{
  BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, ClusteredDistribution, Distribution,
  IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.GraftShim

/** Native AS-OF join — the whole-operator extension path (custom
  * LogicalPlan + SparkStrategy + SparkPlan, SURVEY.md §2 "custom operator
  * preference (c)").
  *
  * Semantics: for every left row, attach the payload of the LAST right row
  * with an equal join key and `rightTime <= leftTime` (`<` when
  * `strict = true`); left rows with no such right row keep the payload
  * columns as NULL (left-outer as-of, the pandas `merge_asof` /
  * DuckDB `ASOF LEFT JOIN` contract). Ties on `rightTime` resolve to the
  * greatest `tieBreak` tuple, making the operator deterministic on
  * duplicate timestamps.
  *
  * Why an operator and not a composition: the composed form (union both
  * sides, window `last(ignoreNulls)` carry-forward — `JoinOps.asofJoin`)
  * is linear too, but it (a) materializes the union with padded schemas,
  * (b) pays a window node whose frame machinery buffers rows, and (c)
  * cannot expose the join's partitioning to the planner. The native
  * operator declares `ClusteredDistribution`/sorted-children requirements
  * and streams BOTH sides in one merge pass with O(1) state per
  * partition — at 100 TB it is exactly one hash shuffle + sort per side
  * (both AQE-coalescible and skew-splittable), with no materialized
  * intermediate.
  *
  * Scale contract:
  *  - distribution: `ClusteredDistribution(keys)` on each side — Catalyst
  *    inserts (or elides, when a child is already hash-partitioned on the
  *    key) the exchanges; co-partitioning is guaranteed by
  *    `EnsureRequirements`, same as SortMergeJoin.
  *  - ordering: (keys, time[, tieBreaks]) ascending per side — satisfied
  *    by local sort, no global sort anywhere.
  *  - merge state: ONE buffered right row (candidate payload + its key)
  *    per partition. Per-key skew costs I/O, never memory.
  *
  * Null semantics (documented, spec-pinned): keys and times sort with
  * Spark's NULLS FIRST and compare as values, so a NULL key forms its own
  * group (null-safe equality, `<=>`), and a NULL time sorts before every
  * real time (a NULL-time left row can only match a NULL-time right row).
  */
/** Match direction — the pandas `merge_asof` surface. */
sealed trait AsOfDirection extends Serializable
object AsOfDirection {
  /** Last right row with `rightTime <= leftTime` (`<` when strict). */
  case object Backward extends AsOfDirection
  /** First right row with `rightTime >= leftTime` (`>` when strict). */
  case object Forward extends AsOfDirection
  /** Whichever of backward/forward lies closer in time; equidistant ties
    * resolve backward. Strictness is not defined for nearest.
    */
  case object Nearest extends AsOfDirection

  def parse(s: String): AsOfDirection = s.toLowerCase match {
    case "backward" => Backward
    case "forward"  => Forward
    case "nearest"  => Nearest
    case other => throw new IllegalArgumentException(
      s"as-of direction must be backward|forward|nearest, got $other")
  }
}

/** Long view of a time column inside a projected row — needed only by
  * `nearest` (distance comparison) and `tolerance` (bound check), which
  * therefore require an integral-ordered time type; plain backward/
  * forward work on ANY ordered type (strings included).
  */
private[plans] object AsOfTime {
  import org.apache.spark.sql.types._
  def getter(dt: DataType): (InternalRow, Int) => Long = dt match {
    case LongType | TimestampType | TimestampNTZType => (r, i) => r.getLong(i)
    case IntegerType | DateType => (r, i) => r.getInt(i).toLong
    case ShortType => (r, i) => r.getShort(i).toLong
    case other => throw new IllegalArgumentException(
      "as-of nearest/tolerance needs an integral-ordered time column " +
        s"(timestamp/date/long/int), got $other")
  }
}

case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[Attribute],
    tieBreak: Seq[Expression],
    strict: Boolean,
    // None → pick by right-side size statistics vs the session broadcast
    // threshold; Some(true/false) → caller-pinned physical form (the same
    // contract as SQL join hints).
    broadcastHint: Option[Boolean] = None,
    direction: AsOfDirection = AsOfDirection.Backward,
    // max |rightTime − leftTime| in the time column's integral units
    // (micros for timestamps, days for dates); beyond it → no match
    tolerance: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  // Catalyst's generic pruning rules must see every left column as "used":
  // the operator re-emits the full left row, so nothing upstream may be
  // pruned away even when the final projection reads only a subset.
  override def references: AttributeSet =
    AttributeSet(left.output) ++ super.references

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[Attribute],
    tieBreak: Seq[Expression],
    strict: Boolean,
    direction: AsOfDirection,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  /** Hash-cluster both sides on the join key; EnsureRequirements makes the
    * two sides co-partitioned (and AQE may coalesce/skew-split the
    * exchanges exactly as it does for SortMergeJoin).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Local (key, time) sort per side; the right side additionally sorts by
    * the tie-break tuple so duplicate timestamps resolve deterministically
    * to the greatest tie-break (the merge keeps the LAST qualifying row).
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)) ++
      tieBreak.map(SortOrder(_, Ascending)))

  // One-to-[0,1] join: output rows are exactly the left rows, in the
  // left's partitioning and order — downstream per-key operators reuse
  // the exchange.
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val lOut = left.output
    val rOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val payloadB = payload
    val strictB = strict
    val dirB = direction
    val tolB = tolerance
    val outAttrs = output
    // nearest/tolerance need the time as a long; resolve the getter once
    val needTime = dirB == AsOfDirection.Nearest || tolB.isDefined
    val timeGet: (InternalRow, Int) => Long =
      if (needTime) AsOfTime.getter(lTimeB.dataType) else null
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // Per-partition generated projections (never serialized).
      val lKeyTime = UnsafeProjection.create(lKeysB :+ lTimeB, lOut)
      val rKeyTime = UnsafeProjection.create(rKeysB :+ rTimeB, rOut)
      val lKey = UnsafeProjection.create(lKeysB, lOut)
      val rKey = UnsafeProjection.create(rKeysB, rOut)
      val payloadProj = UnsafeProjection.create(payloadB.map(a => a: Expression), rOut)
      val resultProj = UnsafeProjection.create(outAttrs.map(a => a: Expression), outAttrs)
      val keyTimeOrd =
        RowOrdering.createNaturalAscendingOrdering(
          lKeysB.map(_.dataType) :+ lTimeB.dataType)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(lKeysB.map(_.dataType))
      val nullPayload = new GenericInternalRow(payloadB.length)
      val joined = new JoinedRow
      val timeIdx = lKeysB.length // time field position in key+time rows

      new Iterator[InternalRow] {
        // Single-row merge state: the next UNCONSUMED right row (the
        // forward candidate), plus payload/key/time of the most recent
        // CONSUMED right row (the backward candidate).
        private var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null
        private var bwPayload: UnsafeRow = _
        private var bwKey: UnsafeRow = _
        private var bwTime: Long = 0L

        override def hasNext: Boolean = lIter.hasNext

        // Does a right row at (key,time)-comparison `c` vs the left point
        // belong to the consumed PAST for this direction?
        private def consumePast(c: Int): Boolean = dirB match {
          case AsOfDirection.Backward => if (strictB) c < 0 else c <= 0
          case AsOfDirection.Forward  => if (strictB) c <= 0 else c < 0
          case AsOfDirection.Nearest  => c <= 0
        }

        override def next(): InternalRow = {
          val l = lIter.next()
          val lkt = lKeyTime(l)
          var advancing = true
          while (advancing && rRow != null) {
            val rkt = rKeyTime(rRow)
            if (consumePast(keyTimeOrd.compare(rkt, lkt))) {
              bwPayload = payloadProj(rRow).copy()
              bwKey = rKey(rRow).copy()
              if (needTime) bwTime = timeGet(rkt, timeIdx)
              rRow = if (rIter.hasNext) rIter.next() else null
            } else advancing = false
          }
          val lk = lKey(l)
          val bwOk = bwKey != null && keyOrd.compare(bwKey, lk) == 0
          // rRow is the first row the consume boundary left in the
          // future; it is this key's forward candidate iff keys match
          lazy val fwOk = rRow != null && keyOrd.compare(rKey(rRow), lk) == 0
          val lTime = if (needTime) timeGet(lkt, timeIdx) else 0L
          def withinTol(dist: Long): Boolean = tolB.forall(dist <= _)
          // (payload, matched): backward serves from the buffered copy,
          // forward straight from the unconsumed head
          val out: UnsafeRow = dirB match {
            case AsOfDirection.Backward =>
              if (bwOk && withinTol(lTime - bwTime)) bwPayload else null
            case AsOfDirection.Forward =>
              // tolerance guard evaluated only when set (timeGet is null
              // for plain forward, which supports any ordered time type)
              if (fwOk && (tolB.isEmpty ||
                  timeGet(rKeyTime(rRow), timeIdx) - lTime <= tolB.get))
                payloadProj(rRow)
              else null
            case AsOfDirection.Nearest =>
              val bwDist = if (bwOk) lTime - bwTime else Long.MaxValue
              val fwDist =
                if (fwOk) timeGet(rKeyTime(rRow), timeIdx) - lTime
                else Long.MaxValue
              if (bwOk && bwDist <= fwDist && withinTol(bwDist)) bwPayload
              else if (fwOk && withinTol(fwDist)) payloadProj(rRow)
              else null
          }
          numOutputRows += 1
          if (out != null) numMatched += 1
          resultProj(joined(l, if (out != null) out else nullPayload))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast as-of join — the small-dim physical strategy.
  *
  * When the right side fits the broadcast threshold, shuffling and sorting
  * the (at 100 TB, enormous) left side just to co-locate it with a few MB
  * of reference data is the wrong plan — the same reasoning that makes
  * BroadcastHashJoin beat SortMergeJoin. Here the LEFT side keeps its
  * incoming partitioning and ordering untouched (zero exchanges, zero
  * sorts); the right side ships once per executor through the standard
  * `BroadcastExchange` (visible in the plan, AQE-reusable), and each task
  * answers as-of lookups with a per-key binary search over the broadcast
  * rows sorted by (time, tieBreak).
  *
  * The per-partition index build is O(m log m) on the broadcast row count
  * m — bounded by the broadcast threshold, amortized across the partition's
  * rows, and free of the driver-side HashedRelation machinery a general
  * join needs.
  */
case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[Attribute],
    tieBreak: Seq[Expression],
    strict: Boolean,
    direction: AsOfDirection,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  // The left side passes through row-for-row in order: everything the
  // planner knew about it upstream stays true downstream.
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    val lOut = left.output
    val rOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val tieB = tieBreak
    val payloadB = payload
    val strictB = strict
    val outAttrs = output
    left.execute().mapPartitions { lIter =>
      val rKey = UnsafeProjection.create(rKeysB, rOut)
      val rTimeTie = UnsafeProjection.create(rTimeB +: tieB, rOut)
      val rTimeOnly = UnsafeProjection.create(Seq(rTimeB), rOut)
      val payloadProj = UnsafeProjection.create(payloadB.map(a => a: Expression), rOut)
      val lKey = UnsafeProjection.create(lKeysB, lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), lOut)
      val timeTieOrd = RowOrdering.createNaturalAscendingOrdering(
        (rTimeB +: tieB).map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeB.dataType))
      val resultProj = UnsafeProjection.create(outAttrs.map(a => a: Expression), outAttrs)
      val nullPayload = new GenericInternalRow(payloadB.length)
      val joined = new JoinedRow

      // key -> (times sorted asc, payloads in the same order); ties on time
      // sit in tieBreak order so "last index with time <= t" is the winner.
      val index = new java.util.HashMap[UnsafeRow, (Array[UnsafeRow], Array[UnsafeRow])]()
      val grouped = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.ArrayBuffer[InternalRow]]()
      broadcastRows.value.foreach { row =>
        val k = rKey(row).copy()
        var buf = grouped.get(k)
        if (buf == null) {
          buf = new scala.collection.mutable.ArrayBuffer[InternalRow]
          grouped.put(k, buf)
        }
        buf += row
      }
      grouped.forEach { (k, buf) =>
        // project once per row, then sort the copies by (time, tieBreak)
        val rows = buf.map(r =>
          (rTimeTie(r).copy(), rTimeOnly(r).copy(), payloadProj(r).copy())).toArray
        val sorted = rows.sortWith((a, b) => timeTieOrd.compare(a._1, b._1) < 0)
        index.put(k, (sorted.map(_._2), sorted.map(_._3)))
      }

      val dirB = direction
      val tolB = tolerance
      val needTime = dirB == AsOfDirection.Nearest || tolB.isDefined
      val timeGet: (InternalRow, Int) => Long =
        if (needTime) AsOfTime.getter(lTimeB.dataType) else null

      lIter.map { l =>
        val entry = index.get(lKey(l))
        numOutputRows += 1
        val out = if (entry == null) nullPayload else {
          val (times, payloads) = entry
          val lt = lTimeProj(l)
          // boundary search with predicate `cmp(t, lt) <= bound` — count
          // of rows at-or-before (bound=0) / strictly-before (bound=-1)
          def boundary(bound: Int): Int = {
            var lo = 0
            var hi = times.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (timeOrd.compare(times(mid), lt) <= bound) lo = mid + 1
              else hi = mid
            }
            lo
          }
          val lTime = if (needTime) timeGet(lt, 0) else 0L
          def dist(i: Int): Long = math.abs(timeGet(times(i), 0) - lTime)
          def okTol(i: Int): Boolean = tolB.forall(dist(i) <= _)
          val chosen: Int = dirB match {
            case AsOfDirection.Backward =>
              val i = (if (strictB) boundary(-1) else boundary(0)) - 1
              if (i >= 0 && okTol(i)) i else -1
            case AsOfDirection.Forward =>
              val i = if (strictB) boundary(0) else boundary(-1)
              if (i < times.length && okTol(i)) i else -1
            case AsOfDirection.Nearest =>
              val bw = boundary(0) - 1
              val fw = boundary(0)
              val bwD = if (bw >= 0) dist(bw) else Long.MaxValue
              val fwD = if (fw < times.length) dist(fw) else Long.MaxValue
              if (bw >= 0 && bwD <= fwD && tolB.forall(bwD <= _)) bw
              else if (fw < times.length && tolB.forall(fwD <= _)) fw
              else -1
          }
          if (chosen < 0) nullPayload else { numMatched += 1; payloads(chosen) }
        }
        resultProj(joined(l, out))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: broadcast the right side when its estimated size fits
  * `spark.sql.autoBroadcastJoinThreshold` (same statistic + conf the
  * built-in join selection uses), else the co-partitioned sort-merge exec.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, pay, tb, strict, hint, dir, tol) =>
      val threshold = SQLConf.get.autoBroadcastJoinThreshold
      val canBroadcast = hint.getOrElse(
        threshold >= 0 && r.stats.sizeInBytes >= 0 &&
          r.stats.sizeInBytes <= threshold)
      if (canBroadcast)
        BroadcastAsOfJoinExec(lk, rk, lt, rt, pay, tb, strict, dir, tol,
          planLater(l), planLater(r)) :: Nil
      else
        AsOfJoinExec(lk, rk, lt, rt, pay, tb, strict, dir, tol,
          planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Optimizer rules that teach Catalyst to see THROUGH [[AsOfJoinPlan]].
  *
  * Catalyst's built-in pushdown/pruning rules stop at operators they don't
  * know, so without these a `filter` above an as-of join would run after
  * the join and the scans would read every column — at 100 TB, the
  * difference between scanning a partition slice and scanning the table.
  *
  * 1. Predicate pushdown: deterministic conjuncts referencing only left
  *    columns move below the join (output is exactly the left rows, so
  *    filter-before ≡ filter-after). Conjuncts over the JOIN KEYS are
  *    additionally CLONED to the right side with the key attributes
  *    rewritten (a right row whose key fails the predicate can never match
  *    a surviving left row) — both copies then reach the parquet scans as
  *    `PushedFilters` via the normal file-source planning.
  *
  * 2. Column pruning: a Project above the join shrinks the LEFT child to
  *    the columns the projection references plus the join keys and time —
  *    the operator re-emits the left row, but nothing forces that row to
  *    carry columns nobody reads.
  */
object AsOfJoinOptimizations extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, aj: AsOfJoinPlan) =>
      val (pushable, keep) = splitConjunctivePredicates(cond).partition(c =>
        c.deterministic && c.references.subsetOf(aj.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val newLeft = Filter(pushable.reduce(And), aj.left)
        // key-only conjuncts bound the right side too, modulo attr renames
        val keyMap = aj.leftKeys.zip(aj.rightKeys).collect {
          case (la: Attribute, ra: Attribute) => la.exprId -> ra
        }.toMap
        val keyPreds = pushable.filter(p =>
          p.references.nonEmpty &&
            p.references.forall(a => keyMap.contains(a.exprId)))
        val newRight =
          if (keyPreds.isEmpty) aj.right
          else Filter(keyPreds.map(_.transform {
            case a: Attribute if keyMap.contains(a.exprId) => keyMap(a.exprId)
          }).reduce(And), aj.right)
        val pushed = aj.copy(left = newLeft, right = newRight)
        if (keep.isEmpty) pushed else Filter(keep.reduce(And), pushed)
      }

    case p @ Project(_, aj: AsOfJoinPlan) =>
      val needed = AttributeSet(
        aj.leftKeys.flatMap(_.references) ++ aj.leftTime.references) ++
        p.references
      val kept = aj.left.output.filter(needed.contains)
      if (kept.length == aj.left.output.length) p
      else p.copy(child = aj.copy(left = Project(kept, aj.left)))
  }
}

object AsOfJoin {

  /** Left-outer as-of join of `left` to `right`.
    *
    * @param on        equi-join key column names (present on both sides)
    * @param leftTime  left-side event-time column
    * @param rightTime right-side event-time column
    * @param payload   right-side columns to attach (NULL when no match)
    * @param tieBreak  right-side columns ordering duplicate timestamps;
    *                  the greatest tuple wins
    * @param strict    true → match `rightTime < leftTime` only
    * @param broadcast Some(true) pins the broadcast form, Some(false) the
    *                  co-partitioned sort-merge form, None lets the
    *                  planner choose from right-side size statistics
    *
    * The right side is re-aliased through fresh attribute ids before the
    * plan node is built, so self-as-of-joins (both sides reading the same
    * source — the common "events to events" case) never produce ambiguous
    * attribute references.
    */
  def apply(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      payload: Seq[String],
      tieBreak: Seq[String] = Nil,
      strict: Boolean = false,
      broadcast: Option[Boolean] = None,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    graft.core.Session.install(spark)
    val dir = AsOfDirection.parse(direction)
    require(!(strict && dir == AsOfDirection.Nearest),
      "strict is not defined for direction=nearest")
    val rCols = (on ++ Seq(rightTime) ++ payload ++ tieBreak).distinct
    // Fresh exprIds on every right-side column (Alias allocates new ids):
    // kills left/right attribute collisions at the source.
    val freshName: Map[String, String] =
      rCols.map(c => c -> s"__graft_asof_$c").toMap
    val right2 = right.select(rCols.map(c => col(c).as(freshName(c))): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right2.queryExecution.analyzed
    def lAttr(n: String): Attribute = lPlan.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"left column not found: $n"))
    def rAttr(n: String): Attribute = rPlan.output
      .find(_.name == freshName(n))
      .getOrElse(throw new IllegalArgumentException(s"right column not found: $n"))
    val plan = AsOfJoinPlan(
      lPlan, rPlan,
      leftKeys = on.map(lAttr),
      rightKeys = on.map(rAttr),
      leftTime = lAttr(leftTime),
      rightTime = rAttr(rightTime),
      payload = payload.map(rAttr),
      tieBreak = tieBreak.map(rAttr),
      strict = strict,
      broadcastHint = broadcast,
      direction = dir,
      tolerance = tolerance)
    // fail fast on type mismatches nearest/tolerance can't serve
    if (dir == AsOfDirection.Nearest || tolerance.isDefined)
      AsOfTime.getter(lAttr(leftTime).dataType)
    val out = GraftShim.ofRows(spark, plan)
    // Surface the payload under its caller-facing names again.
    payload.foldLeft(out)((df, c) => df.withColumnRenamed(freshName(c), c))
  }
}
