package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Attribute, DynamicPruningSubquery, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{InnerLike, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, Join, LogicalPlan, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Runtime source-key pruning for merge-on-read MERGE — the role Delta
  * Lake's merge plays with its hand-built dynamic file pruning, here as
  * a ~100-line optimizer rule over public Catalyst contracts.
  *
  * Why Spark can't do this itself: the delta-based MERGE rewrite
  * (`RewriteMergeIntoTable` for `SupportsDelta` tables) plants a
  * NON-DETERMINISTIC projection (`monotonically_increasing_id` as
  * `__row_id`, for match-cardinality checking) between the join and the
  * target scan. `PartitionPruning` still inserts its DPP filter at the
  * top of the pruning side, but `PhysicalOperation` refuses to collapse
  * filters across non-deterministic projects, so the filter can never
  * reach the scan — and `CleanupDynamicPruningFilters` then strips it.
  * Spark's own `RowLevelOperationRuntimeGroupFiltering` covers only
  * GROUP-BASED (copy-on-write) operations, not `WriteDelta`.
  *
  * The fix exploits what the generic rules cannot know: the pruning key
  * flows UNCHANGED (same `exprId`) from the scan relation through the
  * `__row_id` project, so the dynamic filter is correct DIRECTLY ABOVE
  * THE RELATION — below the non-determinism that blocks the generic
  * path. This rule runs in `experimental.extraOptimizations` (after the
  * cleanup rule, so its insertion survives) and places
  * `Filter(DynamicPruningSubquery(...), relation)` exactly there;
  * `DataSourceV2Strategy` then splits it into `BatchScanExec`'s
  * `runtimeFilters`, and [[graft.sources.GraftRuntimePrune]] turns the
  * materialized source keys into manifest partition/bucket/stats
  * pruning.
  *
  * AT 100 TB: a daily MERGE of one day's updates into a date-partitioned
  * fact table reads the touched partitions, not the table — the
  * difference between a bounded nightly job and a full-table scan per
  * merge.
  *
  * Safety gates (prune only when dropping unmatched target rows cannot
  * change the result):
  *  - join type Inner / target-side-non-preserved outer only — a merge
  *    with NOT MATCHED BY SOURCE clauses plans a target-preserving
  *    outer join and is left untouched;
  *  - the source subtree must be deterministic: the subquery RE-RUNS it
  *    to collect keys, and a non-deterministic source could yield
  *    different keys than the main join (Delta materializes such
  *    sources for the same reason; we skip pruning instead);
  *  - the pruning key must be a bare output attribute of the scan
  *    relation whose name the scan advertises in `filterAttributes()`;
  *  - idempotent under the fixed-point batch: a target subtree already
  *    carrying a dynamic filter is skipped.
  */
object MergeRuntimeFiltering extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.dynamicPartitionPruningEnabled) plan
    else plan.transformDown {
      case w: WriteDelta => w.withNewQuery(injectJoins(w.query))
    }

  private def injectJoins(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case j @ Join(left, right, joinType, Some(cond), _) =>
        val targetLeft = scanRelationOf(left)
        val targetRight = scanRelationOf(right)
        // orient: (prunable target side, source side); prune only when
        // the join DROPS unmatched target rows
        val oriented: Option[(LogicalPlan, LogicalPlan, DataSourceV2ScanRelation, Boolean)] =
          (targetLeft, joinType) match {
            case (Some(rel), _: InnerLike | RightOuter) => Some((left, right, rel, true))
            case _ => (targetRight, joinType) match {
              case (Some(rel), _: InnerLike | LeftOuter) => Some((right, left, rel, false))
              case _ => None
            }
          }
        oriented match {
          case Some((target, source, rel, targetIsLeft))
              if !hasDynamicFilter(target) && isDeterministic(source) =>
            val prunable = filterableNames(rel)
            // all equi-conjuncts source-side keys, in a stable order, so
            // a broadcast of exactly these keys is reusable and
            // broadcastKeyIndices picks the pruning one
            val equi = splitConjunctivePredicates(cond).collect {
              case EqualTo(a, b)
                  if a.references.subsetOf(target.outputSet) &&
                    b.references.subsetOf(source.outputSet) => (a, b)
              case EqualTo(a, b)
                  if b.references.subsetOf(target.outputSet) &&
                    a.references.subsetOf(source.outputSet) => (b, a)
            }
            val buildKeys = equi.map(_._2)
            val newTarget = equi.zipWithIndex.foldLeft(target) {
              case (t, ((targetKey: Attribute, _), idx))
                  if rel.outputSet.contains(targetKey) &&
                    prunable.contains(targetKey.name) =>
                t.transformUp {
                  case r: DataSourceV2ScanRelation if r eq rel =>
                    Filter(DynamicPruningSubquery(
                      targetKey, source, buildKeys, Seq(idx),
                      onlyInBroadcast = false), r)
                }
              case (t, _) => t
            }
            if (newTarget eq target) j
            else if (targetIsLeft) j.copy(left = newTarget)
            else j.copy(right = newTarget)
          case _ => j
        }
    }

  /** The single runtime-filterable scan relation of a merge side, if the
    * side is a straight-line read of it (no unions/nested joins — the
    * shapes the MERGE rewrite actually produces).
    */
  private def scanRelationOf(plan: LogicalPlan): Option[DataSourceV2ScanRelation] =
    plan.collect {
      case r @ DataSourceV2ScanRelation(_, _: SupportsRuntimeV2Filtering, _, _, _) => r
    } match {
      case Seq(only) => Some(only)
      case _ => None
    }

  private def filterableNames(rel: DataSourceV2ScanRelation): Set[String] =
    rel.scan.asInstanceOf[SupportsRuntimeV2Filtering]
      .filterAttributes().flatMap(_.fieldNames().lastOption).toSet

  private def hasDynamicFilter(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[DynamicPruningSubquery])))

  private def isDeterministic(plan: LogicalPlan): Boolean =
    !plan.exists(_.expressions.exists(!_.deterministic))
}
