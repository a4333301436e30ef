package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, FullOuter, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SORT
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime optimizer rule: a global sort whose input is already
  * known to fit in one partition sorts in one task.
  *
  * A global `Sort` plans a range exchange, and a range exchange runs a
  * `RangePartitioner` sampling job (which recomputes its child) plus a
  * shuffle-map stage. When that exchange's input is small, AQE's
  * `CoalesceShufflePartitions` then reads it back as ONE partition, so
  * both jobs bought nothing. Once every leaf under the sort is a
  * materialized query stage or a `LocalRelation`, the input's size is
  * known at re-optimization time; if it is at most what coalescing would
  * put in one partition, the sort is rewritten to
  * `Sort(global, Repartition(1, shuffle = false, child))`. A
  * `SinglePartition` child satisfies the sort's `OrderedDistribution`,
  * so `EnsureRequirements` plans no range exchange. The rows and their
  * order are those of the coalesced range exchange: both sort the
  * child's partitions, read in partition order, in one task.
  *
  * The size is an upper bound: the leaves' exact runtime row counts,
  * carried through a closed set of operators whose output rows are
  * bounded by their inputs' ([[rowBound]]), times the sort's row width.
  * A join's logical size estimate (the product of its children's BYTES)
  * is not used: a 3-row probe joined to a small broadcast stage
  * estimates at hundreds of MiB. Anything else under the sort (a scan, a
  * stage still running, an operator outside the set) leaves the plan
  * as it is, and so does an already materialized range-exchange stage,
  * whose sampling is paid, and a sort under a limit, which plans as a
  * top-k with no range exchange.
  *
  * The rule reads AQE's own coalescing confs and adds none.
  */
case class SingleTaskSort(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = onePartitionBytes match {
    case None => plan
    case Some(limit) =>
      // under a limit the planner makes the sort a top-k
      // (TakeOrderedAndProject), which plans no range exchange
      val topK = plan.collect {
        case LocalLimit(_, s: Sort) => s
        case LocalLimit(_, Project(_, s: Sort)) => s
      }
      // top-down, so every Sort reached is the instance collected above
      plan.transformDownWithPruning(_.containsPattern(SORT)) {
        // a rewritten sort's child, Repartition, has no row bound, so
        // the rule does not apply to its own output again
        case s @ Sort(_, true, child, _) if !topK.exists(_ eq s) && !overRangeStage(child) &&
            rowBound(child).exists(_ * EstimationUtils.getSizePerRow(child.output) <= limit) =>
          s.copy(child = Repartition(1, shuffle = false, child))
      }
  }

  /** The most bytes `CoalesceShufflePartitions` puts in one partition
    * under the session's confs; None when it does not coalesce. Its
    * target size is max(min(total / minPartitions, advisory), minSize),
    * so the whole input lands in one partition iff it is at most
    * minSize when minPartitions > 1 (parallelismFirst, the default,
    * takes the default parallelism), or max(advisory, minSize) when 1. */
  private def onePartitionBytes: Option[BigInt] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else {
      val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          spark.sparkContext.defaultParallelism
        else 1)
      val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      Some(BigInt(if (minPartitions > 1) minSize else math.max(advisory, minSize)))
    }

  private def overRangeStage(p: LogicalPlan): Boolean = p.exists {
    case q: LogicalQueryStage => q.physicalPlan.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  /** An upper bound on `p`'s output rows when every leaf is a
    * materialized stage with a runtime row count or a local relation,
    * and every node is one whose output rows are bounded by its
    * inputs'; None otherwise. */
  private def rowBound(p: LogicalPlan): Option[BigInt] = p match {
    case q: LogicalQueryStage if q.isMaterialized => q.computeStats().rowCount
    case l: LocalRelation => Some(BigInt(l.data.length))
    case _: Project | _: Filter | _: Window | _: LocalLimit => rowBound(p.children.head)
    case s: Sort if !s.global => rowBound(s.child)
    case g: GlobalLimit => rowBound(g.child).map(r => g.maxRows.fold(r)(m => r.min(BigInt(m))))
    case a: Aggregate =>
      rowBound(a.child).map(r => if (a.groupingExpressions.isEmpty) BigInt(1) else r)
    case u: Union =>
      u.children.foldLeft(Option(BigInt(0)))((acc, c) => acc.flatMap(t => rowBound(c).map(t + _)))
    case j: Join =>
      for (l <- rowBound(j.left); r <- rowBound(j.right)) yield j.joinType match {
        case LeftSemi | LeftAnti | ExistenceJoin(_) => l
        case LeftOuter => l * r.max(1)
        case RightOuter => l.max(1) * r
        case FullOuter => l * r + l + r
        case _ => l * r
      }
    case _ => None
  }
}
