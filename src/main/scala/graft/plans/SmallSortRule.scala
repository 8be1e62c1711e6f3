package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS

/** AQE runtime rule: a global sort whose input AQE has already measured
  * as small sorts in one partition instead of through a range exchange.
  *
  * `orderBy` plans `Exchange rangepartitioning(…)`, and Spark's
  * `RangePartitioner` runs a separate sampling job over the exchange's
  * input before the exchange's own map stage. For the sub-second
  * queries that is 2 of a typical query's ~5 jobs, spent ordering a
  * handful of rows that AQE then coalesces back into one partition
  * anyway. This rule rewrites
  * {{{
  * Sort(order, global = true, child)
  *   => Sort(order, global = true, Repartition(1, shuffle = false, child))
  * }}}
  * whose `Coalesce 1` outputs `SinglePartition`, which already
  * satisfies the sort's `OrderedDistribution`: no range exchange is
  * planned, so both the sampling job and the range-shuffle map stage go.
  *
  * It fires only when all of these hold:
  *  - (a) every leaf of `child` is a `LogicalQueryStage` whose stages
  *    have all materialized, or a `LocalRelation`: the size is
  *    measured, not estimated;
  *  - (b) the stages' summed runtime bytes (a shuffle's map-output
  *    bytes, the figure `CoalesceShufflePartitions` packs) are at or
  *    below the size at which `CoalesceShufflePartitions` reads them as
  *    one partition anyway ([[OnePartition.bytes]]). With coalescing off
  *    the rule is off;
  *  - (c) every input shuffle was planned by Spark
  *    (`ENSURE_REQUIREMENTS`), never one whose partition count the
  *    program asked for (`repartition(n)`, `repartition(col)`,
  *    rebalance), so `Kernels.fanOut`'s fan-out and the Dedup tile
  *    groups keep their tasks. Nor is it range-partitioned: that is the
  *    sort's own exchange, which has already run when it is an input.
  *
  * Under (a)–(c) the stage that feeds the sort would have run as one
  * task, so the rewrite loses no parallelism. A sort over more than the
  * bound keeps the distributed range sort (the large-input path), and
  * so does every plan AQE does not re-optimize: streaming micro-batches,
  * pre-execution and `explain()` plans. Rows that tie on the sort key
  * may come back in a different order than the range sort returns them.
  * Idempotent: a child that is already `Repartition(1, false, _)` is
  * left alone, so repeated re-optimization adds one `Coalesce 1` at most.
  */
case class SmallSortRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Measured bytes of one materialized input stage; `None` when it is
    * not materialized, its partition count was asked for, or it is a
    * range shuffle.
    */
  private def stageBytes(s: QueryStageExec): Option[BigInt] =
    if (!s.isMaterialized) None
    else s match {
      case sq: ShuffleQueryStageExec =>
        val ex = sq.shuffle
        if (ex.shuffleOrigin != ENSURE_REQUIREMENTS ||
            ex.outputPartitioning.isInstanceOf[RangePartitioning]) None
        else sq.mapStats.map(m => BigInt(m.bytesByPartitionId.sum))
      case other => other.computeStats().map(_.sizeInBytes)
    }

  /** Summed measured bytes of `plan`'s inputs, when every leaf is measured. */
  private def measuredBytes(plan: LogicalPlan): Option[BigInt] = {
    val parts = plan.collectLeaves().flatMap {
      case q: LogicalQueryStage =>
        val stages = q.physicalPlan.collect { case s: QueryStageExec => s }
        if (stages.isEmpty) Seq(None) else stages.map(stageBytes)
      case r: LocalRelation => Seq(Some(r.stats.sizeInBytes))
      case _ => Seq(None)
    }
    if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = OnePartition.bytes(conf) match {
    case None => plan
    case Some(bound) => plan.transform {
      case s @ Sort(_, true, child, _)
          if !isOnePartition(child) && measuredBytes(child).exists(_ <= bound) =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }
  }

  private def isOnePartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, false, _) => true
    case _ => false
  }
}
