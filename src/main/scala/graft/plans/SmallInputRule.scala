package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, WriteFiles}
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: a plan whose scans are all small runs its joins,
  * aggregates, windows and sorts in one partition, with no exchange
  * and no broadcast job.
  *
  * For a sub-second query every `ENSURE_REQUIREMENTS` exchange is an
  * extra Spark job of pure fixed cost (a map stage, an AQE re-plan and
  * a coalesced one-partition read, moving rows from one task to one
  * task), and a broadcast join adds a broadcast job. When the scans'
  * bytes are known to be small before the first job runs, this rule
  * puts `Repartition(1, shuffle = false)` (a `Coalesce 1`, whose
  * output is `SinglePartition`) only where `EnsureRequirements` would
  * otherwise plan an exchange:
  *  - under each aggregate, window and global sort, and on both sides
  *    of each join, whose input is not already one partition. A scan
  *    chain (a file scan or local relation under Projects and Filters)
  *    gets it on top, so filter pushdown and column pruning stay at the
  *    scan; a join or a union gets it above;
  *  - each join is marked `SHUFFLE_HASH` on both sides, so it is
  *    planned as a shuffled hash join over its one-partition sides,
  *    never as a broadcast.
  *
  * It fires on a plan, or on the query a write runs, only when all of
  * these hold:
  *  - (a) the plan is not streaming;
  *  - (b) every leaf is a `HadoopFsRelation` scan or a `LocalRelation`;
  *  - (c) the leaves' summed column-pruned Catalyst estimate (each
  *    scan chain's `stats.sizeInBytes`) is at or below
  *    [[OnePartition.bytes]], the size `CoalesceShufflePartitions`
  *    would read as one partition anyway. With coalescing off the rule
  *    is off;
  *  - (d) no expression is nondeterministic;
  *  - (e) every operator is in a row-bounded allowlist: Project,
  *    Filter, Aggregate (which `distinct` and `dropDuplicates` have
  *    become by this batch), equi-key Join, Sort, Window, Union, Limit,
  *    and `Repartition(1, shuffle = false)`. So there is
  *    no `Generate`, no object or Python operator, no keyless join, no
  *    graft operator, and no repartition or rebalance the program asked
  *    for: `Kernels.fanOut`'s fan-out keeps its tasks;
  *  - (f) each join's sides are estimated at or below
  *    `spark.sql.maxSinglePartitionBytes`: `EnsureRequirements`
  *    re-shuffles one-partition join sides above it, and Catalyst
  *    estimates an inner join as the product of its sides, so a
  *    multi-way join over a fact table keeps today's plan.
  *
  * Inputs above the bound keep today's plan, so the large-input path
  * does not change. There is no graft knob: Spark's
  * `spark.sql.optimizer.excludedRules` switches the rule off. Rows
  * that tie on a sort key may come back in another order than the
  * range sort returns them. Idempotent: it runs in the fixed-point
  * operator-optimization batch, and a second pass finds every input
  * already one partition and every join already marked.
  */
case class SmallInputRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // a write (a `noop` or file sink) runs the query under it
    case w @ (_: V2WriteCommand | _: DataWritingCommand | _: WriteFiles) =>
      w.withNewChildren(w.children.map(apply))
    case _ => oneStage(plan)
  }

  private def oneStage(plan: LogicalPlan): LogicalPlan = OnePartition.bytes(conf) match {
    case Some(bound) if fires(plan, bound) => plan.transformUp {
      case j @ Join(l, r, _, _, hint) if hint != SmallInputRule.ShuffleHash ||
          !isOnePartition(l) || !isOnePartition(r) =>
        j.copy(left = onePartition(l), right = onePartition(r), hint = SmallInputRule.ShuffleHash)
      case s @ Sort(_, true, child, _) if !isOnePartition(child) =>
        s.copy(child = onePartition(child))
      case a: Aggregate if !isOnePartition(a.child) => a.copy(child = onePartition(a.child))
      case w: Window if !isOnePartition(w.child) => w.copy(child = onePartition(w.child))
    }
    case _ => plan
  }

  private def fires(plan: LogicalPlan, bound: Long): Boolean =
    !plan.isStreaming &&
      !plan.exists(p => !allowed(p) || p.expressions.exists(!_.deterministic)) &&
      SmallInputRule.inputBytes(plan) <= bound && {
        val maxSide = conf.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)
        !plan.exists {
          case j: Join => j.children.exists(_.stats.sizeInBytes > maxSide)
          case _ => false
        }
      }

  private def allowed(p: LogicalPlan): Boolean = p match {
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _: LocalRelation | _: Project | _: Filter | _: Aggregate | _: Sort | _: Window |
        _: Union | _: GlobalLimit | _: LocalLimit => true
    case Repartition(1, false, _) => true
    case j: Join => ExtractEquiJoinKeys.unapply(j).isDefined
    case _ => false
  }

  private def onePartition(p: LogicalPlan): LogicalPlan =
    if (isOnePartition(p)) p else Repartition(1, shuffle = false, p)

  /** Whether `p`'s physical plan outputs `SinglePartition` once this
    * rule has rewritten its subtree: a `Coalesce 1`, a global limit
    * (which gathers its input into one partition), or an operator that
    * keeps its one-partition input's partitioning. A union concatenates
    * its inputs' partitions, and a join is not one partition either:
    * a full outer shuffled hash join outputs an unknown partitioning,
    * and `EnsureRequirements` shuffles both sides of a join whose side
    * is another join's one-partition output (a multi-way join then ran
    * one hash shuffle per join). So each gets a `Coalesce 1` above it,
    * which runs in the same task as the join.
    */
  private def isOnePartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, false, _) | _: GlobalLimit => true
    case _: Project | _: Filter | _: Sort | _: Window | _: Aggregate | _: LocalLimit =>
      isOnePartition(p.children.head)
    case _ => false
  }
}

object SmallInputRule {

  /** Summed column-pruned size estimate of every scan chain in `plan`:
    * the figure the rule compares with [[OnePartition.bytes]].
    */
  def inputBytes(plan: LogicalPlan): BigInt =
    if (isScanChain(plan)) plan.stats.sizeInBytes
    else plan.children.map(inputBytes).sum

  private def isScanChain(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter => isScanChain(p.children.head)
    case _: LogicalRelation | _: LocalRelation => true
    case _ => false
  }

  private val ShuffleHash = {
    val h = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))
    JoinHint(h, h)
  }
}
