package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Per-group top-k as a first-class operator — the full custom-operator
  * rung: logical node + planner strategy + physical execution.
  *
  * The declarative formulation (`row_number().over(Window.partitionBy(g)
  * .orderBy(o)) <= k`) shuffles EVERY row to its group's reducer and
  * sorts the whole group just to keep k rows — at 100 TB that is a
  * full-data shuffle plus a full-data sort. This operator plans like an
  * aggregation instead:
  *
  *   partial TopKPerGroupExec   (per input partition, bounded heaps,
  *                               emits ≤ k rows per (partition, group))
  *     → Exchange on group key  (inserted by EnsureRequirements —
  *                               shuffles only the ≤ k·|groups| survivors)
  *       → final TopKPerGroupExec (merges, sorts each ≤ partitions·k
  *                                 group slice, emits rank 1..k)
  *
  * Shuffle volume drops from |rows| to ≤ k·|groups|·|partitions|, and
  * no full sort ever happens — per-row cost is one heap compare against
  * the group's current k-th row. Memory per task is k rows per distinct
  * group in that partition (the hash-aggregate memory story).
  *
  * The ordering must be total (add tie-break columns) for the kept set
  * to be deterministic — same contract as any engine's top-k.
  */
case class TopKPerGroupPlan(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"k must be >= 1, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rank is born here, not read from the child
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

/** Plans [[TopKPerGroupPlan]] as partial-then-final [[TopKPerGroupExec]];
  * injected into every session by `GraftExtensions`.
  */
case class TopKPerGroupStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerGroupPlan =>
      val partial = TopKPerGroupExec(t.groupExprs, t.orderExprs, t.k, None, planLater(t.child))
      TopKPerGroupExec(t.groupExprs, t.orderExprs, t.k, Some(t.rankAttr), partial) :: Nil
    case _ => Nil
  }
}

/** Physical per-group top-k. `rankAttr = None` is the partial stage
  * (any distribution, emits unranked survivors); `Some(rank)` is the
  * final stage (requires clustering on the group key — the planner's
  * EnsureRequirements inserts the hash exchange — and emits each
  * group's k best in order with rank 1..k).
  */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: Option[AttributeReference],
    child: SparkPlan) extends UnaryExecNode {

  private def isFinal = rankAttr.isDefined

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (!isFinal) Seq(UnspecifiedDistribution)
    else if (groupExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupExprs))
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val kk = k
    val groupE = groupExprs
    val orderE = orderExprs
    val childOutput = child.output
    val fin = isFinal
    val rank = rankAttr
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(groupE, childOutput)
      // codegen'd row comparator for the requested sort order
      val ordering = GenerateOrdering.generate(orderE, childOutput)
      // max-heap of the kept set: head = current worst of the k best
      val worstFirst = ordering.reverse
      val heaps =
        new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = groupProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          // initial capacity is NOT k: a large k (top-10⁶) would
          // pre-allocate k slots per group; the queue grows as needed
          heap = new java.util.PriorityQueue[InternalRow](
            math.min(kk, 16).max(1), worstFirst)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      if (!fin) {
        // partial: order within the heap is irrelevant (the final stage
        // re-sorts); emit survivors as unsafe rows for the exchange
        val toUnsafe = UnsafeProjection.create(childOutput.map(_.dataType).toArray)
        heaps.values().iterator().asScala.flatMap(h => h.iterator().asScala.map(toUnsafe))
      } else {
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        val toUnsafe =
          UnsafeProjection.create((childOutput.map(_.dataType) :+ IntegerType).toArray)
        heaps.values().iterator().asScala.flatMap { h =>
          val arr = h.toArray(new Array[InternalRow](h.size))
          java.util.Arrays.sort(arr, ordering)
          arr.iterator.zipWithIndex.map { case (r, i) =>
            rankRow.setInt(0, i + 1)
            toUnsafe(joined(r, rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }
}
