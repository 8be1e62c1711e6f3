package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, SortOrder}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.IntegerType

import graft.plans.TopKPerGroupPlan

/** Public API for the native per-group top-k operator (see
  * [[graft.plans.TopKPerGroupPlan]] for the execution design and why it
  * beats the window-function formulation at scale). The session plans
  * it through the strategy `GraftExtensions` injects.
  */
object TopK {

  /** Top `k` rows per group, ranked 1..k by `orderSpecs`
    * ((column, descending) pairs — supply enough columns for a TOTAL
    * order, or the kept set is nondeterministic). Output = input
    * columns + an integer `rankName` column.
    *
    * Executes as partial bounded heaps → survivor-only shuffle → final
    * merge; never a full-data sort or shuffle.
    */
  def perGroup(df: DataFrame, groupCols: Seq[String], orderSpecs: Seq[(String, Boolean)],
      k: Int, rankName: String = "rank"): DataFrame = {
    require(groupCols.nonEmpty || orderSpecs.nonEmpty, "need group or order columns")
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    def attr(name: String) = child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"column '$name' not in ${child.output.map(_.name).mkString(", ")}"))
    val orderExprs = orderSpecs.map { case (c, desc) =>
      SortOrder(attr(c), if (desc) Descending else Ascending)
    }
    val rankAttr = AttributeReference(rankName, IntegerType, nullable = false)()
    PlanBridge.ofRows(spark,
      TopKPerGroupPlan(groupCols.map(attr), orderExprs, k, rankAttr, child))
  }
}
