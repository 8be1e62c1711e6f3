package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftRegistry

/** Injects graft's SQL functions (every entry of
  * GraftRegistry.expressions), optimizer rules, planner strategy and
  * AQE runtime optimizer rule into every session when configured with
  * `spark.sql.extensions=graft.GraftExtensions`, as GraftSession does.
  * It is the one install point.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftRegistry.expressions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    // native per-group top-k physical operator (see plans.TopKPerGroup)
    ext.injectPlannerStrategy(graft.plans.TopKPerGroupStrategy)
    // SQL surface for it: rewrite `row_number() OVER (...) <= k` filters
    // into the native operator (see plans.WindowTopKRule)
    ext.injectOptimizerRule(graft.plans.WindowTopKRule)
    // a plan whose scans are all small runs its joins, aggregates,
    // windows and sorts in one partition (see plans.SmallInputRule)
    ext.injectOptimizerRule(graft.plans.SmallInputRule)
    // AQE re-optimization: a global sort over measured-small input sorts
    // in one partition, no range exchange (see plans.SmallSortRule)
    ext.injectRuntimeOptimizerRule(graft.plans.SmallSortRule)
  }
}
