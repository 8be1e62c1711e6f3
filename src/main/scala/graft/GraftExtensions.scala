package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftRegistry

/** Injects graft's native SQL functions (every entry of
  * GraftRegistry.expressions) and optimizer rules into every session
  * when configured with `spark.sql.extensions=graft.GraftExtensions`
  * (cluster-wide installation path, and the one GraftSession uses;
  * ad-hoc sessions can call GraftRegistry.register).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftRegistry.expressions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    // automatic range-join binning, opt-in via
    // spark.graft.rangeJoin.binWidth (see plans.RangeBinJoinRule)
    ext.injectOptimizerRule(graft.plans.RangeBinJoinRule)
    // native per-group top-k physical operator (see plans.TopKPerGroup)
    ext.injectPlannerStrategy(graft.plans.TopKPerGroupStrategy)
    // SQL surface for it: rewrite `row_number() OVER (...) <= k` filters
    // into the native operator (see plans.WindowTopKRule)
    ext.injectOptimizerRule(graft.plans.WindowTopKRule)
  }
}
