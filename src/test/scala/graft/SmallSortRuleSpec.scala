package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[graft.plans.SmallSortRule]]: a global sort over input AQE measured
  * as small runs in one partition (no range exchange, 2 fewer jobs);
  * above the bound, with coalescing off, or over a repartition the
  * program asked for, the range sort stays.
  */
class SmallSortRuleSpec extends JobFence {

  private val Rule = "graft.plans.SmallSortRule"

  /** 50 groups whose sums are all distinct: no ties on the sort key. */
  private def smallAgg: DataFrame =
    spark.range(0, 2000, 1, 4).select((col("id") % 50).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy(col("s").desc)

  test("small groupBy.agg.orderBy sorts in one partition: no range exchange, 2 fewer jobs, same rows") {
    val (rows, jobs, plan) = collected(smallAgg)
    val (rowsOff, jobsOff, planOff) =
      withConf("spark.sql.adaptive.optimizer.excludedRules" -> Rule)(collected(smallAgg))
    assert(!plan.contains("rangepartitioning"), s"range exchange left in the final plan:\n$plan")
    assert(plan.contains("Coalesce 1"), plan)
    assert(planOff.contains("rangepartitioning"), s"rule excluded, range sort expected:\n$planOff")
    assert(jobsOff - jobs == 2, s"jobs with the rule $jobs, without $jobsOff")
    assert(rows.length == 50 && rows.toSeq == rowsOff.toSeq)
  }

  test("input above the bound, or coalescing off, keeps the range exchange") {
    for (conf <- Seq(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")) {
      val (rows, _, plan) = withConf(conf)(collected(smallAgg))
      assert(plan.contains("rangepartitioning"), s"$conf: range sort expected:\n$plan")
      assert(!plan.contains("Coalesce 1"), s"$conf:\n$plan")
      assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).toSeq.sorted.reverse)
    }
    // at Spark's default bound (1 MB): ~3 MB of incompressible shuffle
    // input keeps the distributed sort
    val (rows, _, plan) = collected(
      spark.range(0, 200000, 1, 4).select(col("id"), xxhash64(col("id")).as("h"))
        .groupBy("id").agg(max("h").as("h")).orderBy("h"))
    assert(plan.contains("rangepartitioning"), s"large input must keep the range sort:\n$plan")
    assert(rows.length == 200000)
  }

  test("a repartition(n) input keeps its n tasks") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ((rows, plan), _, tasks) = run {
      val d = spark.range(0, 1000, 1, 1).toDF("id").repartition(n)
        .select(col("id"), (col("id") * 7 % 1000).as("x"))
        .orderBy("x")
      (d.collect(), finalPlan(d))
    }
    assert(n > 1 && rows.length == 1000)
    assert(!plan.contains("Coalesce 1"), s"repartition input must not be coalesced:\n$plan")
    assert(tasks.contains(n), s"no stage read the $n-way repartition with $n tasks: $tasks")
  }

  test("repeated AQE re-optimization adds one Coalesce 1 only") {
    // the right branch is two shuffles deep, so AQE re-optimizes again
    // after the left branch's sort has been rewritten
    val right = spark.range(0, 3000, 1, 4).select((col("id") % 300).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
      .groupBy((col("k") % 7).as("k")).agg(sum("s").as("s"))
      .select(col("k"), col("s"), lit(0L).as("n"))
    val (rows, _, plan) = collected(smallAgg.union(right))
    assert(rows.length == 57)
    assert(plan.split("Coalesce 1", -1).length - 1 == 1, s"expected one Coalesce 1:\n$plan")
  }
}
