package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** [[graft.plans.SmallSortRule]]: a global sort over input AQE measured
  * as small runs in one partition (no range exchange, 2 fewer jobs);
  * above the bound, with coalescing off, or over a repartition the
  * program asked for, the range sort stays.
  */
class SmallSortRuleSpec extends SparkSpec {

  private val TagKey = "graft.test.tag"
  private val Rule = "graft.plans.SmallSortRule"

  /** Jobs `body` submits and the task counts of the stages they ran,
    * fenced by a sentinel job as in MaterializeSpec: the listener bus
    * delivers events in order, so once the sentinel's start is seen
    * every earlier job and stage has been recorded.
    */
  private def run[T](body: => T): (T, Int, Seq[Int]) = {
    val jobs = new ConcurrentLinkedQueue[String]()
    val stageTasks = new ConcurrentLinkedQueue[Int]()
    def tag(p: java.util.Properties) = Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse("")
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.add(tag(js.properties))
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (tag(ss.properties) == "body") stageTasks.add(ss.stageInfo.numTasks)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(TagKey, "body")
      val out = body
      sc.setLocalProperty(TagKey, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains("sentinel"), "sentinel job never reached the listener")
      (out, jobs.asScala.count(_ == "body"), stageTasks.asScala.toSeq)
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The plan AQE ended with (its tree string alone, without the
    * initial plan AdaptiveSparkPlanExec also prints).
    */
  private def finalPlan(d: DataFrame): String =
    d.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan.toString

  /** Collect `df` and return its rows, job count and final plan. */
  private def collected(df: => DataFrame): (Array[Row], Int, String) = {
    val ((rows, plan), jobs, _) = run {
      val d = df
      val r = d.collect()
      (r, finalPlan(d))
    }
    (rows, jobs, plan)
  }

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

  test("a repartition(n) input (Tuning.spread) keeps its n tasks") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ((rows, plan), _, tasks) = run {
      val d = Tuning.spread(spark.range(0, 1000, 1, 1).toDF("id"))
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
