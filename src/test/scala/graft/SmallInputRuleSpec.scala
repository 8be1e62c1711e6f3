package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.plans.SmallInputRule
import graft.sources.Tables

/** [[graft.plans.SmallInputRule]]: a plan whose scans are all small runs
  * its joins, aggregates and sorts in one partition (one job, no
  * exchange, no broadcast); above the bound, with coalescing off, with
  * a join side over `maxSinglePartitionBytes`, over a repartition the
  * program asked for, over a generator or an object operator, and in a
  * stream, the plan is today's.
  */
class SmallInputRuleSpec extends JobFence {

  private val sf = "/root/testdata/sf0.001"
  private val Excluded = "spark.sql.optimizer.excludedRules" -> "graft.plans.SmallInputRule"
  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Filter + join + groupBy + orderBy over two parquet fixtures; one
    * row per market segment, every aggregate exact.
    */
  private def smallJoin: DataFrame = {
    val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 1000)
    val c = Tables.customer(spark, sf)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), max("o_totalprice").as("top"), countDistinct("o_custkey").as("custs"))
      .orderBy("c_mktsegment")
  }

  private def exchanges(ops: Seq[String]): Seq[String] =
    ops.filter(o => o.contains("Exchange") || o.contains("Broadcast"))

  test("small filter + join + groupBy + orderBy runs one job: no Exchange, no Broadcast, same rows") {
    val (d, dOff) = (smallJoin, smallJoin)
    val (rows, jobs, plan) = collected(d)
    val (rowsOff, jobsOff, planOff) = withConf(Excluded)(collected(dOff))
    assert(jobs == 1, s"jobs with the rule $jobs:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Broadcast"), plan)
    assert(plan.contains("ShuffledHashJoin") && plan.contains("Coalesce 1"), plan)
    assert(planOff.contains("Exchange") && jobsOff > 1, s"rule excluded, $jobsOff jobs:\n$planOff")
    assert(rows.length == 5 && rows.toSeq == rowsOff.toSeq)
  }

  test("one byte over the bound, coalescing off, or a join side over maxSinglePartitionBytes keeps today's plan") {
    val est = SmallInputRule.inputBytes(smallJoin.queryExecution.optimizedPlan)
    def shape(confs: (String, String)*): Seq[String] = {
      val d = smallJoin
      withConf(confs: _*) { d.collect(); operators(d) }
    }
    // above maxSinglePartitionBytes EnsureRequirements re-shuffles
    // one-partition join sides
    for (off <- Seq(MinPartitionSize -> (est - 1).toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.maxSinglePartitionBytes" -> "1024")) {
      val on = shape(off)
      assert(on == shape(off, Excluded), s"$off: the rule changed the plan: $on")
      assert(exchanges(on).nonEmpty, s"$off: $on")
    }
    val atBound = shape(MinPartitionSize -> est.toString)
    assert(exchanges(atBound).isEmpty, s"at the bound ($est bytes) the rule must fire: $atBound")
  }

  test("a repartition(4) input keeps its 4-task stage") {
    val ((rows, plan), _, tasks) = run {
      val d = Tables.orders(spark, sf).repartition(4)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      (d.collect(), finalPlan(d))
    }
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
    assert(!plan.contains("Coalesce 1"), plan)
    assert(tasks.contains(4), s"no stage ran the 4-way repartition with 4 tasks: $tasks")
  }

  test("an explode plan and a mapPartitions plan keep their exchanges") {
    import spark.implicits._
    val words = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val keys = Tables.orders(spark, sf).select("o_orderkey").as[Long]
      .mapPartitions(_.map(_ % 7)).toDF("k")
      .groupBy("k").agg(count(lit(1)).as("n"))
    for (d <- Seq(words, keys)) {
      d.collect()
      val plan = finalPlan(d)
      assert(plan.contains("Exchange") && !plan.contains("Coalesce 1"), plan)
    }
  }

  test("a streaming plan is untouched") {
    val root = Files.createTempDirectory("graft_small_input_stream").toString
    Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus")
      .write.parquet(s"$root/input")
    val q = spark.readStream.schema("o_orderkey BIGINT, o_orderstatus STRING")
      .parquet(s"$root/input")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("small_input_stream").outputMode("complete")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "stream did not finish")
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("StateStoreSave") && plan.contains("Exchange"), plan)
      assert(!plan.contains("Coalesce"), plan)
      assert(spark.table("small_input_stream").agg(sum("n")).head().getLong(0) ==
        Tables.orders(spark, sf).count())
    } finally q.stop()
  }

  test("short queries at sf0.001 run one job each, collected or written to the noop sink") {
    for (name <- Seq("q06_agg_collect", "q15_join_full_outer", "q19_join_asof_forward",
        "q46_sql_q12_shape", "q82_window_session", "q95_sql_q15_shape", "q98_crosstab")) {
      val d = SparkEntry.queries(name)(spark, sf)
      val (_, jobs, _) = run(d.collect())
      assert(jobs == 1, s"$name ran $jobs jobs:\n${finalPlan(d)}")
      val (_, writeJobs, _) = run(d.write.format("noop").mode("overwrite").save())
      assert(writeJobs == 1, s"$name ran $writeJobs jobs through the noop sink")
    }
  }
}
