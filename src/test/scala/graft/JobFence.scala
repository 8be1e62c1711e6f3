package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Counts the jobs an action runs and reads the plan it ended with. */
trait JobFence extends SparkSpec {

  private val TagKey = "graft.test.tag"

  /** Jobs `body` submits and the task counts of the stages they ran,
    * fenced by a sentinel job as in MaterializeSpec: the listener bus
    * delivers events in order, so once the sentinel's start is seen
    * every earlier job and stage has been recorded.
    */
  def run[T](body: => T): (T, Int, Seq[Int]) = {
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

  /** The plan AQE ended with (its tree string alone, without the
    * initial plan AdaptiveSparkPlanExec also prints).
    */
  def finalPlan(d: DataFrame): String = d.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case p => p.toString
  }

  /** Operator names of the plan `d` ended with, through AQE's query
    * stages, in tree order: a plan's shape without its expression ids.
    */
  def operators(d: DataFrame): Seq[String] = {
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s.nodeName +: walk(s.plan)
      case other => other.nodeName +: other.children.flatMap(walk)
    }
    walk(d.queryExecution.executedPlan)
  }

  /** Collect `df` and return its rows, job count and final plan. */
  def collected(df: => DataFrame): (Array[Row], Int, String) = {
    val ((rows, plan), jobs, _) = run {
      val d = df
      val r = d.collect()
      (r, finalPlan(d))
    }
    (rows, jobs, plan)
  }
}
