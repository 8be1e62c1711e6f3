package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** Per-layer recorder for the traced run, built only on public hooks:
  * a `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * (planning phases and executed plans) and a `StreamingQueryListener`
  * (micro-batch progress). Listener events arrive asynchronously; jobs
  * are tied to their query span by the `perfbench.span` local property,
  * plans and stream batches by the time they started.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  def newId(): Long = nextId.getAndIncrement()

  val spans = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { spans += s }

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]
  @volatile private var events = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      events += 1
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val phase = props.flatMap(p => Option(p.getProperty(PhaseProp))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, span, phase, e.time.toDouble, Double.NaN)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      events += 1
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      events += 1
      val i = e.stageInfo
      val st = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
      st.numTasks = i.numTasks
      st.start = i.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
      st.end = i.completionTime.map(_.toDouble).getOrElse(Double.NaN)
      st.job = stageJob.getOrElse(i.stageId, -1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      events += 1
      val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      st.taskDurations += e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        val c = st.counters
        c("exec.task_run_s") += m.executorRunTime / 1e3
        c("exec.task_cpu_s") += m.executorCpuTime / 1e9
        c("exec.gc_s") += m.jvmGCTime / 1e3
        c("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
        c("shuffle.records") += m.shuffleWriteMetrics.recordsWritten.toDouble
        c("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
        c("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        c("spill.memory_bytes") += m.memoryBytesSpilled.toDouble
        c("spill.disk_bytes") += m.diskBytesSpilled.toDouble
        c("sources.scan_bytes") += m.inputMetrics.bytesRead.toDouble
        c("sources.scan_records") += m.inputMetrics.recordsRead.toDouble
        c("sources.output_bytes") += m.outputMetrics.bytesWritten.toDouble
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      val (topk, unpartitioned) =
        try {
          val plan = qe.executedPlan
          (PlanScan.collectWithSubqueries(plan) { case p if p.getClass.getSimpleName == "TopKPerGroupExec" => p }.size,
            PlanScan.collectWithSubqueries(plan) { case w: WindowExec if w.partitionSpec.isEmpty => w }.size)
        } catch { case _: Throwable => (0, 0) }
      val start = phases.values.map(_._1).minOption.getOrElse(System.currentTimeMillis().toDouble)
      Tracer.this.synchronized {
        events += 1
        plans += PlanRec(start, phases, topk, unpartitioned)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue / 1e3 }
      val ops = p.stateOperators
      Tracer.this.synchronized {
        events += 1
        batches += BatchRec(start, start + d.getOrElse("triggerExecution", 0.0) * 1e3, Map(
          "stream.add_batch_s" -> d.getOrElse("addBatch", 0.0),
          "stream.wal_commit_s" -> d.getOrElse("walCommit", 0.0),
          "stream.commit_offsets_s" -> d.getOrElse("commitOffsets", 0.0),
          "stream.query_planning_s" -> d.getOrElse("queryPlanning", 0.0),
          "stream.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
          "stream.state_rows_updated" -> ops.map(_.numRowsUpdated).sum.toDouble,
          "stream.state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum.toDouble))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Removes the listeners once the events already posted have arrived. */
  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the asynchronous listener buses have gone quiet. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 10e9.toLong
    while (quiet < 4 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = events
      if (now == last) quiet += 1 else quiet = 0
      last = now
    }
  }

  /** Attributes every recorded event to the query span it belongs to,
    * adds job, stage, plan-phase and stream-batch spans beneath it, and
    * returns the per-query layer record.
    */
  def attribute(queries: Seq[Span]): Map[Long, QueryLayers] = synchronized {
    val sorted = queries.sortBy(_.start).toArray
    val starts = sorted.map(_.start)
    val byId = queries.map(q => q.id -> q).toMap
    def byTime(t: Double): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && t <= sorted(i).end) Some(sorted(i)) else None
    }
    val out = mutable.Map.empty[Long, QueryLayers]
    def layers(q: Span) = out.getOrElseUpdate(q.id, new QueryLayers)

    val jobSpan = mutable.Map.empty[Int, Long]
    jobs.values.foreach { j =>
      val q = byId.get(j.span).orElse(byTime(j.start))
      q.foreach { q =>
        val l = layers(q)
        l.jobIntervals += ((j.start, if (j.end.isNaN) j.start else j.end))
        l.c("exec.jobs") += 1
        if (j.phase == "build") l.c("queries.eager_jobs") += 1
        val id = newId()
        jobSpan(j.id) = id
        val parent = if (j.phase == "build") q.attrs.getOrElse("build_span", q.id).asInstanceOf[Long] else q.id
        spans += Span(id, parent, "job", j.start, if (j.end.isNaN) j.start else j.end, Map("job" -> j.id))
      }
    }
    stages.values.foreach { s =>
      val q = jobs.get(s.job).flatMap(j => byId.get(j.span).orElse(byTime(j.start)))
        .orElse(if (s.start.isNaN) None else byTime(s.start))
      q.foreach { q =>
        val l = layers(q)
        s.counters.foreach { case (k, v) => l.c(k) += v }
        l.c("exec.stages") += 1
        l.c("exec.tasks") += s.taskDurations.size
        val wall = if (s.start.isNaN || s.end.isNaN) 0.0 else (s.end - s.start) / 1e3
        if (s.numTasks == 1 && wall > 1.0) l.singleTaskStages += ((s.id, wall))
        if (s.taskDurations.size >= 2) {
          val ds = s.taskDurations.sorted
          val med = ds(ds.size / 2)
          if (med > 0) l.skew = l.skew.max(ds.last / med)
        }
        if (!s.start.isNaN && !s.end.isNaN)
          spans += Span(newId(), jobSpan.getOrElse(s.job, q.id), "stage", s.start, s.end,
            Map("stage" -> s.id, "tasks" -> s.taskDurations.size))
      }
    }
    plans.foreach { p =>
      byTime(p.start).foreach { q =>
        val l = layers(q)
        p.phases.foreach { case (name, (st, en)) =>
          val key = s"plan.${name}_s"
          l.c(key) += (en - st) / 1e3
          spans += Span(newId(), q.id, s"plan.$name", st, en)
        }
        l.c("plan.topk_rewrites") += p.topk
        l.c("plan.window_unpartitioned") += p.unpartitioned
      }
    }
    batches.foreach { b =>
      byTime(b.start).foreach { q =>
        val l = layers(q)
        l.c("stream.batches") += 1
        b.counters.foreach { case (k, v) =>
          if (k == "stream.state_memory_bytes") l.c(k) = l.c(k).max(v) else l.c(k) += v
        }
        spans += Span(newId(), q.attrs.getOrElse("build_span", q.id).asInstanceOf[Long],
          "stream.batch", b.start, b.end.max(b.start))
      }
    }
    out.toMap
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val PhaseProp = "perfbench.phase"

  final case class JobRec(id: Int, span: Long, phase: String, start: Double, var end: Double)
  final class StageRec(val id: Int) {
    var numTasks = 0
    var start = Double.NaN
    var end = Double.NaN
    var job = -1
    val taskDurations = mutable.ArrayBuffer.empty[Double]
    val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  final case class PlanRec(start: Double, phases: Map[String, (Double, Double)], topk: Int, unpartitioned: Int)
  final case class BatchRec(start: Double, end: Double, counters: Map[String, Double])

  /** Layer counters of one query execution. */
  final class QueryLayers {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
    val singleTaskStages = mutable.ArrayBuffer.empty[(Int, Double)]
    var skew = 0.0
  }

  object PlanScan extends AdaptiveSparkPlanHelper

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter { case (a, b) => b > a }
      .toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - a.max(reach); reach = b }
      }
    total
  }

  /** All (idle included) and steal jiffies from the first line of /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (xs.sum, xs(7))
      } finally f.close()
    } catch { case _: Throwable => (0L, 0L) }

  /** Share of all CPU jiffies between two `cpuTicks` readings that the host stole. */
  def stealFrac(from: (Long, Long), to: (Long, Long)): Double =
    if (to._1 > from._1) (to._2 - from._2).toDouble / (to._1 - from._1) else 0.0
}
