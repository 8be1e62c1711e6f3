package graft.metrics

import java.util.concurrent.{Semaphore, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s.JsonAST._
import org.json4s.jackson.JsonMethods.compact

/** One completed stage attempt: its wall time, task count, the
  * [[QueryMetrics.Fields]] sums of its tasks, and `rows_out`, the
  * stage's last-registered `number of output rows` SQL metric.
  */
final case class StageRow(stage: Int, name: String, wallMs: Long, tasks: Int, counts: Seq[Long],
                          rowsOut: Long) {
  def json: JObject = JObject(List[JField]("stage" -> JInt(stage), "name" -> JString(name),
    "wall_s" -> JDouble(wallMs / 1e3), "tasks" -> JInt(tasks)) ++
    QueryMetrics.Fields.zip(counts).map { case (f, v) => f -> JLong(v) } :+ ("rows_out" -> JLong(rowsOut)))
}

/** One query's counts and executor time for one pass: jobs, completed
  * stage attempts and their tasks, the [[QueryMetrics.Fields]] summed
  * over those stages, and the stages that ran at least
  * [[QueryMetrics.SlowStageMs]]. `wallS` is the caller's time (-1 for a
  * failed query).
  */
final case class QueryRecord(query: String, pass: Int, wallS: Double, jobs: Int, stages: Seq[StageRow]) {
  def tasks: Long = stages.map(_.tasks.toLong).sum
  lazy val totals: Map[String, Long] =
    QueryMetrics.Fields.zipWithIndex.map { case (f, i) => f -> stages.map(_.counts(i)).sum }.toMap
  def slowStages: Seq[StageRow] = stages.filter(_.wallMs >= QueryMetrics.SlowStageMs)
  def json: String = compact(JObject(List[JField]("query" -> JString(query), "pass" -> JInt(pass),
    "wall_s" -> JDouble(math.rint(wallS * 1e3) / 1e3), "jobs" -> JInt(jobs), "stages" -> JInt(stages.size),
    "tasks" -> JLong(tasks)) ++ QueryMetrics.Fields.map(f => f -> JLong(totals(f))) :+
    ("slow_stages" -> JArray(slowStages.map(_.json).toList))))
}

/** In-process per-query metrics: a `SparkListener` that files every job
  * and stage submitted under a [[label]] under that (query, pass). The
  * label is a pair of local properties, which threads started under it
  * inherit — a stream's micro-batch thread keeps it although Spark
  * replaces that thread's job description with the batch's.
  */
final class QueryMetrics private (sc: SparkContext) extends SparkListener {
  import QueryMetrics._

  private val jobs = mutable.Map.empty[(String, Int), Int].withDefaultValue(0)
  private val stages = mutable.Map.empty[(String, Int), Vector[StageRow]].withDefaultValue(Vector.empty)
  private val running = mutable.Map.empty[Int, (String, Int)]
  private val fences = new Semaphore(0)

  private def key(p: java.util.Properties): Option[(String, Int)] =
    for (props <- Option(p); q <- Option(props.getProperty(QueryKey)); pass <- Option(props.getProperty(PassKey)))
      yield (q, pass.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    key(e.properties).foreach(k => if (k._1 == Fence) fences.release() else jobs(k) += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    key(e.properties).foreach(k => running(e.stageInfo.stageId) = k)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    running.remove(i.stageId).foreach { k =>
      val wallMs = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
      val rowsOut = i.accumulables.values.filter(_.name.contains("number of output rows")).maxByOption(_.id)
        .flatMap(_.value).map(_.toString.toLong).getOrElse(0L)
      stages(k) :+= StageRow(i.stageId, i.name, wallMs, i.numTasks, Seq(m.executorRunTime,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled,
        m.diskBytesSpilled), rowsOut)
    }
  }

  /** Labels the calling thread's jobs (and threads it starts) as `query`
    * in `pass`; a `null` query clears the label.
    */
  def label(query: String, pass: Int): Unit = {
    sc.setJobDescription(query)
    sc.setLocalProperty(QueryKey, query)
    sc.setLocalProperty(PassKey, Option(query).map(_ => pass.toString).orNull)
  }

  /** One record per (query, pass, wall) run, once every event posted
    * before this call has arrived: the listener bus delivers in order,
    * so a sentinel job seen by the listener fences everything earlier.
    * A run that submitted no job gets a record of zeros.
    */
  def records(runs: Seq[(String, Int, Double)]): Seq[QueryRecord] = {
    label(Fence, 0)
    try sc.parallelize(Seq(1), 1).count() finally label(null, 0)
    require(fences.tryAcquire(60, TimeUnit.SECONDS), "listener bus did not deliver the fence job")
    synchronized(runs.map { case (q, pass, wall) => QueryRecord(q, pass, wall, jobs((q, pass)), stages((q, pass))) })
  }
}

object QueryMetrics {
  private val QueryKey = "graft.metrics.query"
  private val PassKey = "graft.metrics.pass"
  private val Fence = "graft.metrics.fence"
  val SlowStageMs = 1000L

  /** The per-stage task sums, in record order. Times keep Spark's
    * units: `run_ms` milliseconds, `cpu_ns` nanoseconds.
    */
  val Fields: Seq[String] = Seq("run_ms", "cpu_ns", "shuffle_read_bytes", "shuffle_read_records",
    "shuffle_write_bytes", "shuffle_write_records", "spill_memory_bytes", "spill_disk_bytes")

  /** Adds a recorder to `sc`'s listener bus. */
  def install(sc: SparkContext): QueryMetrics = {
    val m = new QueryMetrics(sc)
    sc.addSparkListener(m)
    m
  }
}
