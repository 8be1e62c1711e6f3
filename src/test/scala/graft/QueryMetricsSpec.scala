package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.metrics.QueryMetrics

/** [[QueryMetrics]]: one record per labelled (query, pass), with the
  * counts an independent listener sees for the same jobs.
  */
class QueryMetricsSpec extends SparkSpec {

  private lazy val metrics = QueryMetrics.install(spark.sparkContext)

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(metrics)
    super.afterAll()
  }

  private def labelled(query: String)(body: => Unit): Unit = {
    metrics.label(query, 1)
    try body finally metrics.label(null, 1)
  }

  test("two labelled actions give one record each, with an independent listener's counts") {
    // (jobs, stages, tasks) per job description, from the raw events
    val counts = mutable.Map.empty[String, Array[Long]]
    val stageDesc = mutable.Map.empty[Int, String]
    def bump(stage: Int, i: Int): Unit = counts.synchronized {
      counts.getOrElseUpdate(stageDesc.getOrElse(stage, ""), Array(0L, 0L, 0L))(i) += 1
    }
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = counts.synchronized {
        val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
        e.stageIds.foreach(stageDesc(_) = desc)
        counts.getOrElseUpdate(desc, Array(0L, 0L, 0L))(0) += 1
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = bump(e.stageInfo.stageId, 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = bump(e.stageId, 2)
    }
    // added after the recorder: once the recorder sees the fence job of
    // `records`, the counter has seen every earlier event
    metrics
    spark.sparkContext.addSparkListener(counter)
    try {
      val left = spark.range(0, 2000).selectExpr("id % 37 AS k", "id")
      labelled("qm_agg") { left.groupBy("k").count().collect() }
      labelled("qm_join") {
        left.join(spark.range(0, 500).selectExpr("id % 37 AS k", "id AS j"), "k").groupBy("k").sum("j").collect()
      }
      val recs = metrics.records(Seq(("qm_agg", 1, 1.0), ("qm_join", 1, 2.0)))
      assert(recs.map(_.query) == Seq("qm_agg", "qm_join"))
      for (r <- recs) {
        val c = counts.synchronized(counts(r.query).toSeq)
        assert(r.jobs >= 1 && r.stages.size >= 2, r.json)
        assert(Seq(r.jobs.toLong, r.stages.size.toLong, r.tasks) == c, s"${r.json} vs listener $c")
      }
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("repartition(n) of an N-row frame records exactly N shuffle records") {
    val n = 12345L
    labelled("qm_repartition") { spark.range(0, n, 1, 3).repartition(7).foreach(_ => ()) }
    val r = metrics.records(Seq(("qm_repartition", 1, 1.0))).head
    assert(r.totals("shuffle_write_records") == n && r.totals("shuffle_read_records") == n, r.json)
    assert(r.totals("shuffle_write_bytes") > 0 && r.totals("cpu_ns") > 0, r.json)
  }

  test("a query that submits no job gets a record with 0 jobs") {
    labelled("qm_no_job") { spark.range(10).schema }
    val r = metrics.records(Seq(("qm_no_job", 1, 0.5))).head
    assert(r.jobs == 0 && r.stages.isEmpty, r.json)
    assert(r.json == """{"query":"qm_no_job","pass":1,"wall_s":0.5,"jobs":0,"stages":0,"tasks":0,""" +
      QueryMetrics.Fields.map(f => s""""$f":0,""").mkString + """"slow_stages":[]}""", r.json)
  }
}
