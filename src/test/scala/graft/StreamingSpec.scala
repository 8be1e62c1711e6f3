package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Structured Streaming semantics over the events schema: windowed
  * aggregation with watermark late-data drop, streaming dedup, and
  * custom keyed state (SURVEY.md §2.2 Streaming row).
  */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  test("count-min sketch aggregates under streaming state: incremental == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    // complete-mode global agg: state carries the sketch buffer across
    // micro-batches, merged via CountMinAgg.merge — the mergeable-
    // sketch property is exactly what streaming state requires
    val q = input.toDF().toDF("page")
      .groupBy().agg(expr("graft_cm_sketch(page)").as("sk"))
      .writeStream.format("memory").queryName("cmstream").outputMode("complete").start()
    val batch1 = Seq("a", "b", "a", "c")
    val batch2 = Seq("a", "d", "b")
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("cmstream").collect().head.getSeq[Long](0)
    val batch = (batch1 ++ batch2)
      .foldLeft(graft.functions.CountMinAgg.zero)(graft.functions.CountMinAgg.reduce)
    assert(streamed == batch.toSeq)
    q.stop()
  }

  test("tumbling window with watermark drops late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingOps.tumblingCounts(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode("append").start()

    input.addData(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(4), 1, "click", 2.0),
      Ev(3, ts(12), 2, "click", 3.0))
    q.processAllAvailable()
    // watermark now 10:12 - 5min = 10:07 -> [10:00,10:10) can finalize
    input.addData(Ev(4, ts(25), 1, "click", 4.0))
    q.processAllAvailable()
    // late event inside already-finalized window: must be dropped
    input.addData(Ev(5, ts(2), 3, "click", 99.0))
    q.processAllAvailable()
    input.addData(Ev(6, ts(45), 1, "click", 1.0))  // push watermark way past everything
    q.processAllAvailable()
    val rows = spark.table("tumbling")
      .select(col("w_start"), col("n"), col("sum_v")).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    val w0 = rows.find(_._1.startsWith("2024-01-01 10:00")).get
    assert(w0._2 == 2 && w0._3 == 3.0, s"late event must not be counted: $rows")
    assert(rows.exists(_._1.startsWith("2024-01-01 10:10")))
    assert(rows.exists(_._1.startsWith("2024-01-01 10:20")))
  }

  test("streaming dedup within watermark suppresses repeated event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingOps.dedupStream(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    input.addData(
      Ev(1, ts(1), 1, "click", 1.0), Ev(1, ts(1), 1, "click", 1.0),
      Ev(2, ts(2), 1, "click", 2.0))
    q.processAllAvailable()
    input.addData(Ev(1, ts(3), 1, "click", 1.0), Ev(3, ts(4), 1, "click", 3.0))
    q.processAllAvailable()
    val n = spark.table("dedup").count()
    q.stop()
    assert(n == 3, s"expected ids {1,2,3} once each, got $n rows")
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingOps.userRunningTotals(input.toDF())
      .writeStream.format("memory").queryName("running").outputMode("update").start()
    input.addData(Ev(1, ts(1), 7, "click", 1.5), Ev(2, ts(2), 7, "click", 2.5))
    q.processAllAvailable()
    input.addData(Ev(3, ts(3), 7, "click", 4.0), Ev(4, ts(3), 8, "view", 10.0))
    q.processAllAvailable()
    val byUser = spark.table("running")
      .groupBy("userId").agg(max("nEvents").as("n"), max("sumValue").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    q.stop()
    assert(byUser(7L) == ((3L, 8.0)))
    assert(byUser(8L) == ((1L, 10.0)))
  }

  test("token bucket: state survives the batch boundary, refills whole periods only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(day: Int, hour: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-0$day%d $hour%02d:00:00")
    val input = MemoryStream[Ev]
    // capacity 3, refill 1 token / 2 days (the q454 constants)
    val q = StreamingOps.tokenBucket(input.toDF(), 3L, 172800000000L)
      .toDF().writeStream.format("memory").queryName("bucket")
      .outputMode("update").start()
    // batch 1: four bursts within 3 hours — 3 admits drain the bucket,
    // the 4th denies
    input.addData(Ev(1, at(1, 10), 7, "c", 0), Ev(2, at(1, 11), 7, "c", 0),
      Ev(3, at(1, 12), 7, "c", 0), Ev(4, at(1, 13), 7, "c", 0))
    q.processAllAvailable()
    // batch 2: one more burst an hour later must STILL deny (a
    // state-losing engine restarts the bucket full and admits), then a
    // 5-day gap refills floor(5d/2d) = 2 tokens and admits
    input.addData(Ev(5, at(1, 14), 7, "c", 0), Ev(6, at(6, 14), 7, "c", 0))
    q.processAllAvailable()
    val tot = spark.table("bucket").groupBy("user_id")
      .agg(org.apache.spark.sql.functions.sum("n_adm").as("a"),
        org.apache.spark.sql.functions.sum("n_den").as("d"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    q.stop()
    assert(tot(7L) == ((4L, 2L)),
      s"expected (4 admits, 2 denies) incl. the cross-batch deny, got ${tot(7L)}")
  }

  test("file-source stream + foreachBatch sink: dedup over the events parquet") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_fb").toString
    val stream = StreamingOps.readEventStream(spark, "/root/testdata/sf0.001")
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.dedupStream(stream, "1 hour")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        total.addAndGet(batch.count())
        batch.write.mode("append").parquet(outDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val expected = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id").distinct().count()
    assert(total.get() == expected, s"dedup emitted ${total.get()}, table has $expected ids")
    assert(spark.read.parquet(outDir).count() == expected)
  }

  test("streaming near-dup gate: each micro-batch probes the corpus MinHash index") {
    // the streaming face of q146: docs arrive as a stream; every
    // micro-batch is checked against the (reusable) corpus index via
    // minhashLshPairsAgainst inside foreachBatch, and only novel docs
    // pass. Batch 1 carries a near-copy of corpus doc 1 (one word
    // changed) + a novel doc; batch 2 a verbatim copy of doc 2.
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "spark shuffles hash partitions across the cluster during wide joins"),
      (3L, "completely unrelated text about cooking pasta with garlic and oil"))
      .toDF("doc_id", "text")
    val dupes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val passed = new java.util.concurrent.atomic.AtomicLong(0)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val hits = graft.operators.Dedup.minhashLshPairsAgainst(
          corpus, batch, "doc_id", "text", threshold = 0.5)
        hits.collect().foreach(r => dupes.add((r.getLong(0), r.getLong(1))))
        val novel = batch.join(hits.select(col("batch_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        passed.addAndGet(novel.count())
        ()
      }
      .start()
    input.addData(
      (101L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (102L, "a brand new document mentioning gradient descent and tokenizers"))
    q.processAllAvailable()
    input.addData((103L, "spark shuffles hash partitions across the cluster during wide joins"))
    q.processAllAvailable()
    q.stop()
    val hits = dupes.toArray(Array.empty[(Long, Long)]).toSet
    assert(hits == Set((101L, 1L), (103L, 2L)), s"got $hits")
    assert(passed.get() == 1, s"only the novel doc passes, got ${passed.get()}")
  }

  test("streaming upsert: foreachBatch folds each micro-batch into a keyed table via Merge.upsert") {
    // the streaming face of q167 incremental maintenance: a per-user
    // running (n, total) table upserted per batch. Row-provenance
    // semantics (a matched row takes the source row wholesale) make
    // the fold idempotent-per-key; the table lives in parquet between
    // batches like a real silver table would.
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    Seq.empty[(Long, Long, Double)].toDF("user_id", "n", "total")
      .write.mode("overwrite").parquet(dir)
    val input = MemoryStream[(Long, Double)]
    val q = input.toDF().toDF("user_id", "value").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val target = spark.read.parquet(dir)
        val delta = batch.groupBy("user_id")
          .agg(count(lit(1)).as("bn"), sum($"value").as("bt"))
          .join(target, Seq("user_id"), "left")
          .select($"user_id", ($"bn" + coalesce($"n", lit(0L))).as("n"),
            ($"bt" + coalesce($"total", lit(0.0))).as("total"))
        val merged = graft.operators.Merge.upsert(target, delta, "user_id")
        // write-then-swap: never overwrite the file being read
        val tmp = dir + ".next"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(dir)
        ()
      }
      .start()
    input.addData((1L, 10.0), (1L, 5.0), (2L, 1.0))
    q.processAllAvailable()
    input.addData((1L, 2.0), (3L, 7.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(dir).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 3L, 17.0), (2L, 1L, 1.0), (3L, 1L, 7.0)), s"got $rows")
  }

  test("checkpoint restart: a second query resumes the file source without reprocessing") {
    // the production continuity property: stop a stream, add data,
    // restart from the SAME checkpoint — the source's committed offsets
    // ensure already-processed files are not re-emitted
    val sess = spark
    import sess.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
        .parquet(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getLong(0)))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    Seq(1L, 2L).toDF("id").write.mode("append").parquet(srcDir)
    runOnce()
    assert(seen.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted.toSeq == Seq(1L, 2L))
    Seq(3L).toDF("id").write.mode("append").parquet(srcDir)
    runOnce()
    val all = seen.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted.toSeq
    assert(all == Seq(1L, 2L, 3L), s"restart must process ONLY the new file: $all")
  }

  test("transformWithState (RocksDB ValueState) carries running max across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Ev]
      val q = StreamingOps.userMaxValue(input.toDF())
        .toDF("user_id", "max_v")
        .writeStream.format("memory").queryName("maxv").outputMode("update").start()
      input.addData(Ev(1, ts(1), 5, "c", 3.0), Ev(2, ts(2), 5, "c", 7.0))
      q.processAllAvailable()
      input.addData(Ev(3, ts(3), 5, "c", 4.0))   // below running max
      q.processAllAvailable()
      input.addData(Ev(4, ts(4), 5, "c", 9.0))   // new max
      q.processAllAvailable()
      val vals = spark.table("maxv").filter(col("user_id") === 5)
        .select("max_v").collect().map(_.getDouble(0)).toSeq
      q.stop()
      assert(vals.sorted == Seq(7.0, 7.0, 9.0), s"got $vals")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("rate source produces rows through a streaming aggregation") {
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "100").load()
      .groupBy().count()
      .writeStream.format("memory").queryName("ratecnt").outputMode("complete").start()
    try {
      var n = 0L
      val deadline = System.currentTimeMillis() + 30000
      while (n == 0 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        val rows = spark.table("ratecnt").collect()
        if (rows.nonEmpty) n = rows(0).getLong(0)
        if (n == 0) Thread.sleep(200)
      }
      assert(n > 0, "rate source produced no rows in 30s")
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases to in-window clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingOps.clickPurchaseJoin(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    input.addData(
      Ev(1, ts(1), 1, "click", 1.0),      // in-window for purchase@10:04
      Ev(2, ts(2), 2, "click", 1.0),      // other user — must not match
      Ev(3, ts(4), 1, "purchase", 9.0),
      Ev(4, ts(30), 1, "click", 1.0),     // >5 min before purchase@10:40 — out of window
      Ev(5, ts(40), 1, "purchase", 5.0))
    q.processAllAvailable()
    input.addData(Ev(6, ts(59), 9, "click", 1.0))  // advance watermark to finalize
    q.processAllAvailable()
    val pairs = spark.table("ssjoin")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(pairs == Set((3L, 1L)), s"got $pairs")
  }

  test("session window in streaming mode merges within-gap events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingOps.sessionCounts(input.toDF(), "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    input.addData(
      Ev(1, ts(1), 1, "c", 1.0), Ev(2, ts(3), 1, "c", 1.0),   // one session
      Ev(3, ts(20), 1, "c", 1.0),                              // second session
      Ev(4, ts(59), 9, "c", 1.0))                              // push watermark
    q.processAllAvailable()
    input.addData(Ev(5, ts(59), 9, "c", 1.0))
    q.processAllAvailable()
    val sessions = spark.table("sessions")
      .filter(col("user_id") === 1).select("session_start", "n_events")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSet
    q.stop()
    assert(sessions == Set(("2024-01-01 10:01:00.0", 2L), ("2024-01-01 10:20:00.0", 1L)),
      s"got $sessions")
  }

  test("foreachBatch composes with the native top-k physical operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // per-microbatch "top value per user" — the custom TopKPerGroupExec
    // planning inside a streaming sink's batch DataFrame
    val input = MemoryStream[Ev]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        graft.operators.TopK.perGroup(batch, Seq("user_id"),
            Seq(("value", true), ("event_id", false)), k = 1)
          .select("user_id", "event_id", "value")
          .collect().foreach(r => got.synchronized {
            got += ((r.getLong(0), r.getLong(1), r.getDouble(2))): Unit
          })
      }
      .start()
    input.addData(
      Ev(1, ts(1), 1, "c", 5.0), Ev(2, ts(2), 1, "c", 9.0),
      Ev(3, ts(3), 2, "c", 4.0), Ev(4, ts(4), 2, "c", 4.0))
    q.processAllAvailable()
    q.stop()
    // user 1: max value 9 (event 2); user 2: tie on 4.0 -> min event_id 3
    assert(got.toSet == Set((1L, 2L, 9.0), (2L, 3L, 4.0)), s"got $got")
  }

  test("watermark drops late rows under the dual-watermark contract (q328's mechanism)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = input.toDF()
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
      .writeStream.format("memory").queryName("late").outputMode("update").start()
    // batch 0: commits watermark to 10:59 - 30 min = 10:29
    input.addData(Ev(1, ts(59), 1, "c", 1.0)); q.processAllAvailable()
    // batch 1: not late; carries 10:29 forward as batch 2's late bound
    // (batch N filters late events with the watermark in effect during
    // batch N-1 — a 2-batch run evicts but never drops)
    input.addData(Ev(2, ts(45), 1, "c", 1.0)); q.processAllAvailable()
    // batch 2: 10:05's window ends 10:10 <= 10:29 -> DROPPED;
    //          10:35's window ends 10:40 >  10:29 -> kept
    input.addData(Ev(3, ts(5), 1, "c", 1.0), Ev(4, ts(35), 1, "c", 1.0))
    q.processAllAvailable()
    val windows = spark.table("late").select("w").collect()
      .map(_.getTimestamp(0).toString).toSet
    val dropped = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    q.stop()
    assert(dropped > 0, "engine reported no watermark-dropped rows")
    assert(windows == Set("2024-01-01 10:50:00.0", "2024-01-01 10:40:00.0",
      "2024-01-01 10:30:00.0"), s"got $windows")
  }

  test("stream-static enrichment join picks up the static dimension per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "premium"), (2L, "free")).toDF("user_id", "segment")
    val input = MemoryStream[Ev]
    val q = StreamingOps.enrichWithStatic(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    input.addData(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 2, "view", 2.0),
      Ev(3, ts(3), 7, "click", 3.0)) // user 7 not in the dimension
    q.processAllAvailable()
    val rows = spark.table("enriched")
      .select(col("event_id"), col("segment")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    q.stop()
    // left join: unmatched stream rows survive with a null dimension
    assert(rows == Set((1L, Some("premium")), (2L, Some("free")), (3L, None)), s"got $rows")
  }

  test("runRestartable: run 2 restores offsets and state instead of reprocessing run 1") {
    // unit twin of the q411/q412/q417 oracles: two AvailableNow runs
    // against ONE checkpoint. If restart restored the source offset
    // log, file 1 is NOT reprocessed (only keys touched by file 2
    // re-emit in update mode); if it restored the state store, the
    // re-emitted count CONTINUES from run 1 (u=1 reaches 3, not 2).
    import spark.implicits._
    val root = graft.operators.Materialize.jvmScratch(
      "restart-spec-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      graft.queries.Curation50.runRestartable(df, ckpt, outDir, "update")
    def agg = {
      val schema = Seq((1L, ts(1))).toDF("u", "ts").schema
      spark.readStream.schema(schema).parquet(s"$root/input")
        .groupBy("u").agg(count(lit(1)).as("n"))
    }
    graft.queries.Curation50.addBatchFile(
      Seq((1L, ts(1)), (1L, ts(2)), (2L, ts(3))).toDF("u", "ts"), root,
      "01_batch.parquet", 2)
    run(agg)
    def sink() = graft.queries.Curation50.readSink(spark, outDir)
    val afterRun1 = sink().as[(Long, Long)].collect().toSet
    assert(afterRun1 == Set((1L, 2L), (2L, 1L)), s"run 1 emitted $afterRun1")
    graft.queries.Curation50.addBatchFile(
      Seq((1L, ts(4)), (3L, ts(5))).toDF("u", "ts"), root, "02_batch.parquet", 1)
    run(agg)
    val all = sink().as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    // state restored: u=1 continues 2 -> 3; offsets restored: u=2 is
    // NOT re-emitted by run 2 (update mode emits only touched keys)
    assert(all == Map(1L -> 3L, 2L -> 1L, 3L -> 1L), s"got $all")
    val emitted = sink().count()
    assert(emitted == 4L,
      s"run 2 must emit exactly the 2 touched keys (offset log restored), total 4 rows, got $emitted")
    // exactly-once sink layout: every micro-batch landed in its own
    // batchId-keyed dir with a commit marker, and a marker-present dir
    // is skipped on replay — simulate a replayed batch by deleting the
    // data but keeping the marker: the count must NOT change after a
    // no-op third run (nothing reprocessed, nothing re-appended)
    val batchDirs = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("batch="))
    assert(batchDirs.nonEmpty, "sink must be batchId-partitioned")
    batchDirs.foreach { d =>
      assert(new java.io.File(d, "_graft_committed").exists(), s"missing commit marker in $d")
    }
    run(agg) // third run, no new input: idempotent sink appends nothing
    assert(sink().count() == 4L, "a no-input restart must not re-append committed batches")
  }

  // hour-scale event times for horizon/eviction tests
  private def tsh(hour: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${hour}%02d:00:00")

  test("dropDuplicatesWithinWatermark EVICTS state: post-horizon re-arrival re-emits") {
    // unit twin of q423: the 100 TB streaming killer is state that
    // never shrinks. With a 1 h horizon, ids seen at t0 must be
    // FORGOTTEN once the watermark passes t0 + 1 h — a later
    // re-arrival is a new event and must re-emit; an id still inside
    // its horizon must stay suppressed.
    import spark.implicits._
    val root = graft.operators.Materialize.jvmScratch(
      "evict-spec-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
    def dd = {
      val schema = Seq((1L, tsh(0), "b")).toDF("u", "ts", "src").schema
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$root/input")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("u")
        .select("u", "src")
    }
    def add(rows: Seq[(Long, Timestamp, String)], name: String, age: Long): Unit =
      graft.queries.Curation50.addBatchFile(rows.toDF("u", "ts", "src"), root, name, age)
    add(Seq((1L, tsh(0), "b1"), (2L, tsh(0), "b1")), "01.parquet", 5)
    graft.queries.Curation50.runRestartable(dd, ckpt, outDir, "append")
    // restart: wm jumps to 10:00 - 1 h = 09:00, far past b1's 01:00 expiry
    add(Seq((99L, tsh(10), "b2")), "02.parquet", 4)
    // a full batch under the advanced watermark physically evicts b1
    add(Seq((98L, tsh(10), "b3")), "03.parquet", 3)
    // re-arrivals: 1 and 2 are post-eviction (MUST re-emit); 99 is
    // still inside its horizon (MUST stay suppressed)
    add(Seq((1L, tsh(10), "b4"), (2L, tsh(10), "b4"), (99L, tsh(10), "b4")),
      "04.parquet", 2)
    graft.queries.Curation50.runRestartable(dd, ckpt, outDir, "append")
    val got = graft.queries.Curation50.readSink(spark, outDir)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "b1"), (2L, "b1"), (99L, "b2"), (98L, "b3"),
      (1L, "b4"), (2L, "b4")),
      s"eviction semantics broken: $got — a state-hoarding engine drops the b4 " +
        "re-emissions, a state-losing one re-emits 99")
  }

  test("restart plan pins: state operators present, run 2 replans identically") {
    // checkpoint compatibility is what makes restarts work in prod —
    // an accidental plan change between a query's run 1 and its
    // restarted run 2 is the operator-visible failure. Pin all three
    // lifecycle shapes: windowed agg (StateStoreSave), session merge
    // (SessionWindowStateStoreSave), dedup-within-watermark.
    import spark.implicits._
    def normalize(p: String) = p
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID")
      .replaceAll("(file:)?/[^\\s,\\]\\)]*", "PATH")
      .replaceAll("#\\d+", "#X")
      .replaceAll("\\d+", "N")
    def pinShape(tag: String, mode: String, marker: String)(
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val root = graft.operators.Materialize.jvmScratch(
        s"planpin-$tag-" + java.util.UUID.randomUUID().toString.replace("-", ""))
      val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
      val schema = Seq((1L, tsh(0))).toDF("u", "ts").schema
      def frame = mk(spark.readStream.schema(schema).parquet(s"$root/input"))
      def add(rows: Seq[(Long, Timestamp)], name: String, age: Long): Unit =
        graft.queries.Curation50.addBatchFile(rows.toDF("u", "ts"), root, name, age)
      add(Seq((1L, tsh(0)), (2L, tsh(1))), "01.parquet", 3)
      val plan1 = graft.queries.Curation50.runRestartable(frame, ckpt, outDir, mode)
      assert(plan1.toLowerCase.contains(marker.toLowerCase),
        s"$tag run-1 plan must carry $marker:\n$plan1")
      add(Seq((3L, tsh(2)), (4L, tsh(9))), "02.parquet", 2)
      val plan2 = graft.queries.Curation50.runRestartable(frame, ckpt, outDir, mode)
      assert(normalize(plan1) == normalize(plan2),
        s"$tag restart replanned DIFFERENTLY (checkpoint-incompatible):\n" +
          s"--- run1\n${normalize(plan1)}\n--- run2\n${normalize(plan2)}")
    }
    pinShape("agg", "update", "StateStoreSave") { in =>
      in.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w"), col("n"))
    }
    pinShape("session", "append", "SessionWindowStateStoreSave") { in =>
      in.withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("u"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("s"), col("u"), col("n"))
    }
    pinShape("dedup", "append", "DeduplicateWithinWatermark") { in =>
      in.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("u")
    }
  }

  /** A small stateful AvailableNow stream over a fixed parquet input,
    * built anew on each call, run to completion through [[StreamRun]]. */
  private def runDedup(root: String)(mode: String): Unit = {
    val schema = spark.read.parquet(s"$root/input").schema
    val tbl = "streamrun_" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.streaming.StreamRun(spark) {
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$root/input")
        .withWatermark("ts", "1 hour")
        .dropDuplicates("u", "ts")
        .writeStream.format("memory").queryName(tbl).outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/ckpt-$tbl")
        .start()
        .awaitTermination()
    }
  }

  private def dedupInput(tag: String): String = {
    import spark.implicits._
    val root = graft.operators.Materialize.jvmScratch(
      s"$tag-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    Seq((1L, tsh(1)), (2L, tsh(2)), (1L, tsh(1))).toDF("u", "ts")
      .coalesce(1).write.parquet(s"$root/input/b=1")
    Seq((3L, tsh(3)), (2L, tsh(2))).toDF("u", "ts")
      .coalesce(1).write.parquet(s"$root/input/b=2")
    root
  }

  test("StreamRun: a second run of the same stream compiles no new code") {
    // each start() clones the session; with artifact isolation on, the
    // clone got a fresh executor classloader and every unit recompiled
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val run = runDedup(dedupInput("codegen-reuse")) _
    run("append")
    val compiles = METRIC_COMPILATION_TIME.getCount
    run("append")
    val again = METRIC_COMPILATION_TIME.getCount - compiles
    assert(again == 0, s"the second run of an identical stream compiled $again units")
  }

  test("StreamRun restores every conf it sets, after a stream that succeeds and one that fails") {
    import graft.streaming.StreamRun
    assert(StreamRun.keys.toSet == Set(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.artifact.isolation.enabled", "fs.AbstractFileSystem.file.impl"))
    // the checksum key holds a value before the run; the file-system
    // key is unset, so the helper has to unset it again
    spark.conf.set(StreamRun.ChecksumKey, "true")
    try {
      def snapshot = StreamRun.keys.map(k => k -> spark.conf.getOption(k)).toMap
      val before = snapshot
      assert(before(StreamRun.LocalFsKey).isEmpty)
      val root = dedupInput("conf-restore")
      runDedup(root)("append")
      assert(snapshot == before, "after a stream that succeeded")
      // complete mode needs an aggregation: start() throws inside the helper
      val e = intercept[org.apache.spark.sql.AnalysisException](runDedup(root)("complete"))
      assert(e.getMessage.toLowerCase.contains("complete"), e.getMessage)
      assert(snapshot == before, "after a stream that failed")
      val during = StreamRun(spark)(snapshot)
      assert(during(StreamRun.ChecksumKey).contains("false"))
      assert(during(StreamRun.IsolationKey).contains("false"))
      assert(during(StreamRun.LocalFsKey).contains(classOf[graft.sources.LocalFs].getName))
      assert(during(StreamRun.ShuffleKey).contains(
        Tuning.streamShuffleConf(before(StreamRun.ShuffleKey).get.toInt)))
    } finally spark.conf.unset(StreamRun.ChecksumKey)
  }
}
