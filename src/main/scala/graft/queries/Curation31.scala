package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Q, Query}
import graft.sources.Tables

/** Round-8 wave, part 1: watermark late-data-drop semantics exercised
  * through the REAL streaming engine (r7 verdict item 4 — until now
  * every streaming oracle ran one AvailableNow micro-batch, so a
  * watermark could never drop a row and late-data semantics were
  * unchecked).
  */
object Curation31 {

  /** Split `ev` into single-file micro-batch inputs under a fresh
    * scratch directory, in the given order (older mtime AND lexically
    * first — the file stream source processes oldest-first with
    * latestFirst=false). Returns the input directory.
    */
  private def batchDir(splits: Seq[DataFrame]): String = {
    import java.nio.file.{Files, Paths}
    val root = graft.operators.Materialize.jvmScratch(
      "late-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val inDir = s"$root/input"
    new java.io.File(inDir).mkdirs()
    val now = System.currentTimeMillis()
    splits.zipWithIndex.foreach { case (df, i) =>
      val name = f"${i + 1}%02d_batch.parquet"
      val tmp = s"$root/tmp-$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      Files.move(part.toPath, Paths.get(s"$inDir/$name"))
      new java.io.File(s"$inDir/$name").setLastModified(
        now - 60000L * (splits.size - i))
    }
    inDir
  }

  /** q328: watermark LATE-DATA DROP through the real streaming engine.
    * Three single-file micro-batches (Spark's dual-watermark design —
    * since the multiple-stateful-operator rework, batch N filters late
    * events with the watermark in effect DURING batch N−1 and uses the
    * current watermark only for eviction, so a two-batch run can evict
    * but never drop — measured here: batch 1 dropped 0 with state
    * total already truncated; batch 2 dropped 3045):
    * batch 1 = the last 24 h (contains the global max ts → commits the
    * watermark to max − 72 h), batch 2 = (max−48 h, max−24 h] (nothing
    * late; carries the watermark forward as the late-event bound for
    * batch 3), batch 3 = everything older, where every row whose 1-hour
    * window ends at or before max − 72 h is DROPPED by the engine
    * (numRowsDroppedByWatermark > 0). Update-mode memory sink
    * accumulates per-batch updates; counts are monotone per key, so
    * max(n) per (window, type) is the final state. The oracle keeps
    * exactly the windows ending after max − 72 h — a result that
    * DIFFERS from the naive batch GROUP BY twin (~340 keys, not all
    * ~3385): the hash match is evidence the engine really dropped the
    * late rows. maxFilesPerTrigger=1 under Trigger.AvailableNow yields
    * one micro-batch per file (the documented contract that
    * AvailableNow respects source rate limits, unlike the deprecated
    * Trigger.Once).
    */
  private val q328WatermarkLateDrop: Q = (s, d) => {
    val ev = Tables.events(s, d)
    // bounded driver scalar (one row): the exact global max event time
    val mx = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val b1 = col("ts") > lit(mx) - expr("INTERVAL 24 HOURS")
    val b2 = !b1 && col("ts") > lit(mx) - expr("INTERVAL 48 HOURS")
    val inDir = batchDir(Seq(
      ev.filter(b1), ev.filter(b2), ev.filter(!b1 && !b2)))
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val agg = stream.withWatermark("ts", "72 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    Curation18.runStream(agg, "update")
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
      .groupBy("w_start", "event_type").agg(max(col("n")).as("n"))
      .orderBy("w_start", "event_type")
  }

  val queries: Seq[Query] = Seq(
    // Window-end vs watermark semantics: a row is accepted iff its
    // window still ends after the watermark (max − 72 h, a microsecond
    // value that is never exactly hour-aligned, so <= vs < at the
    // boundary cannot matter). Batch-1 rows (last 24 h) pass trivially.
    Query("q328_watermark_late_drop", q328WatermarkLateDrop,
      """WITH mx AS (SELECT max(ts) m FROM events)
        |SELECT date_trunc('hour', ts) AS w_start, event_type,
        |  count(*)::BIGINT AS n
        |FROM events, mx
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > m - INTERVAL 72 HOUR
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin))
}
