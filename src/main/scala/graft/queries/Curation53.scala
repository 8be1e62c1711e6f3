package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Query}
import graft.sources.Tables

/** Round-10 wave 23: streaming state EVICTION (the complement of
  * round 9's restoration trilogy — unbounded state is the actual
  * 100 TB streaming killer, and `dropDuplicatesWithinWatermark`'s
  * whole point is that ids are FORGOTTEN once the watermark passes
  * their horizon).
  */
object Curation53 {

  /** q423: dedup state is EVICTED once the watermark passes an id's
    * horizon — a re-arrival after eviction is correctly RE-EMITTED.
    * Four files, four distinct batch roles through real restarts of
    * one checkpoint (48 h dedup horizon over a ~30-day corpus):
    *
    *  - b1 (oldest 24 h): every id emitted once; state expires at
    *    ts + 48 h.
    *  - b2 (newest 24 h, a restart): advances the watermark to
    *    max − 48 h — far past every b1 expiry.
    *  - b2b (one already-seen b2 row, second restart): proves
    *    WITHIN-horizon suppression (it must NOT reappear) and runs a
    *    full batch under the advanced watermark, so b1's state rows
    *    are physically evicted before b3 is processed.
    *  - b3 (the b1 rows re-sent with ts + 29 days — fresh event time,
    *    same event_ids): with state evicted these re-emit, so the
    *    output carries a b3 group equal to b1's. A state-hoarding
    *    engine (no eviction) suppresses them and loses the group —
    *    rows_match breaks, not just the hash.
    *
    * Oracle: batch SQL modeling the horizon windows — b1 and b2 emit
    * their distinct ids, b2b emits nothing, b3 re-emits b1.
    */
  private val q423StateEviction: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("event_type"))
    // bounded driver scalars (one row): the corpus time range
    val r = ev.agg(min(col("ts")).as("a"), max(col("ts")).as("b")).head()
    val (mn, mx) = (r.getTimestamp(0), r.getTimestamp(1))
    val root = graft.operators.Materialize.jvmScratch(
      "evict-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
    def tagged(f: org.apache.spark.sql.DataFrame, tag: String) =
      f.withColumn("src", lit(tag)).select("event_id", "ts", "event_type", "src")
    val b1 = tagged(ev.filter(col("ts") <= lit(mn) + expr("INTERVAL 24 HOURS")), "b1")
    val b2 = tagged(ev.filter(col("ts") > lit(mx) - expr("INTERVAL 24 HOURS")), "b2")
    val b2b = tagged(ev.filter(col("ts") === lit(mx)).limit(1), "b2b")
    val b3 = tagged(ev.filter(col("ts") <= lit(mn) + expr("INTERVAL 24 HOURS"))
      .withColumn("ts", col("ts") + expr("INTERVAL 29 DAYS")), "b3")
    def dd = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/input")
      .withWatermark("ts", "48 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("src"), col("event_id"))
    Curation50.addBatchFile(b1, root, "01_batch.parquet", 4)
    Curation50.runRestartable(dd, ckpt, outDir, "append") // run 1: b1 ids into state
    Curation50.addBatchFile(b2, root, "02_batch.parquet", 3)
    Curation50.runRestartable(dd, ckpt, outDir, "append") // restart: wm -> max - 48 h
    Curation50.addBatchFile(b2b, root, "03_batch.parquet", 2)
    Curation50.addBatchFile(b3, root, "04_batch.parquet", 1)
    // restart: batch 3 (b2b) suppresses the repeat AND evicts expired
    // b1 state under the restored watermark; batch 4 (b3) re-arrives
    Curation50.runRestartable(dd, ckpt, outDir, "append")
    Curation50.readSink(s, outDir)
      .groupBy("src").agg(count(lit(1)).as("n_emissions"),
        countDistinct(col("event_id")).as("n_ids"))
      .orderBy("src")
  }

  val queries: Seq[Query] = Seq(
    // the b3 group EQUALS b1 (eviction -> re-emission); b2b is absent
    // (still inside its horizon -> suppressed)
    Query("q423_state_eviction", q423StateEviction,
      """WITH mm AS (SELECT min(ts) a, max(ts) b FROM events),
        |b1 AS (SELECT event_id FROM events, mm WHERE ts <= a + INTERVAL 24 HOUR),
        |b2 AS (SELECT event_id FROM events, mm WHERE ts > b - INTERVAL 24 HOUR)
        |SELECT * FROM (
        |  SELECT 'b1' AS src, count(*)::BIGINT AS n_emissions,
        |    count(DISTINCT event_id)::BIGINT AS n_ids FROM b1
        |  UNION ALL SELECT 'b2', count(*)::BIGINT,
        |    count(DISTINCT event_id)::BIGINT FROM b2
        |  UNION ALL SELECT 'b3', count(*)::BIGINT,
        |    count(DISTINCT event_id)::BIGINT FROM b1)
        |ORDER BY src""".stripMargin))
}
