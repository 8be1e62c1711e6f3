package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming operators over the events schema
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Each transform takes any streaming (or batch) DataFrame with that
  * schema — sources are pluggable (`readEventStream` for parquet
  * directories, MemoryStream in tests, Kafka in production). Watermarks
  * bound state: at 100 TB/day the state store only holds the watermark
  * horizon, not history.
  */
object StreamingOps {

  /** File-based streaming source over a parquet events directory —
    * same schema-adaptive ts handling as the batch reader
    * (graft.sources.Tables.events / normalizeEventTs), so either
    * physical vintage of events.ts (TIMESTAMP(NANOS) or timestamp[us])
    * streams as a UTC TimestampType column.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // required to read a TIMESTAMP(NANOS) vintage at all (Tables.events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.sources.Tables.table(spark, dir, "events").schema
    // the streaming file source wants a directory: stream the table dir,
    // glob-filtered to the events file
    graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Tumbling-window counts with watermark-based late-data drop.
    * Append-mode compatible: windows finalize once the watermark passes.
    */
  def tumblingCounts(events: DataFrame, window: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(functions.windowCol(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_v"))

  /** Sliding-window aggregation (width, slide) with watermark. */
  def slidingCounts(events: DataFrame, width: String, slide: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Session windows per user (inactivity gap), watermarked. */
  def sessionCounts(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n_events"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * state is bounded by the horizon, the standard at-scale dedup.
    */
  def dedupStream(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase matched to same-user
    * clicks at most `maxGap` BEFORE it. Both sides watermarked — the
    * time bound lets Spark evict join state once the watermark passes
    * (unbounded state otherwise), the standard funnel-attribution
    * shape at scale.
    */
  def clickPurchaseJoin(events: DataFrame, watermark: String, maxGap: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $maxGap"))
      .select(col("purchase_id"), col("click_id"),
        col("c_user").as("user_id"), col("c_ts"), col("p_ts"))
  }

  /** Stream-static enrichment join: the streaming feed joined to a
    * static dimension frame on `key`. Stateless (no watermark or state
    * store — only stream-STREAM joins buffer state); the static side
    * is re-planned per micro-batch, so a dimension table refreshed in
    * place is picked up on the next batch. The explicit broadcast pins
    * the per-batch plan to a map-side hash join — at cluster scale the
    * stream never shuffles for the enrichment.
    */
  def enrichWithStatic(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  case class UserRunning(userId: Long, nEvents: Long, sumValue: Double, lastTs: Timestamp)

  /** Custom stateful aggregation via flatMapGroupsWithState: running
    * per-user totals emitted on every update (the reference's eager
    * "running state" reimagined as bounded keyed state).
    */
  def userRunningTotals(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "ts", "value")
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, Timestamp, Double)],
         state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0, new Timestamp(0)))
          val batch = rows.toSeq
          val next = UserRunning(
            userId,
            prev.nEvents + batch.size,
            prev.sumValue + batch.map(_._3).sum,
            batch.map(_._2).maxByOption(_.getTime).getOrElse(prev.lastTs))
          state.update(next)
          Iterator.single(next)
        })
  }

  case class BucketState(tokens: Long, lastUs: Long)
  case class BucketOut(user_id: Long, n_adm: Long, n_den: Long)

  /** Per-key token-bucket admission over an event stream — the
    * streaming quota/rate-limit primitive: each key holds an integer
    * bucket of `capacity` tokens refilled one per `periodUs`
    * microseconds of event time; an event is admitted iff a token is
    * available. Integer-exact refill bookkeeping (whole periods only,
    * remainder time carried in the anchor; a CLAMPED bucket re-anchors
    * at the event so overflow time is discarded — the classic
    * formulation) makes the recurrence bit-reproducible, so a batch
    * recursive-CTE oracle can replay it. Emits one (key, admitted,
    * denied) row per key per micro-batch (Update mode); state is the
    * 2-long bucket per key, the whole point — O(|keys|), not O(events).
    * Batch iterators are sorted by (event time, id) before folding;
    * cross-batch order comes from the source's file ordering.
    */
  def tokenBucket(events: DataFrame, capacity: Long, periodUs: Long): Dataset[BucketOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "ts", "event_id")
      .as[(Long, Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, Timestamp, Long)],
         state: GroupState[BucketState]) => {
          var st = state.getOption.getOrElse(BucketState(capacity, 0L))
          var adm = 0L
          var den = 0L
          // full microsecond epoch (getTime alone floors to ms and the
          // oracle replays at epoch_us precision)
          def usOf(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
          rows.toSeq.sortBy(r => (usOf(r._2), r._3)).foreach { r =>
            val us = usOf(r._2)
            val periods = if (us > st.lastUs) (us - st.lastUs) / periodUs else 0L
            val filled = math.min(capacity, st.tokens + periods)
            val anchor = if (filled == capacity) us else st.lastUs + periods * periodUs
            if (filled >= 1) { adm += 1; st = BucketState(filled - 1, anchor) }
            else { den += 1; st = BucketState(filled, anchor) }
          }
          state.update(st)
          Iterator.single(BucketOut(userId, adm, den))
        })
  }

  /** transformWithState (Spark 4's arbitrary-state API, RocksDB-backed):
    * running per-user maximum value. ValueState replaces the whole-state
    * GroupState blob — at scale each key's state lives in the RocksDB
    * store, updated incrementally, TTL-able.
    */
  class UserMaxProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), (Long, Double)] {
    @transient private var maxState: org.apache.spark.sql.streaming.ValueState[Double] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      maxState = getHandle.getValueState[Double]("mx",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Double)] = {
      val prev = if (maxState.exists()) maxState.get() else Double.NegativeInfinity
      val mx = math.max(prev, rows.map(_._2).max)
      maxState.update(mx)
      Iterator.single((key, mx))
    }
  }

  /** Running per-user max via transformWithState (requires the RocksDB
    * state store provider — set
    * spark.sql.streaming.stateStore.providerClass to
    * ...state.RocksDBStateStoreProvider).
    */
  def userMaxValue(events: DataFrame): Dataset[(Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserMaxProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // Spark's `window` function clashes with the `window` param name above.
  private object functions {
    def windowCol(c: org.apache.spark.sql.Column, w: String) =
      org.apache.spark.sql.functions.window(c, w)
  }
}
