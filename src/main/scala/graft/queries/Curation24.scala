package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec2
import graft.operators.Multimodal
import graft.sources.Tables

/** Round-7 seventh wave: video frame-motion features (completing the
  * image/audio/video multimodal triple), IQR outlier fences, exact
  * weighted median, and nearest-direction as-of matching with
  * tolerance.
  */
object Curation24 {

  /** Video frame-motion profile: payloads as consecutive 64-byte
    * frames through the partition-wise kernel
    * ([[Multimodal.frameMotion]]) — per-transition mean |byte delta|,
    * per-item mean/max motion and near-still transitions, summarized
    * per source. The scene-cut / static-content signal video curation
    * filters on; per-doc motion means sum as decimals.
    */
  private val q296VideoMotion: Q = (s, d) => {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
    Multimodal.frameMotion(media, frameSize = 64, stillBelow = 10.0)
      .toDF()
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nFrames")).as("n_frames"),
        round(sum(col("meanMotion").cast(DecimalType(20, 9))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("avg_motion"),
        round(max(col("maxMotion")), 6).as("max_motion"),
        sum(col("nStill")).as("n_still"))
      .orderBy("source")
  }

  /** IQR outlier fences per order priority: exact grouped quartiles
    * from one aggregate, Tukey fences (1.5·IQR) broadcast back, and a
    * conditional-aggregate audit — the standard box-plot outlier
    * screen as one keyed pass + one scan.
    */
  private val q297OutlierIqr: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val fences = o.groupBy("o_orderpriority")
      .agg(percentile(col("o_totalprice"), array(lit(0.25), lit(0.75))).as("qs"))
      .select(col("o_orderpriority"),
        (element_at(col("qs"), 1) - (element_at(col("qs"), 2) - element_at(col("qs"), 1)) * 1.5).as("lo"),
        (element_at(col("qs"), 2) + (element_at(col("qs"), 2) - element_at(col("qs"), 1)) * 1.5).as("hi"))
    o.join(broadcast(fences), Seq("o_orderpriority"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("o_totalprice") > col("hi"), 1L).otherwise(0L)).as("n_high"),
        round(min(col("lo")), 6).as("fence_lo"),
        round(min(col("hi")), 6).as("fence_hi"))
      .orderBy("o_orderpriority")
  }

  /** Exact weighted median of revenue weighted by quantity, per return
    * flag: decimal weight masses per distinct value, a cumulative
    * window over the bounded distinct-value domain (the Mann-Whitney
    * discipline), and the median is the smallest value whose doubled
    * cumulative weight reaches the total — integer/decimal exact
    * throughout, no interpolation ambiguity.
    */
  private val q298WeightedMedian: Q = (s, d) => {
    val wv = graft.operators.Kernels.fanOut( // single-task map side otherwise
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity")))
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("x"))
      .agg(sum(dec2(col("l_quantity"))).as("w"))
    val tot = wv.groupBy("l_returnflag").agg(sum(col("w")).as("tw"))
    val cum = wv.withColumn("cw",
      sum(col("w")).over(Window.partitionBy("l_returnflag").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.join(broadcast(tot), Seq("l_returnflag"))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag")
      .agg(min(col("x")).as("weighted_median"),
        round(min(col("tw")).cast(DoubleType), 2).as("total_weight"))
      .orderBy("l_returnflag")
  }

  /** Nearest-direction as-of matching with tolerance: each error event
    * pairs with the NEARER of the last click before it and the first
    * click after it (same user, ±10 minutes; ties break backward —
    * pandas merge_asof direction='nearest' semantics). Both candidates
    * come from ignore-nulls running first/last inside the per-user
    * window — no join, no per-pair blowup.
    */
  private val q299AsofNearest: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tol = 600000000L // 10 min in microseconds
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("tus"))
      .withColumn("back", last(when(col("event_type") === "click", col("tus")),
        ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("fwd", first(when(col("event_type") === "click", col("tus")),
        ignoreNulls = true).over(w.rowsBetween(0, Window.unboundedFollowing)))
    val err = ev.filter(col("event_type") === "error")
      .withColumn("db", when(col("back").isNotNull, col("tus") - col("back")))
      .withColumn("df", when(col("fwd").isNotNull, col("fwd") - col("tus")))
      .withColumn("dbv", when(col("db") <= tol, col("db")))
      .withColumn("dfv", when(col("df") <= tol, col("df")))
      .withColumn("delta", least(col("dbv"), col("dfv")))
      .withColumn("dir", when(col("delta").isNull, lit(null).cast("string"))
        .when(col("dbv").isNotNull && col("dbv") <= coalesce(col("dfv"), lit(Long.MaxValue)),
          lit("back")).otherwise(lit("fwd")))
    err.agg(count(lit(1)).as("n_errors"),
      sum(when(col("delta").isNotNull, 1L).otherwise(0L)).as("n_matched"),
      sum(when(col("dir") === "back", 1L).otherwise(0L)).as("n_back"),
      sum(when(col("dir") === "fwd", 1L).otherwise(0L)).as("n_fwd"),
      round(sum(col("delta")).cast(DoubleType) /
        sum(when(col("delta").isNotNull, 1L).otherwise(0L)).cast(DoubleType) / 1e6, 6)
        .as("avg_delta_s"))
  }

  val queries: Seq[Query] = Seq(
    Query("q296_video_motion", q296VideoMotion,
      """WITH f AS (SELECT doc_id, source, text, len(text) n FROM documents),
        |mo AS (SELECT doc_id, source, n // 64 nf,
        |    [list_avg([abs(ord(text[f*64 + i]) - ord(text[(f-1)*64 + i]))
        |        for i in range(1, 65)])
        |      for f in range(1, n // 64)] ms
        |  FROM f),
        |per AS (SELECT doc_id, source, nf,
        |    CASE WHEN len(ms) > 0 THEN list_avg(ms) ELSE 0.0 END mean_m,
        |    CASE WHEN len(ms) > 0 THEN list_max(ms) ELSE 0.0 END max_m,
        |    len(list_filter(ms, m -> m < 10.0)) n_still
        |  FROM mo)
        |SELECT source, count(*) AS n_docs, sum(nf)::BIGINT AS n_frames,
        |  round(sum(CAST(mean_m AS DECIMAL(20,9)))::DOUBLE /
        |    count(*)::DOUBLE, 6) AS avg_motion,
        |  round(max(max_m), 6) AS max_motion,
        |  sum(n_still)::BIGINT AS n_still
        |FROM per GROUP BY source ORDER BY source""".stripMargin),
    Query("q297_outlier_iqr", q297OutlierIqr,
      """WITH q AS (SELECT o_orderpriority,
        |    quantile_cont(o_totalprice, [0.25, 0.75]) qs FROM orders GROUP BY 1),
        |fe AS (SELECT o_orderpriority,
        |    qs[1] - (qs[2] - qs[1]) * 1.5 lo, qs[2] + (qs[2] - qs[1]) * 1.5 hi
        |  FROM q)
        |SELECT o.o_orderpriority, count(*) AS n,
        |  sum(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END)::BIGINT AS n_low,
        |  sum(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END)::BIGINT AS n_high,
        |  round(min(lo), 6) AS fence_lo, round(min(hi), 6) AS fence_hi
        |FROM orders o JOIN fe USING (o_orderpriority)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),
    Query("q298_weighted_median", q298WeightedMedian,
      """WITH wv AS (SELECT l_returnflag, l_extendedprice x,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) w
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT l_returnflag, sum(w) tw FROM wv GROUP BY 1),
        |cum AS (SELECT l_returnflag, x, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) cw
        |  FROM wv)
        |SELECT l_returnflag, min(x) AS weighted_median,
        |  round(min(tw)::DOUBLE, 2) AS total_weight
        |FROM cum JOIN tot USING (l_returnflag)
        |WHERE cw * 2 >= tw GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q299_asof_nearest", q299AsofNearest,
      """WITH ev AS (SELECT user_id, ts, event_id, event_type, epoch_us(ts) tus,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) back,
        |    first_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) fwd
        |  FROM events),
        |err AS (SELECT *,
        |    CASE WHEN tus - back <= 600000000 THEN tus - back END dbv,
        |    CASE WHEN fwd - tus <= 600000000 THEN fwd - tus END dfv
        |  FROM ev WHERE event_type = 'error'),
        |m AS (SELECT *, least(dbv, dfv) delta,
        |    CASE WHEN least(dbv, dfv) IS NULL THEN NULL
        |      WHEN dbv IS NOT NULL AND dbv <= coalesce(dfv, 9223372036854775807)
        |        THEN 'back' ELSE 'fwd' END dir
        |  FROM err)
        |SELECT count(*) AS n_errors,
        |  sum(CASE WHEN delta IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_matched,
        |  sum(CASE WHEN dir = 'back' THEN 1 ELSE 0 END)::BIGINT AS n_back,
        |  sum(CASE WHEN dir = 'fwd' THEN 1 ELSE 0 END)::BIGINT AS n_fwd,
        |  round(sum(delta)::DOUBLE /
        |    sum(CASE WHEN delta IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 1000000.0, 6)
        |    AS avg_delta_s
        |FROM m""".stripMargin))
}
