package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.sources.Tables

/** Round-7 fifth wave: the two custom-state streaming APIs
  * (transformWithState / flatMapGroupsWithState) executed by the REAL
  * streaming engine under oracle check, and an ANALYZE-style column
  * statistics profile.
  */
object Curation22 {

  /** Runs `q` with the RocksDB state-store provider (required by
    * transformWithState), restoring the previous provider after — the
    * conf is session-shared and must not leak into later streaming
    * queries in the same suite run.
    */
  private def withRocksDb[A](s: org.apache.spark.sql.SparkSession)(q: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try q finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Per-user running MAX through transformWithState (Spark 4's
    * arbitrary-state API, RocksDB-backed ValueState) — executed by the
    * real streaming engine to a memory sink. Max is order- and
    * batching-independent, so the single-pass streaming result is
    * exactly the batch GROUP BY max, which is what the oracle checks.
    */
  private val q289StreamRunningMax: Q = (s, d) => withRocksDb(s) {
    val stream = graft.streaming.StreamingOps.readEventStream(s, d)
    val totals = graft.streaming.StreamingOps.userMaxValue(stream)
      .toDF("user_id", "max_value")
    Curation18.runStream(totals, "update")
      .groupBy("user_id").agg(max(col("max_value")).as("max_value"))
      .orderBy("user_id")
  }

  /** Per-user event totals through flatMapGroupsWithState (GroupState
    * blob per key) — executed by the real streaming engine. Counts and
    * the last-event timestamp are batching-independent; the value sum
    * is rounded (in-batch iterator order is not defined), the same
    * tolerance discipline as every double aggregate here.
    */
  private val q290StreamRunningTotals: Q = (s, d) => {
    val stream = graft.streaming.StreamingOps.readEventStream(s, d)
    val totals = graft.streaming.StreamingOps.userRunningTotals(stream).toDF()
    val last = Curation18.runStream(totals, "update")
      .groupBy("userId")
      .agg(max(col("nEvents")).as("n_events"),
        max(col("lastTs")).as("last_ts"),
        max(col("sumValue")).as("sum_v"))
    last.select(col("userId").as("user_id"), col("n_events"),
        col("last_ts"), round(col("sum_v"), 6).as("sum_value"))
      .orderBy("user_id")
  }

  /** ANALYZE-style column statistics profile of lineitem's measure
    * columns — count / nulls / distinct / min / max / decimal-exact sum
    * per column from ONE scan (conditional aggregates, then an in-row
    * explode into the per-column rows). The stats-collection surface
    * every optimizer and data-quality layer reads.
    */
  private val q291StatsProfile: Q = (s, d) => {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // spread the single-row-group scan: the 4-way multi-distinct agg
    // Expands every row ×5 and ran it all in one map task (Kernels.fanOut)
    val li = graft.operators.Kernels.fanOut(Tables.lineitem(s, d).select(cols.map(col): _*))
    val agg = li.agg(count(lit(1)).as("n"),
      cols.flatMap(c => Seq(
        countDistinct(col(c)).as(s"d_$c"),
        min(col(c)).as(s"mn_$c"),
        max(col(c)).as(s"mx_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nu_$c"),
        graft.functions.GraftFunctions.dsum(col(c)).as(s"s_$c"))): _*)
    agg.select(col("n"), explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col(s"nu_$c").as("n_null"),
        col(s"d_$c").as("n_distinct"),
        col(s"mn_$c").cast(DoubleType).as("min_v"),
        col(s"mx_$c").cast(DoubleType).as("max_v"),
        round(col(s"s_$c"), 2).as("sum_v"))): _*)).as("t"))
      .select(col("t.col_name").as("col_name"), col("n"), col("t.n_null"),
        col("t.n_distinct"), col("t.min_v"), col("t.max_v"), col("t.sum_v"))
      .orderBy("col_name")
  }

  val queries: Seq[Query] = Seq(
    Query("q289_stream_running_max", q289StreamRunningMax,
      """SELECT user_id, max(value) AS max_value FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q290_stream_running_totals", q290StreamRunningTotals,
      """SELECT user_id, count(*) AS n_events, max(ts) AS last_ts,
        |  round(sum(value), 6) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q291_stats_profile", q291StatsProfile,
      """WITH s AS (
        |  SELECT 'l_discount' AS col_name, count(*) n,
        |    sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) n_null,
        |    count(DISTINCT l_discount) n_distinct, min(l_discount) min_v,
        |    max(l_discount) max_v,
        |    round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) sum_v
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(*),
        |    sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END),
        |    count(DISTINCT l_extendedprice), min(l_extendedprice),
        |    max(l_extendedprice),
        |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', count(*),
        |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END),
        |    count(DISTINCT l_quantity), min(l_quantity), max(l_quantity),
        |    round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', count(*),
        |    sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END),
        |    count(DISTINCT l_tax), min(l_tax), max(l_tax),
        |    round(CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE), 2)
        |  FROM lineitem)
        |SELECT col_name, n::BIGINT AS n, n_null::BIGINT AS n_null,
        |  n_distinct::BIGINT AS n_distinct, min_v, max_v, sum_v
        |FROM s ORDER BY col_name""".stripMargin))
}
