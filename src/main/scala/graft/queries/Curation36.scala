package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Query}
import graft.sources.Tables

/** Round-8 wave 6: sketch algebra at scale — rolling distinct counts
  * from MERGED per-day HLL sketches, the pre-aggregation pattern that
  * makes corpus-wide distinct metrics O(days·sketch) instead of
  * O(rows) per window at 100 TB.
  */
object Curation36 {

  /** q346: rolling 7-day distinct active users, computed the
    * production way — one HLL sketch per day (`hll_sketch_agg`,
    * DataSketches lgK=12), each day's sketch fanned to the 7 windows
    * it belongs to IN-ROW, and `hll_union_agg` merging 7 sketches per
    * window. The raw user stream is touched exactly once; every later
    * stage is |days|-bounded. The q07 accuracy contract makes the
    * estimate oracle-checkable: the output carries the EXACT count
    * (from a (day, user)-distinct fanout — also one pass) plus a
    * within-15% boolean the DuckDB oracle expects to be TRUE.
    */
  private val q346RollingHll: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val days = ev.select(col("day")).distinct()
    // per-day sketch → in-row fanout to the 7 windows ending at day..day+6
    val sketches = ev.groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .select(explode(sequence(lit(0), lit(6))).as("off"), col("day"), col("sk"))
      .select(date_add(col("day"), col("off")).as("wend"), col("sk"))
      .join(days.select(col("day").as("wend")), Seq("wend"))
    val est = sketches.groupBy("wend")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    // exact rolling distinct: (day, user) distinct → same in-row fanout
    val exact = ev.distinct()
      .select(explode(sequence(lit(0), lit(6))).as("off"), col("day"), col("user_id"))
      .select(date_add(col("day"), col("off")).as("wend"), col("user_id"))
      .join(days.select(col("day").as("wend")), Seq("wend"))
      .groupBy("wend")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(est, "wend")
      .select(col("wend"), col("exact_users"),
        (abs(col("est") - col("exact_users")).cast("double") /
          col("exact_users").cast("double") <= 0.15).as("within_15pct"))
      .orderBy("wend")
  }

  val queries: Seq[Query] = Seq(
    Query("q346_rolling_hll", q346RollingHll,
      """WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) dy, user_id FROM events),
        |dys AS (SELECT DISTINCT dy FROM ev),
        |fan AS (SELECT (dy + o::INT) wend, user_id
        |  FROM ev CROSS JOIN range(0, 7) t(o)),
        |ex AS (SELECT wend, count(DISTINCT user_id) exact_users
        |  FROM fan JOIN dys ON wend = dy GROUP BY wend)
        |SELECT wend, exact_users, TRUE AS within_15pct
        |FROM ex ORDER BY wend""".stripMargin))
}
