package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Query}
import graft.sources.Tables

/** Event-time windowing over the events table, batch mode. The same
  * operators run unchanged under Structured Streaming (see
  * graft.streaming) — batch execution is what the oracle can check.
  *
  * Window alignment follows Spark's epoch-aligned tumbling windows,
  * which for day/hour widths equals calendar truncation in UTC.
  */
object TimeWindows {

  private val q80Tumbling: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("w.start").as("day"), col("event_type"), col("n"), col("sum_v"))
      .orderBy("day", "event_type")
  }

  private val q81Sliding: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(window(col("ts"), "2 days", "1 day").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("w.start").as("w_start"), col("n"), col("sum_v"))
      .orderBy("w_start")
  }

  /** Session windows (30-min inactivity gap) per user. */
  private val q82Session: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_v"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_v"))
      .orderBy("user_id", "session_start")
  }

  val queries: Seq[Query] = Seq(
    Query("q80_window_tumbling", q80Tumbling,
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n, sum(value) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    Query("q81_window_sliding", q81Sliding,
      """WITH t AS (SELECT unnest([date_trunc('day', ts) - INTERVAL 1 DAY,
        |    date_trunc('day', ts)]) AS w_start, value
        |  FROM events)
        |SELECT w_start, count(*) AS n, sum(value) AS sum_v
        |FROM t GROUP BY w_start ORDER BY w_start""".stripMargin),
    Query("q82_window_session", q82Session,
      """WITH m AS (SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END newf
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) sid
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events, sum(value) AS sum_v
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin))
}
