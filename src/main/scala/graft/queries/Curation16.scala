package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{Q, Query}
import graft.sources.Tables

/** Round-6 wave 4: Theil-Sen robust trend estimation and
  * token-budget waterfilling (mixture planning under a cap).
  */
object Curation16 {

  /** Theil-Sen robust slope of the daily event-volume trend: the
    * median over all pairwise slopes. The pair expansion is over the
    * DAILY AGGREGATE (t days → t(t−1)/2 slopes — 30 days is 435 rows;
    * even 10 years is ~6.7M, a single-task frame), never over events.
    * Slopes are exact double quotients of integers; the median picks
    * by exact rank, so the estimate is engine-identical.
    */
  private val q246TheilSen: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("dd")).agg(count(lit(1)).as("n"))
      .withColumn("t", row_number().over(Window.orderBy("dd")).cast(LongType))
    val a = daily.select(col("t").as("ta"), col("n").as("na"))
    val b = daily.select(col("t").as("tb"), col("n").as("nb"))
    val slopes = a.join(b, col("ta") < col("tb"))
      .select(((col("nb") - col("na")).cast(DoubleType) /
        (col("tb") - col("ta")).cast(DoubleType)).as("slope"),
        col("ta"), col("tb"))
    // median by exact rank WITHOUT an unpartitioned window: the slope
    // pairs are O(days²) — small for a month, 6.6M for a 10-year log —
    // so the rank runs through the distributed range-bucketed machinery
    // (Ranking.globalRank, q182's path: range-repartition + per-bucket
    // row_number + bounded offset collect) instead of one task. The
    // pair count m falls out as max(rank), replacing a second pass
    // over the pair join.
    val rankedSlopes = graft.operators.Ranking.globalRank(
      slopes, "r", col("slope"), col("ta"), col("tb"))
    val ranked = rankedSlopes
      .crossJoin(broadcast(rankedSlopes.agg(max(col("r")).as("m"))))
    ranked.filter(col("r") * 2 === col("m") || col("r") * 2 === col("m") + 1 ||
        col("r") * 2 === col("m") + 2)
      .agg(count(lit(1)).as("n_mid"), min(col("m")).as("n_pairs"),
        round(avg(when(col("m") % 2 === 1, when(col("r") * 2 === col("m") + 1, col("slope")))
          .otherwise(when(col("r") * 2 === col("m") || col("r") * 2 === col("m") + 2,
            col("slope")))), 6).as("ts_slope"))
      .select(col("n_pairs"), col("ts_slope"))
  }

  /** Token-budget waterfilling: allocate a 90%-of-corpus character
    * budget across sources, capping large sources at the water level λ
    * and keeping small ones whole — the mixture-planning step before a
    * capped training run. The keep/cap split is decided by INTEGER
    * arithmetic over the per-source aggregate (c_i·(remaining sources)
    * ≤ remaining budget), so the partition is engine-exact; λ divides
    * once at the end. Everything runs on |sources| rows.
    */
  private val q247TokenWaterfill: Q = (s, d) => {
    val src = Tables.documents(s, d).groupBy("source")
      .agg(sum(col("n_chars")).as("c"))
    val w = Window.orderBy(col("c"), col("source"))
    val wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = src.agg(sum(col("c")).as("total"), count(lit(1)).as("ns"))
    val ranked = src.crossJoin(broadcast(tot))
      .withColumn("budget", expr("(total * 9) DIV 10"))
      .withColumn("k", row_number().over(w).cast(LongType))
      .withColumn("prefix", sum(col("c")).over(wp))
      .withColumn("keep", col("c") * (col("ns") - col("k")) <= (col("budget") - col("prefix")))
    val lam = ranked.agg(
      sum(when(col("keep"), 1L).otherwise(0L)).as("kk"),
      sum(when(col("keep"), col("c")).otherwise(0L)).as("pk"),
      min(col("budget")).as("budget"), min(col("ns")).as("ns"))
      .withColumn("lambda", when(col("ns") > col("kk"),
        (col("budget") - col("pk")).cast(DoubleType) / (col("ns") - col("kk")).cast(DoubleType)))
    ranked.crossJoin(broadcast(lam.select(col("lambda"))))
      .select(col("source"), col("c"),
        round(when(col("keep"), col("c").cast(DoubleType)).otherwise(col("lambda")), 4).as("alloc"),
        (!col("keep")).as("capped"))
      .orderBy("source")
  }

  /** Trailing 7-day rolling median of daily volume per event type —
    * the robust smoother dashboards run where a rolling mean chases
    * outliers. The frame is collected in-row (≤ 7 values), sorted, and
    * indexed exactly, so the median needs no rank join; the window
    * partitions by event type over the DAILY aggregate (t rows per
    * type, never events).
    */
  private val q250RollingMedian: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("dd"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("dd").rowsBetween(-6, 0)
    daily
      .withColumn("fr", sort_array(collect_list(col("n")).over(w)))
      .withColumn("m", size(col("fr")))
      .select(col("event_type"), col("dd"), col("n"), col("m").cast(LongType).as("window_days"),
        round(when(col("m") % 2 === 1,
            element_at(col("fr"), expr("CAST((m + 1) DIV 2 AS INT)")).cast(DoubleType))
          .otherwise((element_at(col("fr"), expr("CAST(m DIV 2 AS INT)")).cast(DoubleType) +
            element_at(col("fr"), expr("CAST(m DIV 2 + 1 AS INT)")).cast(DoubleType)) / 2.0), 1)
          .as("rolling_median"))
      .orderBy("event_type", "dd")
  }

  /** Jackknife (leave-one-source-out) uncertainty of the corpus mean
    * document length — resampling-grade error bars with zero
    * resampling: every leave-one-out mean is a closed form over the
    * per-source totals (|sources| rows), so the whole estimate is two
    * keyed aggregates. Decimal totals keep each pseudo-value exact
    * until the final variance division.
    */
  private val q251Jackknife: Q = (s, d) => {
    val bySrc = Tables.documents(s, d).groupBy("source")
      .agg(sum(col("n_chars")).as("sc"), count(lit(1)).as("nc"))
    val tot = bySrc.agg(sum(col("sc")).as("st"), sum(col("nc")).as("nt"),
      count(lit(1)).as("g"))
    val loo = bySrc.crossJoin(broadcast(tot))
      .withColumn("ti", (col("st") - col("sc")).cast(DoubleType) /
        (col("nt") - col("nc")).cast(DoubleType))
      // decimal casts before the cross-source sums: double accumulation
      // is partition-order dependent; these are not
      .withColumn("tid", col("ti").cast(org.apache.spark.sql.types.DecimalType(25, 12)))
      .withColumn("ti2d",
        (col("ti") * col("ti")).cast(org.apache.spark.sql.types.DecimalType(30, 12)))
    val mean = loo.agg(min(col("g")).as("g"),
      min(col("st").cast(DoubleType) / col("nt").cast(DoubleType)).as("theta"),
      sum(col("tid")).as("sumt"), sum(col("ti2d")).as("s2"))
      .withColumn("theta_bar", col("sumt").cast(DoubleType) / col("g").cast(DoubleType))
    mean.select(col("g"), round(col("theta"), 6).as("mean_chars"),
      round(sqrt((col("g").cast(DoubleType) - 1.0) / col("g").cast(DoubleType) *
        (col("s2").cast(DoubleType) -
          col("g").cast(DoubleType) * col("theta_bar") * col("theta_bar"))), 6)
        .as("jackknife_se"))
  }

  val queries: Seq[Query] = Seq(
    Query("q246_theil_sen", q246TheilSen,
      """WITH daily AS (SELECT CAST(ts AS DATE) dd, count(*) n FROM events GROUP BY 1),
        |idx AS (SELECT n, row_number() OVER (ORDER BY dd) t FROM daily),
        |slopes AS (SELECT (b.n - a.n)::DOUBLE / (b.t - a.t)::DOUBLE slope, a.t ta, b.t tb
        |  FROM idx a JOIN idx b ON a.t < b.t),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY slope, ta, tb) r,
        |    count(*) OVER () m FROM slopes)
        |SELECT min(m)::BIGINT AS n_pairs,
        |  round(avg(CASE WHEN m % 2 = 1 THEN
        |      CASE WHEN r * 2 = m + 1 THEN slope END
        |    ELSE CASE WHEN r * 2 = m OR r * 2 = m + 2 THEN slope END END), 6) AS ts_slope
        |FROM ranked WHERE r * 2 = m OR r * 2 = m + 1 OR r * 2 = m + 2""".stripMargin),
    Query("q250_rolling_median", q250RollingMedian,
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) dd, count(*) n
        |  FROM events GROUP BY 1, 2),
        |fr AS (SELECT event_type, dd, n,
        |    list_sort(list(n) OVER (PARTITION BY event_type ORDER BY dd
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) f
        |  FROM daily)
        |SELECT event_type, dd, n::BIGINT AS n, len(f)::BIGINT AS window_days,
        |  round(CASE WHEN len(f) % 2 = 1 THEN f[(len(f) + 1) // 2]::DOUBLE
        |    ELSE (f[len(f) // 2]::DOUBLE + f[len(f) // 2 + 1]::DOUBLE) / 2.0 END, 1)
        |    AS rolling_median
        |FROM fr ORDER BY event_type, dd""".stripMargin),
    Query("q251_jackknife", q251Jackknife,
      """WITH bysrc AS (SELECT source, sum(n_chars) sc, count(*) nc
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(sc) st, sum(nc) nt, count(*) g FROM bysrc),
        |loo AS (SELECT g, st, nt,
        |    (st - sc)::DOUBLE / (nt - nc)::DOUBLE ti FROM bysrc, tot),
        |dec AS (SELECT g, st, nt,
        |    CAST(ti AS DECIMAL(25,12)) tid, CAST(ti * ti AS DECIMAL(30,12)) ti2d FROM loo),
        |m AS (SELECT min(g) g, min(st::DOUBLE / nt::DOUBLE) theta,
        |    sum(tid) sumt, sum(ti2d) s2 FROM dec),
        |m2 AS (SELECT *, sumt::DOUBLE / g::DOUBLE theta_bar FROM m)
        |SELECT g::BIGINT AS g, round(theta, 6) AS mean_chars,
        |  round(sqrt((g::DOUBLE - 1.0) / g::DOUBLE *
        |    (s2::DOUBLE - g::DOUBLE * theta_bar * theta_bar)), 6) AS jackknife_se
        |FROM m2""".stripMargin),
    Query("q247_token_waterfill", q247TokenWaterfill,
      """WITH src AS (SELECT source, sum(n_chars) c FROM documents GROUP BY source),
        |tot AS (SELECT sum(c) total, count(*) ns FROM src),
        |ranked AS (SELECT source, c, (total * 9) // 10 budget, ns,
        |    row_number() OVER (ORDER BY c, source) k,
        |    sum(c) OVER (ORDER BY c, source ROWS UNBOUNDED PRECEDING) pfx
        |  FROM src, tot),
        |r2 AS (SELECT *, c * (ns - k) <= (budget - pfx) keep FROM ranked),
        |lam AS (SELECT CASE WHEN min(ns) > sum(CASE WHEN keep THEN 1 ELSE 0 END) THEN
        |    (min(budget) - sum(CASE WHEN keep THEN c ELSE 0 END))::DOUBLE /
        |    (min(ns) - sum(CASE WHEN keep THEN 1 ELSE 0 END))::DOUBLE END lambda
        |  FROM r2)
        |SELECT source, c::BIGINT AS c,
        |  round(CASE WHEN keep THEN c::DOUBLE ELSE lambda END, 4) AS alloc,
        |  NOT keep AS capped
        |FROM r2, lam ORDER BY source""".stripMargin))
}
