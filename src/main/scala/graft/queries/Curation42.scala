package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 12: production monitoring and estimation statistics —
  * multi-window SLO burn-rate alerting, metric bridge (volume/rate/mix)
  * decomposition, 2-D embedding whitening with a closed-form eigen
  * rotation, the Horvitz–Thompson unequal-probability estimator, and
  * delta-method confidence intervals for ratio metrics.
  */
object Curation42 {

  /** q371: multi-window, multi-burn-rate SLO alerting (the SRE-workbook
    * algorithm): hourly error rates against a 19% error-budget target,
    * alert when BOTH the 6-hour and 24-hour trailing burn rates exceed
    * their thresholds (1.1× short / 1.05× long) — the two-window design
    * that suppresses blips without missing slow burns. The corpus
    * collapses to the dense bounded hour grid (≤ 720 rows) in one
    * keyed pass; trailing windows are integer rolling sums over that
    * grid, so every rate is an exact quotient.
    */
  private val q371SloBurnAlerts: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
      .groupBy("h").agg(count(lit(1)).as("n"), sum(col("e")).as("err"))
    val bounds = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = bounds.select(explode(sequence(col("h0"), col("h1"))).as("h"))
      .join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("err"), lit(0L)).as("err"))
    val wS = Window.orderBy("h").rowsBetween(-5, 0)   // bounded hour domain
    val wL = Window.orderBy("h").rowsBetween(-23, 0)
    val burns = grid.select(col("h"),
        sum(col("err")).over(wS).as("es"), sum(col("n")).over(wS).as("ns"),
        sum(col("err")).over(wL).as("el"), sum(col("n")).over(wL).as("nl"))
      .filter(col("ns") > 0 && col("nl") > 0)
      .select(col("h"),
        (col("es").cast(DoubleType) / col("ns").cast(DoubleType) / 0.19).as("burn_6h"),
        (col("el").cast(DoubleType) / col("nl").cast(DoubleType) / 0.19).as("burn_24h"))
    burns.filter(col("burn_6h") >= 1.1 && col("burn_24h") >= 1.05)
      .select(timestamp_seconds(col("h") * 3600).as("alert_hour"),
        round(col("burn_6h"), 6).as("burn_6h"),
        round(col("burn_24h"), 6).as("burn_24h"))
      .orderBy("alert_hour").limit(10)
  }

  /** q372: metric bridge — decompose the period-over-period change in
    * segment revenue into volume, rate, and interaction effects
    * (Δv·r₁ + v₁·Δr + Δv·Δr, the additive bridge every growth team
    * reports). One keyed pass to the bounded (segment × period) grid;
    * volumes are integers, rates are exact quotients of decimal sums,
    * and the three effects recompose to the total delta by
    * construction (pinned in the output).
    */
  private val q372MetricBridge: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select((col("user_id") % 4).as("segment"), to_date(col("ts")).as("day"),
        when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))
          .as("rev"))
    val split = ev.agg(date_add(min(col("day")), 15).as("cut"))
    val cells = ev.crossJoin(broadcast(split))
      .select(col("segment"), when(col("day") < col("cut"), 1).otherwise(2).as("per"),
        col("rev"))
      .groupBy("segment", "per")
      .agg(count(lit(1)).as("v"), sum(dec(col("rev"))).cast(DoubleType).as("rev"))
      .select(col("segment"), col("per"), col("v"),
        (col("rev") / col("v").cast(DoubleType)).as("r"))
    val piv = cells.groupBy("segment").agg(
      max(when(col("per") === 1, col("v"))).as("v1"),
      max(when(col("per") === 2, col("v"))).as("v2"),
      max(when(col("per") === 1, col("r"))).as("r1"),
      max(when(col("per") === 2, col("r"))).as("r2"))
    piv.select(col("segment"), col("v1"), col("v2"),
        round((col("v2") - col("v1")).cast(DoubleType) * col("r1"), 6)
          .as("volume_effect"),
        round(col("v1").cast(DoubleType) * (col("r2") - col("r1")), 6).as("rate_effect"),
        round((col("v2") - col("v1")).cast(DoubleType) * (col("r2") - col("r1")), 6)
          .as("interaction"),
        round(col("v2").cast(DoubleType) * col("r2") -
          col("v1").cast(DoubleType) * col("r1"), 6).as("delta_total"))
      .orderBy("segment")
  }

  /** q373: embedding whitening over the first two dimensions — the
    * retrieval-quality postprocess (Su et al. 2021): closed-form 2×2
    * eigendecomposition of the population covariance (θ =
    * atan2(2b, a−c)/2), whiten every vector with the broadcast
    * W = Λ^{-1/2}·Qᵀ, and re-measure the covariance to pin that it is
    * now the identity. Two linear passes with decimal-summed moments;
    * the rotation parameters are a bounded broadcast scalar frame.
    */
  private val q373EmbeddingWhitening: Q = (s, d) => {
    val xy = Tables.embeddings(s, d).select(
      element_at(col("embedding"), 1).cast(DoubleType).as("x"),
      element_at(col("embedding"), 2).cast(DoubleType).as("y"))
    val mom = xy.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).cast(DoubleType).as("sx"),
      sum(dec(col("y"))).cast(DoubleType).as("sy"),
      sum(dec(col("x") * col("x"))).cast(DoubleType).as("sxx"),
      sum(dec(col("y") * col("y"))).cast(DoubleType).as("syy"),
      sum(dec(col("x") * col("y"))).cast(DoubleType).as("sxy"))
    val cov = mom.select(col("n"),
      (col("sx") / col("n").cast(DoubleType)).as("mx"),
      (col("sy") / col("n").cast(DoubleType)).as("my"),
      ((col("sxx") - col("sx") * col("sx") / col("n").cast(DoubleType)) /
        col("n").cast(DoubleType)).as("a"),
      ((col("syy") - col("sy") * col("sy") / col("n").cast(DoubleType)) /
        col("n").cast(DoubleType)).as("c"),
      ((col("sxy") - col("sx") * col("sy") / col("n").cast(DoubleType)) /
        col("n").cast(DoubleType)).as("b"))
    val eig = cov.select(col("n"), col("mx"), col("my"), col("a"), col("b"), col("c"),
      (atan2(lit(2.0) * col("b"), col("a") - col("c")) / 2.0).as("th"),
      ((col("a") + col("c")) / 2 +
        sqrt(((col("a") - col("c")) / 2) * ((col("a") - col("c")) / 2) +
          col("b") * col("b"))).as("l1"),
      ((col("a") + col("c")) / 2 -
        sqrt(((col("a") - col("c")) / 2) * ((col("a") - col("c")) / 2) +
          col("b") * col("b"))).as("l2"))
    val wparams = eig.select(col("n"), col("mx"), col("my"), col("l1"), col("l2"),
      cos(col("th")).as("ct"), sin(col("th")).as("st"))
    val wht = xy.crossJoin(broadcast(wparams))
      .select(col("l1"), col("l2"),
        ((( col("x") - col("mx")) * col("ct") + (col("y") - col("my")) * col("st")) /
          sqrt(col("l1"))).as("wx"),
        (((col("y") - col("my")) * col("ct") - (col("x") - col("mx")) * col("st")) /
          sqrt(col("l2"))).as("wy"))
    wht.groupBy(col("l1"), col("l2"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("wx") * col("wx"))).cast(DoubleType).as("swxx"),
        sum(dec(col("wy") * col("wy"))).cast(DoubleType).as("swyy"),
        sum(dec(col("wx") * col("wy"))).cast(DoubleType).as("swxy"))
      .select(col("n"), round(col("l1") * 1000, 6).as("lam1_x1000"),
        round(col("l2") * 1000, 6).as("lam2_x1000"),
        round(col("swxx") / col("n").cast(DoubleType), 6).as("white_var_x"),
        round(col("swyy") / col("n").cast(DoubleType), 6).as("white_var_y"),
        round(col("swxy") / col("n").cast(DoubleType), 6).as("white_cov"))
  }

  /** q374: Horvitz–Thompson estimation under deterministic Poisson
    * sampling — inclusion probabilities proportional to a size measure
    * (π = min(0.99, z/20), z from the account key), the sample drawn
    * by comparing a seeded 60-bit hash uniform against π (coordinated
    * and replayable, never RNG state), the total estimated as Σ y/π
    * with the exact Poisson variance estimator Σ (1−π)/π²·y². One
    * scan, decimal sums, and the ground truth on the same row because
    * the full population is right there to audit against.
    */
  private val q374HorvitzThompson: Q = (s, d) => {
    val pop = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal").as("y"),
        ((col("c_custkey") % 10) + 1).cast(DoubleType).as("z"))
      .select(col("c_custkey"), col("y"),
        least(lit(0.99), col("z") / 20.0).as("pi"),
        (mdHash(concat_ws("|", lit("ht"), col("c_custkey"))).cast(DoubleType) /
          lit(1152921504606846976.0)).as("u")) // 2^60
    val truth = pop.agg(sum(dec(col("y"))).cast(DoubleType).as("true_total"))
    val samp = pop.filter(col("u") < col("pi"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(dec(col("y") / col("pi"))).cast(DoubleType).as("ht_total"),
        sum(dec((lit(1.0) - col("pi")) / (col("pi") * col("pi")) *
          col("y") * col("y"))).cast(DoubleType).as("vhat"))
    samp.crossJoin(broadcast(truth))
      .select(col("n_sampled"), round(col("ht_total"), 6).as("ht_total"),
        round(col("true_total"), 6).as("true_total"),
        round((col("ht_total") - col("true_total")) / col("true_total"), 6)
          .as("rel_err"),
        round(sqrt(col("vhat")), 6).as("ht_se"))
  }

  /** q375: delta-method inference for a ratio metric (revenue per
    * event) — the correct per-arm variance when both numerator and
    * denominator are user-level random variables:
    * V(R̂) = (Sxx − 2R·Sxk + R²·Skk) / (n·k̄²). Per-user totals are one
    * keyed pass; arm moments are decimal sums; the z-statistic for the
    * arm difference is closed-form. The naive per-event variance this
    * replaces understates uncertainty because events cluster within
    * users.
    */
  private val q375DeltaMethodRatio: Q = (s, d) => {
    val perUser = Tables.events(s, d)
      .select(col("user_id"), (col("user_id") % 2).as("arm"),
        when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))
          .as("rev"))
      .groupBy("user_id", "arm")
      .agg(sum(dec(col("rev"))).cast(DoubleType).as("x"), count(lit(1)).as("k"))
    val mom = perUser.groupBy("arm").agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).cast(DoubleType).as("sx"),
      sum(col("k")).as("sk"),
      sum(dec(col("x") * col("x"))).cast(DoubleType).as("sxx"),
      sum(dec(col("x") * col("k").cast(DoubleType))).cast(DoubleType).as("sxk"),
      sum(col("k") * col("k")).as("skk"))
    val st = mom.select(col("arm"), col("n"),
      (col("sx") / col("sk").cast(DoubleType)).as("r"),
      ((col("sxx") / col("n").cast(DoubleType) -
        (col("sx") / col("n").cast(DoubleType)) * (col("sx") / col("n").cast(DoubleType)))
        - lit(2.0) * (col("sx") / col("sk").cast(DoubleType)) *
          (col("sxk") / col("n").cast(DoubleType) -
            (col("sx") / col("n").cast(DoubleType)) *
              (col("sk").cast(DoubleType) / col("n").cast(DoubleType)))
        + (col("sx") / col("sk").cast(DoubleType)) *
          (col("sx") / col("sk").cast(DoubleType)) *
          (col("skk").cast(DoubleType) / col("n").cast(DoubleType) -
            (col("sk").cast(DoubleType) / col("n").cast(DoubleType)) *
              (col("sk").cast(DoubleType) / col("n").cast(DoubleType)))).as("vcore"),
      (col("sk").cast(DoubleType) / col("n").cast(DoubleType)).as("kbar"))
      .select(col("arm"), col("n"), col("r"),
        (col("vcore") / (col("n").cast(DoubleType) * col("kbar") * col("kbar")))
          .as("vr"))
    val piv = st.agg(
      max(when(col("arm") === 0, col("n"))).as("n0"),
      max(when(col("arm") === 1, col("n"))).as("n1"),
      max(when(col("arm") === 0, col("r"))).as("r0"),
      max(when(col("arm") === 1, col("r"))).as("r1"),
      max(when(col("arm") === 0, col("vr"))).as("v0"),
      max(when(col("arm") === 1, col("vr"))).as("v1"))
    piv.select(col("n0"), col("n1"),
      round(col("r0"), 6).as("r0"), round(col("r1"), 6).as("r1"),
      round(col("r1") - col("r0"), 6).as("diff"),
      round(sqrt(col("v0") + col("v1")), 6).as("se"),
      round((col("r1") - col("r0")) / sqrt(col("v0") + col("v1")), 6).as("z_stat"))
  }

  val queries: Seq[Query] = Seq(
    Query("q371_slo_burn_alerts", q371SloBurnAlerts,
      """WITH hourly AS (SELECT epoch_us(ts) // 3600000000 h, count(*) n,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) err
        |  FROM events GROUP BY h),
        |bounds AS (SELECT min(h) h0, max(h) h1 FROM hourly),
        |grid AS (SELECT g.h, coalesce(hourly.n, 0) n, coalesce(hourly.err, 0) err
        |  FROM (SELECT unnest(range(h0, h1 + 1)) h FROM bounds) g
        |  LEFT JOIN hourly ON hourly.h = g.h),
        |burns AS (SELECT h,
        |    sum(err) OVER w6 es, sum(n) OVER w6 ns,
        |    sum(err) OVER w24 el, sum(n) OVER w24 nl
        |  FROM grid
        |  WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
        |    w24 AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |rates AS (SELECT h, es::DOUBLE / ns::DOUBLE / 0.19 burn_6h,
        |    el::DOUBLE / nl::DOUBLE / 0.19 burn_24h
        |  FROM burns WHERE ns > 0 AND nl > 0)
        |SELECT make_timestamp(h * 3600 * 1000000) AS alert_hour,
        |  round(burn_6h, 6) AS burn_6h, round(burn_24h, 6) AS burn_24h
        |FROM rates WHERE burn_6h >= 1.1 AND burn_24h >= 1.05
        |ORDER BY alert_hour LIMIT 10""".stripMargin),
    Query("q372_metric_bridge", q372MetricBridge,
      """WITH ev AS (SELECT user_id % 4 segment, CAST(ts AS DATE) dy,
        |    CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END rev
        |  FROM events),
        |split AS (SELECT min(dy) + 15 cut FROM ev),
        |cells AS (SELECT segment, CASE WHEN dy < cut THEN 1 ELSE 2 END per,
        |    count(*) v,
        |    CAST(sum(CAST(rev AS DECIMAL(38,15))) AS DOUBLE) rev
        |  FROM ev CROSS JOIN split GROUP BY 1, 2),
        |rr AS (SELECT segment, per, v, rev / v::DOUBLE r FROM cells),
        |piv AS (SELECT segment,
        |    max(CASE WHEN per = 1 THEN v END) v1, max(CASE WHEN per = 2 THEN v END) v2,
        |    max(CASE WHEN per = 1 THEN r END) r1, max(CASE WHEN per = 2 THEN r END) r2
        |  FROM rr GROUP BY segment)
        |SELECT segment, v1::BIGINT AS v1, v2::BIGINT AS v2,
        |  round((v2 - v1)::DOUBLE * r1, 6) AS volume_effect,
        |  round(v1::DOUBLE * (r2 - r1), 6) AS rate_effect,
        |  round((v2 - v1)::DOUBLE * (r2 - r1), 6) AS interaction,
        |  round(v2::DOUBLE * r2 - v1::DOUBLE * r1, 6) AS delta_total
        |FROM piv ORDER BY segment""".stripMargin),
    Query("q373_embedding_whitening", q373EmbeddingWhitening,
      """WITH xy AS (SELECT embedding[1]::DOUBLE x, embedding[2]::DOUBLE y
        |  FROM embeddings),
        |mom AS (SELECT count(*) n,
        |    CAST(sum(CAST(x AS DECIMAL(38,15))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,15))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,15))) AS DOUBLE) syy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,15))) AS DOUBLE) sxy
        |  FROM xy),
        |cov AS (SELECT n, sx / n::DOUBLE mx, sy / n::DOUBLE my,
        |    (sxx - sx * sx / n::DOUBLE) / n::DOUBLE a,
        |    (syy - sy * sy / n::DOUBLE) / n::DOUBLE c,
        |    (sxy - sx * sy / n::DOUBLE) / n::DOUBLE b
        |  FROM mom),
        |eig AS (SELECT n, mx, my, atan2(2.0 * b, a - c) / 2.0 th,
        |    (a + c) / 2 + sqrt(((a - c) / 2) * ((a - c) / 2) + b * b) l1,
        |    (a + c) / 2 - sqrt(((a - c) / 2) * ((a - c) / 2) + b * b) l2
        |  FROM cov),
        |wp AS (SELECT n, mx, my, l1, l2, cos(th) ct, sin(th) st FROM eig),
        |wht AS (SELECT l1, l2,
        |    ((x - mx) * ct + (y - my) * st) / sqrt(l1) wx,
        |    ((y - my) * ct - (x - mx) * st) / sqrt(l2) wy
        |  FROM xy CROSS JOIN wp)
        |SELECT count(*)::BIGINT AS n,
        |  round(l1 * 1000, 6) AS lam1_x1000, round(l2 * 1000, 6) AS lam2_x1000,
        |  round(CAST(sum(CAST(wx * wx AS DECIMAL(38,15))) AS DOUBLE)
        |    / count(*)::DOUBLE, 6) AS white_var_x,
        |  round(CAST(sum(CAST(wy * wy AS DECIMAL(38,15))) AS DOUBLE)
        |    / count(*)::DOUBLE, 6) AS white_var_y,
        |  round(CAST(sum(CAST(wx * wy AS DECIMAL(38,15))) AS DOUBLE)
        |    / count(*)::DOUBLE, 6) AS white_cov
        |FROM wht GROUP BY l1, l2""".stripMargin),
    Query("q374_horvitz_thompson", q374HorvitzThompson,
      s"""WITH pop AS (SELECT c_custkey, c_acctbal y,
         |    least(0.99, ((c_custkey % 10) + 1)::DOUBLE / 20.0) pi,
         |    ${mdHashSql("'ht|' || c_custkey")}::DOUBLE
         |      / 1152921504606846976.0 u
         |  FROM customer),
         |truth AS (SELECT CAST(sum(CAST(y AS DECIMAL(38,15))) AS DOUBLE) true_total
         |  FROM pop),
         |samp AS (SELECT count(*) n_sampled,
         |    CAST(sum(CAST(y / pi AS DECIMAL(38,15))) AS DOUBLE) ht_total,
         |    CAST(sum(CAST((1.0 - pi) / (pi * pi) * y * y AS DECIMAL(38,15)))
         |      AS DOUBLE) vhat
         |  FROM pop WHERE u < pi)
         |SELECT n_sampled::BIGINT AS n_sampled, round(ht_total, 6) AS ht_total,
         |  round(true_total, 6) AS true_total,
         |  round((ht_total - true_total) / true_total, 6) AS rel_err,
         |  round(sqrt(vhat), 6) AS ht_se
         |FROM samp CROSS JOIN truth""".stripMargin),
    Query("q375_delta_method_ratio", q375DeltaMethodRatio,
      """WITH pu AS (SELECT user_id, user_id % 2 arm,
        |    CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
        |      AS DECIMAL(38,15))) AS DOUBLE) x,
        |    count(*) k
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT arm, count(*) n,
        |    CAST(sum(CAST(x AS DECIMAL(38,15))) AS DOUBLE) sx,
        |    sum(k) sk,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(x * k::DOUBLE AS DECIMAL(38,15))) AS DOUBLE) sxk,
        |    sum(k * k) skk
        |  FROM pu GROUP BY arm),
        |st AS (SELECT arm, n, sx / sk::DOUBLE r,
        |    ((sxx / n::DOUBLE - (sx / n::DOUBLE) * (sx / n::DOUBLE))
        |      - 2.0 * (sx / sk::DOUBLE) *
        |        (sxk / n::DOUBLE - (sx / n::DOUBLE) * (sk::DOUBLE / n::DOUBLE))
        |      + (sx / sk::DOUBLE) * (sx / sk::DOUBLE) *
        |        (skk::DOUBLE / n::DOUBLE -
        |          (sk::DOUBLE / n::DOUBLE) * (sk::DOUBLE / n::DOUBLE)))
        |      / (n::DOUBLE * (sk::DOUBLE / n::DOUBLE) * (sk::DOUBLE / n::DOUBLE)) vr
        |  FROM mom),
        |piv AS (SELECT
        |    max(CASE WHEN arm = 0 THEN n END) n0, max(CASE WHEN arm = 1 THEN n END) n1,
        |    max(CASE WHEN arm = 0 THEN r END) r0, max(CASE WHEN arm = 1 THEN r END) r1,
        |    max(CASE WHEN arm = 0 THEN vr END) v0, max(CASE WHEN arm = 1 THEN vr END) v1
        |  FROM st)
        |SELECT n0::BIGINT AS n0, n1::BIGINT AS n1,
        |  round(r0, 6) AS r0, round(r1, 6) AS r1, round(r1 - r0, 6) AS diff,
        |  round(sqrt(v0 + v1), 6) AS se,
        |  round((r1 - r0) / sqrt(v0 + v1), 6) AS z_stat
        |FROM piv""".stripMargin))
}
