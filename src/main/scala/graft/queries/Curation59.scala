package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.mdHash
import graft.sources.Tables

/** Round-11 wave 28 — decision/causal estimators the suite lacked:
  * UCB1 bandit audit, doubly-robust (AIPW) treatment effects, an ALS
  * matrix-factorization half-step, cluster-robust
  * difference-in-differences, mSPRT always-valid p-values, and a
  * deterministic RANSAC line fit.
  */
object Curation59 {

  /** q445: UCB1 bandit audit — the offline readout of what a UCB1
    * policy WOULD have chosen at each day boundary: per (arm, day)
    * cumulative pull counts and mean rewards (one keyed aggregate; the
    * rest lives on the bounded |arms|×|days| grid), the UCB index
    * mean + √(2 ln N / n), and the per-day argmax. The audit a bandit
    * rollout reviews before trusting the policy online.
    */
  private val q445Ucb1Audit: Q = (s, d) => {
    val ev = Tables.events(s, d).select(to_date(col("ts")).as("obs_day"),
      col("event_type").as("arm"),
      round(col("value"), 2).cast(DecimalType(18, 2)).as("r"))
    val cell = ev.groupBy("obs_day", "arm")
      .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"))
    // bounded |arms|x|days| grid from here down (house rule for the
    // unpartitioned day windows)
    val wArm = Window.partitionBy("arm").orderBy("obs_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cell
      .withColumn("cn", sum(col("n")).over(wArm))
      .withColumn("csr", sum(col("sr")).over(wArm))
    val dayTot = cell.groupBy("obs_day").agg(sum(col("n")).as("nd"))
      .withColumn("nn", sum(col("nd")).over(Window.orderBy("obs_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("obs_day", "nn")
    val scored = cum.join(dayTot, Seq("obs_day"))
      .withColumn("cmean", col("csr").cast(DoubleType) / col("cn"))
      .withColumn("ucb", round(col("cmean") +
        sqrt(lit(2.0) * log(col("nn").cast(DoubleType)) / col("cn")), 9))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy("obs_day").orderBy(col("ucb").desc, col("arm").asc)))
      .filter(col("rk") === 1)
      .select(col("obs_day"), col("arm").as("chosen_arm"), col("nn").as("total_pulls"),
        col("cn").as("arm_pulls"), round(col("cmean"), 6).as("arm_mean"),
        round(col("ucb"), 6).as("ucb_index"))
      .orderBy("obs_day")
  }

  /** q446: doubly-robust (AIPW) average-treatment-effect estimation —
    * a synthetic confounded assignment (treatment probability rises
    * with the covariate bucket via the seeded md5 channel) scored
    * three ways: the naive mean difference, inverse-propensity
    * weighting, and the augmented (doubly-robust) estimator
    * μ̂₁−μ̂₀ + T(Y−μ̂₁)/ê − (1−T)(Y−μ̂₀)/(1−ê). Propensities and
    * outcome models are per-bucket keyed aggregates broadcast back as
    * a ≤2|x| row model; per-row terms compute in double from the
    * rounded decimal model (identical IEEE ops both engines) and sum
    * as 9-dp decimals.
    */
  private val q446AipwAte: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_id"),
      (col("user_id") % 4).as("x"),
      round(col("value"), 2).cast(DecimalType(18, 2)).as("y"))
      .withColumn("t", (mdHash(lit("trt"), col("event_id")) % 100 <
        lit(20) + lit(15) * col("x")).cast(IntegerType))
    val eh = ev.groupBy("x").agg(round(sum(col("t")).cast(DoubleType) /
      count(lit(1)), 9).as("e"))
    val mu = ev.groupBy("x")
      .agg(round(sum(when(col("t") === 1, col("y"))).cast(DoubleType) /
          sum(col("t")), 9).as("mu1"),
        round(sum(when(col("t") === 0, col("y"))).cast(DoubleType) /
          sum(lit(1) - col("t")), 9).as("mu0"))
    val rows = ev.join(broadcast(eh), Seq("x")).join(broadcast(mu), Seq("x"))
      .withColumn("yd", col("y").cast(DoubleType))
      .withColumn("aipw", round(col("mu1") - col("mu0") +
        col("t") * (col("yd") - col("mu1")) / col("e") -
        (lit(1) - col("t")) * (col("yd") - col("mu0")) / (lit(1) - col("e")), 9)
        .cast(DecimalType(24, 9)))
      .withColumn("ipw", round(col("t") * col("yd") / col("e") -
        (lit(1) - col("t")) * col("yd") / (lit(1) - col("e")), 9)
        .cast(DecimalType(24, 9)))
    rows.agg(count(lit(1)).as("n"), sum(col("t")).cast(LongType).as("n_treat"),
        round(sum(when(col("t") === 1, col("y"))).cast(DoubleType) / sum(col("t")) -
          sum(when(col("t") === 0, col("y"))).cast(DoubleType) /
            sum(lit(1) - col("t")), 6).as("naive_diff"),
        round(sum(col("ipw")).cast(DoubleType) / count(lit(1)), 6).as("ipw_ate"),
        round(sum(col("aipw")).cast(DoubleType) / count(lit(1)), 6).as("aipw_ate"))
  }

  /** q447: one ALS half-step of rank-2 matrix factorization — item
    * factors initialized from the md5 channel, then every user's
    * factor solved EXACTLY from the 2×2 normal equations
    * (A = ΣqqT + λI, u = A⁻¹b via the closed-form inverse, determinant
    * and adjugate kept in exact decimals; the two divisions are the
    * only doubles). The readout is per-cohort RMSE before vs after the
    * half-step — the number that says the step helped. One ratings
    * aggregate per user; factors never leave the row.
    */
  private val q447AlsStep: Q = (s, d) => {
    val ratings = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey").as("p"), col("l_quantity").cast(LongType).as("r")),
        "o_orderkey")
      .groupBy("c", "p").agg(max(col("r")).as("r"))
    val q1 = ((mdHash(lit("als1"), col("p")) % 1000 - 500)
      .cast(DecimalType(10, 0)) * lit(0.001).cast(DecimalType(4, 3)))
      .cast(DecimalType(10, 3))
    val q2 = ((mdHash(lit("als2"), col("p")) % 1000 - 500)
      .cast(DecimalType(10, 0)) * lit(0.001).cast(DecimalType(4, 3)))
      .cast(DecimalType(10, 3))
    // persisted: the normal-equation branch AND the residual branch
    // both consume rq — unpersisted, the 60M-row orders⋈lineitem join
    // ran twice (the sf10 paired decade measured 225 s; the join is
    // the whole cost)
    val rq = ratings.withColumn("q1", q1).withColumn("q2", q2).persist()
    val lam = lit(0.1).cast(DecimalType(10, 6))
    // normal-equation entries re-narrowed to DECIMAL(12,6)/(12,3) after
    // the sums (values are bounded by the per-user basket, so this is
    // lossless) — the 2x2 determinant/adjugate products then stay exact
    // decimals INSIDE 38 digits on both engines
    val norm = rq.groupBy("c").agg(
      (sum((col("q1") * col("q1")).cast(DecimalType(20, 6))) + lam)
        .cast(DecimalType(12, 6)).as("a11"),
      sum((col("q1") * col("q2")).cast(DecimalType(20, 6)))
        .cast(DecimalType(12, 6)).as("a12"),
      (sum((col("q2") * col("q2")).cast(DecimalType(20, 6))) + lam)
        .cast(DecimalType(12, 6)).as("a22"),
      sum((col("r") * col("q1")).cast(DecimalType(20, 3)))
        .cast(DecimalType(12, 3)).as("b1"),
      sum((col("r") * col("q2")).cast(DecimalType(20, 3)))
        .cast(DecimalType(12, 3)).as("b2"))
    val sol = norm
      .withColumn("det", (col("a11") * col("a22") -
        col("a12") * col("a12")).cast(DecimalType(38, 12)))
      .withColumn("u1", round((col("a22") * col("b1") - col("a12") * col("b2"))
        .cast(DoubleType) / col("det").cast(DoubleType), 9)
        .cast(DecimalType(24, 9)))
      .withColumn("u2", round((col("a11") * col("b2") - col("a12") * col("b1"))
        .cast(DoubleType) / col("det").cast(DoubleType), 9)
        .cast(DecimalType(24, 9)))
      .select("c", "u1", "u2")
    val resid = rq.join(sol, Seq("c"))
      .withColumn("pred", (col("u1") * col("q1") + col("u2") * col("q2"))
        .cast(DecimalType(30, 12)))
      .withColumn("e2", (round(col("r") - col("pred"), 9) *
        round(col("r") - col("pred"), 9)).cast(DecimalType(30, 18)))
      .withColumn("r2", (col("r") * col("r")).cast(DecimalType(20, 0)))
    resid.groupBy((col("c") % 4).as("cohort"))
      .agg(count(lit(1)).as("n_ratings"),
        countDistinct(col("c")).as("n_users"),
        round(sqrt(sum(col("r2")).cast(DoubleType) / count(lit(1))), 6)
          .as("rmse_before"),
        round(sqrt(sum(col("e2")).cast(DoubleType) / count(lit(1))), 6)
          .as("rmse_after"))
      .orderBy("cohort")
  }

  /** q448: difference-in-differences with CLUSTER-robust (by user)
    * standard errors — the panel-experiment readout a naive pooled SE
    * understates when a user contributes many correlated rows. The
    * 2×2 cell means come from one bounded aggregate; each user's
    * influence Σψ folds to S_post/n_post − S_pre/n_pre over exact
    * decimal residual sums (ONE user-keyed aggregate — per-row doubles
    * would sum order-nondeterministically, per-user decimals don't),
    * and Var(DiD) = Σ_users w² within each disjoint arm.
    */
  private val q448DidCluster: Q = (s, d) => {
    val ev0 = Tables.events(s, d).select(col("user_id"), col("ts"),
      round(col("value"), 2).cast(DecimalType(18, 2)).as("y"))
    // millisecond-floor midpoint: Timestamp.getTime floors to ms, and
    // the oracle compares epoch_us(ts) > mid_ms * 1000 so a row inside
    // the midpoint millisecond classifies identically on both engines
    val r = ev0.agg(min(col("ts")).as("a"), max(col("ts")).as("b")).head()
    val midMs = (r.getTimestamp(0).getTime + r.getTimestamp(1).getTime) / 2
    val ev = ev0
      .withColumn("arm", (col("user_id") % 2).cast(IntegerType))
      .withColumn("post", (col("ts") > lit(new java.sql.Timestamp(midMs)))
        .cast(IntegerType))
    val cells = ev.groupBy("arm", "post")
      .agg(count(lit(1)).as("nc"),
        round(sum(col("y")).cast(DoubleType) / count(lit(1)), 9)
          .cast(DecimalType(24, 9)).as("m"))
    val userSums = ev.join(broadcast(cells), Seq("arm", "post"))
      .groupBy("user_id", "arm", "post")
      .agg(sum((col("y") - col("m")).cast(DecimalType(30, 9))).as("su"),
        max(col("nc")).as("nc"))
    val wU = userSums.groupBy("user_id", "arm")
      .agg(round(sum(when(col("post") === 1, col("su").cast(DoubleType) / col("nc"))
          .otherwise(-col("su").cast(DoubleType) / col("nc"))), 9)
        .cast(DecimalType(24, 9)).as("w"))
    val varArm = wU.groupBy("arm")
      .agg(sum((col("w") * col("w")).cast(DecimalType(38, 18))).as("v"),
        countDistinct(col("user_id")).as("n_users"))
    val mWide = cells.groupBy().pivot("arm", Seq(0, 1)).agg(
      first(when(col("post") === 1, col("m")), ignoreNulls = true).as("post"),
      first(when(col("post") === 0, col("m")), ignoreNulls = true).as("pre"))
    val vWide = varArm.groupBy().agg(
      sum(col("v")).as("vtot"),
      sum(when(col("arm") === 1, col("n_users"))).cast(LongType).as("n_users_t"),
      sum(when(col("arm") === 0, col("n_users"))).cast(LongType).as("n_users_c"))
    mWide.crossJoin(vWide)
      .select(
        round((col("1_post") - col("1_pre") - (col("0_post") - col("0_pre")))
          .cast(DoubleType), 6).as("did"),
        round(sqrt(col("vtot").cast(DoubleType)), 6).as("se_cluster"),
        round((col("1_post") - col("1_pre") - (col("0_post") - col("0_pre")))
          .cast(DoubleType) / sqrt(col("vtot").cast(DoubleType)), 6).as("t_stat"),
        col("n_users_t"), col("n_users_c"))
  }

  /** q449: mSPRT always-valid p-values over 5 interim looks — the
    * sequential A/B monitor that, unlike fixed-horizon z-tests, may be
    * peeked at continuously: at each look the two-proportion
    * difference feeds the normal mixture likelihood ratio
    * Λ = √(V/(V+τ))·exp(Δ²τ/(2V(V+τ))), and the always-valid p is the
    * running min of 1/Λ. Cumulative look counts are one bounded
    * grid aggregate; everything downstream lives on 5 rows.
    */
  private val q449Msprt: Q = (s, d) => {
    val ev = Tables.events(s, d).select(
      (col("user_id") % 2).cast(IntegerType).as("arm"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"),
      least(ceil(dayofmonth(col("ts")) / 6.0), lit(5)).cast(IntegerType).as("look"))
    val byLook = ev.groupBy("look", "arm")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("cv"))
    val wL = Window.partitionBy("arm").orderBy("look")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byLook
      .withColumn("cn", sum(col("n")).over(wL))
      .withColumn("ccv", sum(col("cv")).over(wL))
    val wide = cum.groupBy("look").agg(
      max(when(col("arm") === 0, col("cn"))).as("n0"),
      max(when(col("arm") === 0, col("ccv"))).as("c0"),
      max(when(col("arm") === 1, col("cn"))).as("n1"),
      max(when(col("arm") === 1, col("ccv"))).as("c1"))
    val tau = lit(1e-4)
    val lam = wide
      .withColumn("pp", (col("c0") + col("c1")).cast(DoubleType) /
        (col("n0") + col("n1")))
      .withColumn("dlt", col("c1").cast(DoubleType) / col("n1") -
        col("c0").cast(DoubleType) / col("n0"))
      .withColumn("v", col("pp") * (lit(1.0) - col("pp")) *
        (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
      .withColumn("lambda", round(sqrt(col("v") / (col("v") + tau)) *
        exp(col("dlt") * col("dlt") * tau /
          (lit(2.0) * col("v") * (col("v") + tau))), 9)
        .cast(DecimalType(24, 9)))
    lam.withColumn("p_av", round(min(least(lit(1.0),
        lit(1.0) / col("lambda").cast(DoubleType)))
        .over(Window.orderBy("look")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 6))
      .select(col("look"), col("n0"), col("c0"), col("n1"), col("c1"),
        round(col("lambda").cast(DoubleType), 6).as("lambda"), col("p_av"))
      .orderBy("look")
  }

  /** q450: deterministic RANSAC line fit — per-user (mean click value,
    * mean purchase value) points, 8 candidate lines from the 16
    * lowest-md5-ranked points paired by rank (TakeOrderedAndProject
    * keeps the seed selection distributed; the 16-row pairing window
    * is bounded), inlier counting against a broadcast candidate frame,
    * and an exact-decimal OLS refit on the winning consensus set. The
    * robust-fit recipe for metric pairs too outlier-ridden for plain
    * OLS.
    */
  private val q450Ransac: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"),
        round(col("value"), 2).cast(DecimalType(18, 2)).as("v"))
    val pts = ev.groupBy("user_id").agg(
        sum(when(col("event_type") === "click", col("v"))).as("sx"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("nx"),
        sum(when(col("event_type") === "purchase", col("v"))).as("sy"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ny"))
      .filter(col("nx") > 0 && col("ny") > 0)
      .select(col("user_id"),
        round(col("sx").cast(DoubleType) / col("nx"), 9)
          .cast(DecimalType(24, 9)).as("x"),
        round(col("sy").cast(DoubleType) / col("ny"), 9)
          .cast(DecimalType(24, 9)).as("y"))
    val seeds = pts
      .withColumn("h", mdHash(lit("rs"), col("user_id")))
      .orderBy(col("h").asc, col("user_id").asc).limit(16)
      .withColumn("rk", row_number().over(Window.orderBy(col("h").asc,
        col("user_id").asc)))
    val a = seeds.filter(col("rk") % 2 === 1)
      .select((col("rk") / 2 + 1).cast(IntegerType).as("cid"),
        col("x").as("xa"), col("y").as("ya"))
    val b = seeds.filter(col("rk") % 2 === 0)
      .select((col("rk") / 2).cast(IntegerType).as("cid"),
        col("x").as("xb"), col("y").as("yb"))
    val cand = a.join(b, Seq("cid")).filter(col("xa") =!= col("xb"))
      .select(col("cid"),
        round((col("yb") - col("ya")).cast(DoubleType) /
          (col("xb") - col("xa")).cast(DoubleType), 9).as("slope"),
        col("xa").cast(DoubleType).as("x0"), col("ya").cast(DoubleType).as("y0"))
      .withColumn("icept", round(col("y0") - col("slope") * col("x0"), 9))
    val scoredPts = pts.crossJoin(broadcast(cand))
      .withColumn("inlier", abs(col("y").cast(DoubleType) -
        (col("icept") + col("slope") * col("x").cast(DoubleType))) <= 5.0)
    val best = scoredPts.groupBy("cid")
      .agg(sum(when(col("inlier"), 1L).otherwise(0L)).as("n_inliers"))
      .orderBy(col("n_inliers").desc, col("cid").asc).limit(1)
    val fitRows = scoredPts.join(broadcast(best), Seq("cid")).filter(col("inlier"))
    val mom = fitRows.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("x")).cast(DecimalType(38, 18))).as("sxx"),
      sum((col("x") * col("y")).cast(DecimalType(38, 18))).as("sxy"),
      max(col("cid")).as("cand_id"), max(col("n_inliers")).as("n_inliers"))
    pts.agg(count(lit(1)).as("n_points")).crossJoin(mom)
      .select(col("n_points"), col("cand_id"), col("n_inliers"),
        round((col("n").cast(DoubleType) * col("sxy").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
          (col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)), 6)
          .as("refit_slope"),
        round((col("sy").cast(DoubleType) -
          (col("n").cast(DoubleType) * col("sxy").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
          (col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
          col("sx").cast(DoubleType)) / col("n").cast(DoubleType), 6)
          .as("refit_icept"))
  }

  val queries: Seq[Query] = Seq(
    Query("q445_ucb1_audit", q445Ucb1Audit,
      """WITH ev AS (SELECT ts::DATE obs_day, event_type arm,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) r FROM events),
        |cell AS (SELECT obs_day, arm, count(*) n, sum(r) sr FROM ev GROUP BY obs_day, arm),
        |cum AS (SELECT obs_day, arm,
        |    sum(n) OVER (PARTITION BY arm ORDER BY obs_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cn,
        |    sum(sr) OVER (PARTITION BY arm ORDER BY obs_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) csr
        |  FROM cell),
        |daytot AS (SELECT obs_day, sum(nd) OVER (ORDER BY obs_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) nn
        |  FROM (SELECT obs_day, sum(n) nd FROM cell GROUP BY obs_day)),
        |scored AS (SELECT cum.obs_day, arm, cn, csr, nn,
        |    CAST(csr AS DOUBLE) / CAST(cn AS DOUBLE) cmean,
        |    round(CAST(csr AS DOUBLE) / CAST(cn AS DOUBLE) +
        |      sqrt(2.0 * ln(CAST(nn AS DOUBLE)) / CAST(cn AS DOUBLE)), 9) ucb
        |  FROM cum JOIN daytot ON cum.obs_day = daytot.obs_day)
        |SELECT obs_day, arm AS chosen_arm, nn::BIGINT AS total_pulls,
        |  cn::BIGINT AS arm_pulls, round(cmean, 6) AS arm_mean,
        |  round(ucb, 6) AS ucb_index
        |FROM (SELECT *, row_number() OVER (PARTITION BY obs_day
        |    ORDER BY ucb DESC, arm ASC) rk FROM scored)
        |WHERE rk = 1 ORDER BY obs_day""".stripMargin),
    Query("q446_aipw_ate", q446AipwAte,
      """WITH ev AS (SELECT event_id, user_id % 4 x,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) y,
        |    CASE WHEN ('0x' || substr(md5('trt|' || event_id::VARCHAR), 1, 15))::BIGINT
        |      % 100 < 20 + 15 * (user_id % 4) THEN 1 ELSE 0 END t
        |  FROM events),
        |eh AS (SELECT x, round(sum(t)::DOUBLE / count(*), 9) e FROM ev GROUP BY x),
        |mu AS (SELECT x,
        |    round(CAST(sum(CASE WHEN t = 1 THEN y END) AS DOUBLE) / sum(t), 9) mu1,
        |    round(CAST(sum(CASE WHEN t = 0 THEN y END) AS DOUBLE) / sum(1 - t), 9) mu0
        |  FROM ev GROUP BY x),
        |rows_ AS (SELECT t, y,
        |    CAST(round(mu1 - mu0 + t * (CAST(y AS DOUBLE) - mu1) / e
        |      - (1 - t) * (CAST(y AS DOUBLE) - mu0) / (1 - e), 9)
        |      AS DECIMAL(24,9)) aipw,
        |    CAST(round(t * CAST(y AS DOUBLE) / e
        |      - (1 - t) * CAST(y AS DOUBLE) / (1 - e), 9) AS DECIMAL(24,9)) ipw
        |  FROM ev JOIN eh USING (x) JOIN mu USING (x))
        |SELECT count(*) AS n, sum(t)::BIGINT AS n_treat,
        |  round(CAST(sum(CASE WHEN t = 1 THEN y END) AS DOUBLE) / sum(t)
        |    - CAST(sum(CASE WHEN t = 0 THEN y END) AS DOUBLE) / sum(1 - t), 6)
        |    AS naive_diff,
        |  round(CAST(sum(ipw) AS DOUBLE) / count(*), 6) AS ipw_ate,
        |  round(CAST(sum(aipw) AS DOUBLE) / count(*), 6) AS aipw_ate
        |FROM rows_""".stripMargin),
    Query("q447_als_step", q447AlsStep,
      """WITH ratings AS (SELECT o_custkey c, l_partkey p,
        |    max(CAST(l_quantity AS BIGINT)) r
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY o_custkey, l_partkey),
        |rq AS (SELECT c, p, r,
        |    CAST(CAST(('0x' || substr(md5('als1|' || p::VARCHAR), 1, 15))::BIGINT
        |      % 1000 - 500 AS DECIMAL(10,0)) * CAST(0.001 AS DECIMAL(4,3))
        |      AS DECIMAL(10,3)) q1,
        |    CAST(CAST(('0x' || substr(md5('als2|' || p::VARCHAR), 1, 15))::BIGINT
        |      % 1000 - 500 AS DECIMAL(10,0)) * CAST(0.001 AS DECIMAL(4,3))
        |      AS DECIMAL(10,3)) q2
        |  FROM ratings),
        |norm_ AS (SELECT c,
        |    CAST(sum(CAST(q1 * q1 AS DECIMAL(20,6))) + CAST(0.1 AS DECIMAL(10,6))
        |      AS DECIMAL(12,6)) a11,
        |    CAST(sum(CAST(q1 * q2 AS DECIMAL(20,6))) AS DECIMAL(12,6)) a12,
        |    CAST(sum(CAST(q2 * q2 AS DECIMAL(20,6))) + CAST(0.1 AS DECIMAL(10,6))
        |      AS DECIMAL(12,6)) a22,
        |    CAST(sum(CAST(r * q1 AS DECIMAL(20,3))) AS DECIMAL(12,3)) b1,
        |    CAST(sum(CAST(r * q2 AS DECIMAL(20,3))) AS DECIMAL(12,3)) b2
        |  FROM rq GROUP BY c),
        |sol AS (SELECT c,
        |    CAST(round(CAST(a22 * b1 - a12 * b2 AS DOUBLE) /
        |      CAST(CAST(a11 * a22 - a12 * a12 AS DECIMAL(38,12)) AS DOUBLE), 9)
        |      AS DECIMAL(24,9)) u1,
        |    CAST(round(CAST(a11 * b2 - a12 * b1 AS DOUBLE) /
        |      CAST(CAST(a11 * a22 - a12 * a12 AS DECIMAL(38,12)) AS DOUBLE), 9)
        |      AS DECIMAL(24,9)) u2
        |  FROM norm_),
        |resid AS (SELECT rq.c, r,
        |    round(r - CAST(u1 * q1 + u2 * q2 AS DECIMAL(30,12)), 9) e,
        |    CAST(r * r AS DECIMAL(20,0)) r2
        |  FROM rq JOIN sol ON rq.c = sol.c)
        |SELECT c % 4 AS cohort, count(*) AS n_ratings,
        |  count(DISTINCT c)::BIGINT AS n_users,
        |  round(sqrt(CAST(sum(r2) AS DOUBLE) / count(*)), 6) AS rmse_before,
        |  round(sqrt(CAST(sum(CAST(e * e AS DECIMAL(30,18))) AS DOUBLE)
        |    / count(*)), 6) AS rmse_after
        |FROM resid GROUP BY cohort ORDER BY cohort""".stripMargin),
    Query("q448_did_cluster", q448DidCluster,
      """WITH ev0 AS (SELECT user_id, ts,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) y FROM events),
        |mid AS (SELECT (epoch_ms(min(ts)) + epoch_ms(max(ts))) // 2 m FROM ev0),
        |ev AS (SELECT user_id, y, (user_id % 2)::INT arm,
        |    CASE WHEN epoch_us(ts) > (SELECT m FROM mid) * 1000
        |      THEN 1 ELSE 0 END post FROM ev0),
        |cells AS (SELECT arm, post, count(*) nc,
        |    CAST(round(CAST(sum(y) AS DOUBLE) / count(*), 9) AS DECIMAL(24,9)) m
        |  FROM ev GROUP BY arm, post),
        |us AS (SELECT user_id, ev.arm, ev.post,
        |    sum(CAST(y - m AS DECIMAL(30,9))) su, max(nc) nc
        |  FROM ev JOIN cells ON ev.arm = cells.arm AND ev.post = cells.post
        |  GROUP BY user_id, ev.arm, ev.post),
        |wu AS (SELECT user_id, arm,
        |    CAST(round(sum(CASE WHEN post = 1 THEN CAST(su AS DOUBLE) / nc
        |      ELSE -CAST(su AS DOUBLE) / nc END), 9) AS DECIMAL(24,9)) w
        |  FROM us GROUP BY user_id, arm),
        |va AS (SELECT arm, sum(CAST(w * w AS DECIMAL(38,18))) v,
        |    count(DISTINCT user_id) nu FROM wu GROUP BY arm),
        |mw AS (SELECT
        |    max(CASE WHEN arm = 1 AND post = 1 THEN m END) m1p,
        |    max(CASE WHEN arm = 1 AND post = 0 THEN m END) m1r,
        |    max(CASE WHEN arm = 0 AND post = 1 THEN m END) m0p,
        |    max(CASE WHEN arm = 0 AND post = 0 THEN m END) m0r
        |  FROM cells),
        |vw AS (SELECT sum(v) vtot,
        |    sum(CASE WHEN arm = 1 THEN nu END)::BIGINT n_users_t,
        |    sum(CASE WHEN arm = 0 THEN nu END)::BIGINT n_users_c FROM va)
        |SELECT round(CAST(m1p - m1r - (m0p - m0r) AS DOUBLE), 6) AS did,
        |  round(sqrt(CAST(vtot AS DOUBLE)), 6) AS se_cluster,
        |  round(CAST(m1p - m1r - (m0p - m0r) AS DOUBLE)
        |    / sqrt(CAST(vtot AS DOUBLE)), 6) AS t_stat,
        |  n_users_t, n_users_c
        |FROM mw, vw""".stripMargin),
    Query("q449_msprt", q449Msprt,
      """WITH ev AS (SELECT (user_id % 2)::INT arm,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END conv,
        |    least(CAST(ceil(day(ts) / 6.0) AS INT), 5) look FROM events),
        |bl AS (SELECT look, arm, count(*) n, sum(conv) cv FROM ev GROUP BY look, arm),
        |cum AS (SELECT look, arm,
        |    sum(n) OVER (PARTITION BY arm ORDER BY look
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cn,
        |    sum(cv) OVER (PARTITION BY arm ORDER BY look
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ccv
        |  FROM bl),
        |wide AS (SELECT look,
        |    max(CASE WHEN arm = 0 THEN cn END) n0,
        |    max(CASE WHEN arm = 0 THEN ccv END) c0,
        |    max(CASE WHEN arm = 1 THEN cn END) n1,
        |    max(CASE WHEN arm = 1 THEN ccv END) c1
        |  FROM cum GROUP BY look),
        |lam AS (SELECT look, n0, c0, n1, c1,
        |    CAST(round(sqrt(v / (v + 1e-4)) *
        |      exp(dlt * dlt * 1e-4 / (2.0 * v * (v + 1e-4))), 9) AS DECIMAL(24,9))
        |      lambda
        |  FROM (SELECT *,
        |      CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
        |        * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)) v,
        |      CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |        - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) dlt
        |    FROM wide))
        |SELECT look, n0::BIGINT n0, c0::BIGINT c0, n1::BIGINT n1, c1::BIGINT c1,
        |  round(CAST(lambda AS DOUBLE), 6) AS lambda,
        |  round(min(least(1.0, 1.0 / CAST(lambda AS DOUBLE)))
        |    OVER (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS p_av
        |FROM lam ORDER BY look""".stripMargin),
    Query("q450_ransac", q450Ransac,
      """WITH ev AS (SELECT user_id, event_type,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) v FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |pts AS (SELECT user_id,
        |    CAST(round(CAST(sum(CASE WHEN event_type = 'click' THEN v END)
        |      AS DOUBLE) / sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END), 9)
        |      AS DECIMAL(24,9)) x,
        |    CAST(round(CAST(sum(CASE WHEN event_type = 'purchase' THEN v END)
        |      AS DOUBLE) / sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END), 9)
        |      AS DECIMAL(24,9)) y
        |  FROM ev GROUP BY user_id
        |  HAVING sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
        |    AND sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0),
        |seeds AS (SELECT user_id, x, y,
        |    row_number() OVER (ORDER BY
        |      ('0x' || substr(md5('rs|' || user_id::VARCHAR), 1, 15))::BIGINT ASC,
        |      user_id ASC) rk
        |  FROM pts QUALIFY rk <= 16),
        |cand AS (SELECT a.cid,
        |    round(CAST(b.yb - a.ya AS DOUBLE) / CAST(b.xb - a.xa AS DOUBLE), 9) slope,
        |    round(CAST(a.ya AS DOUBLE) -
        |      round(CAST(b.yb - a.ya AS DOUBLE) / CAST(b.xb - a.xa AS DOUBLE), 9)
        |      * CAST(a.xa AS DOUBLE), 9) icept
        |  FROM (SELECT (rk // 2 + 1)::INT cid, x xa, y ya FROM seeds WHERE rk % 2 = 1) a
        |  JOIN (SELECT (rk // 2)::INT cid, x xb, y yb FROM seeds WHERE rk % 2 = 0) b
        |    USING (cid)
        |  WHERE a.xa <> b.xb),
        |sc AS (SELECT p.user_id, p.x, p.y, c.cid,
        |    abs(CAST(p.y AS DOUBLE) - (c.icept + c.slope * CAST(p.x AS DOUBLE)))
        |      <= 5.0 inlier
        |  FROM pts p CROSS JOIN cand c),
        |best AS (SELECT cid, sum(CASE WHEN inlier THEN 1 ELSE 0 END) n_inliers
        |  FROM sc GROUP BY cid ORDER BY n_inliers DESC, cid ASC LIMIT 1),
        |fitr AS (SELECT sc.* FROM sc JOIN best USING (cid) WHERE inlier),
        |mom AS (SELECT count(*) n, sum(x) sx, sum(y) sy,
        |    sum(CAST(x * x AS DECIMAL(38,18))) sxx,
        |    sum(CAST(x * y AS DECIMAL(38,18))) sxy,
        |    max(cid) cand_id, max(n_inliers) n_inliers
        |  FROM fitr JOIN best USING (cid))
        |SELECT (SELECT count(*) FROM pts) AS n_points, cand_id, n_inliers::BIGINT
        |    AS n_inliers,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS refit_slope,
        |  round((CAST(sy AS DOUBLE) -
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS refit_icept
        |FROM mom""".stripMargin))
}
