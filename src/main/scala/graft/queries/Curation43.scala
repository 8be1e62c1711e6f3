package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 13: estimation depth — random-effects meta-analysis,
  * overdispersion / negative-binomial moment fits, Bloom-filter sizing
  * with an empirical false-positive simulation, AR(2) via Yule–Walker,
  * and importance-weight health (effective sample size + Hill tail
  * index).
  */
object Curation43 {

  /** q376: DerSimonian–Laird random-effects meta-analysis of the
    * per-nation treatment effect (order totals, arm = custkey parity):
    * per-stratum Welch effects and variances in one keyed pass, then
    * Q, τ², I², and both fixed- and random-effects pooled estimates on
    * the bounded nation domain with decimal-summed weight moments —
    * the standard way to combine per-market experiment readouts when
    * effects genuinely vary by market.
    */
  private val q376MetaAnalysisDl: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").as("nk")), "o_custkey")
      .select(col("nk"), (col("o_custkey") % 2).as("arm"),
        col("o_totalprice").as("y"))
    val mom = o.groupBy("nk", "arm").agg(count(lit(1)).as("n"),
      sum(dec(col("y"))).cast(DoubleType).as("sy"),
      sum(dec(col("y") * col("y"))).cast(DoubleType).as("syy"))
    val strata = mom.groupBy("nk").agg(
      max(when(col("arm") === 0, col("n"))).as("n0"),
      max(when(col("arm") === 1, col("n"))).as("n1"),
      max(when(col("arm") === 0, col("sy"))).as("sy0"),
      max(when(col("arm") === 1, col("sy"))).as("sy1"),
      max(when(col("arm") === 0, col("syy"))).as("syy0"),
      max(when(col("arm") === 1, col("syy"))).as("syy1"))
      .select(col("nk"),
        (col("sy1") / col("n1").cast(DoubleType) -
          col("sy0") / col("n0").cast(DoubleType)).as("di"),
        (((col("syy1") - col("sy1") * col("sy1") / col("n1").cast(DoubleType)) /
          (col("n1") - 1).cast(DoubleType)) / col("n1").cast(DoubleType) +
         ((col("syy0") - col("sy0") * col("sy0") / col("n0").cast(DoubleType)) /
          (col("n0") - 1).cast(DoubleType)) / col("n0").cast(DoubleType)).as("vi"))
    val fx = strata.agg(count(lit(1)).as("k"),
      sum(dec(lit(1.0) / col("vi"))).cast(DoubleType).as("sw"),
      sum(dec(col("di") / col("vi"))).cast(DoubleType).as("swd"),
      sum(dec((lit(1.0) / col("vi")) * (lit(1.0) / col("vi"))))
        .cast(DoubleType).as("sww"),
      sum(dec(col("di") * col("di") / col("vi"))).cast(DoubleType).as("swdd"))
      .select(col("k"), col("sw"), col("sww"),
        (col("swd") / col("sw")).as("dfix"),
        (col("swdd") - col("swd") * col("swd") / col("sw")).as("q"))
    val tau = fx.select(col("k"), col("sw"), col("sww"), col("dfix"), col("q"),
      greatest(lit(0.0), (col("q") - (col("k") - 1).cast(DoubleType)) /
        (col("sw") - col("sww") / col("sw"))).as("tau2"),
      greatest(lit(0.0), (col("q") - (col("k") - 1).cast(DoubleType)) / col("q"))
        .as("i2"))
    val re = strata.crossJoin(broadcast(tau))
      .select(col("di"), (lit(1.0) / (col("vi") + col("tau2"))).as("wr"),
        col("k"), col("q"), col("i2"), col("tau2"), col("dfix"))
      .groupBy("k", "q", "i2", "tau2", "dfix")
      .agg((sum(dec(col("wr") * col("di"))).cast(DoubleType) /
        sum(dec(col("wr"))).cast(DoubleType)).as("drand"))
    re.select(col("k"), round(col("q"), 6).as("q_stat"),
      round(col("i2"), 6).as("i_sq"), round(col("tau2"), 6).as("tau_sq"),
      round(col("dfix"), 6).as("effect_fixed"),
      round(col("drand"), 6).as("effect_random"))
  }

  /** q377: overdispersion audit + negative-binomial moment fit of
    * per-user event counts by type — the burstiness model behind
    * rate-limiting and anomaly thresholds. Two keyed passes (per-user
    * counts, then per-type moments); dispersion v/m and the NB moment
    * parameters r = m²/(v−m), p = m/v are closed forms on exact
    * decimal moments, with the equidispersed guard emitting NULL-free
    * sentinels.
    */
  private val q377OverdispersionNb: Q = (s, d) => {
    val pu = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("k"))
    val mom = pu.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(col("k")).as("sk"), sum(col("k") * col("k")).as("skk"))
      .select(col("event_type"), col("n"),
        (col("sk").cast(DoubleType) / col("n").cast(DoubleType)).as("m"),
        ((col("skk").cast(DoubleType) -
          col("sk").cast(DoubleType) * col("sk").cast(DoubleType) /
            col("n").cast(DoubleType)) / (col("n") - 1).cast(DoubleType)).as("v"))
    mom.select(col("event_type"), col("n"), round(col("m"), 6).as("mean_k"),
        round(col("v"), 6).as("var_k"),
        round(col("v") / col("m"), 6).as("dispersion"),
        round(when(col("v") > col("m"),
          col("m") * col("m") / (col("v") - col("m"))).otherwise(lit(-1.0)), 6)
          .as("nb_r"),
        round(when(col("v") > col("m"), col("m") / col("v")).otherwise(lit(-1.0)), 6)
          .as("nb_p"))
      .orderBy("event_type")
  }

  /** q378: Bloom-filter capacity planning with an empirical
    * false-positive simulation — size m = 16384 bits, k = 5 seeded
    * hashes over the customer-key member set, then probe with a
    * disjoint synthetic key population and MEASURE the FPR against the
    * (1 − e^{−kn/m})^k prediction. Set bits and probe hits are
    * hash equi-joins (members×k and probes×k rows, linear both);
    * a probe false-positives only when all k of its positions are set
    * (count equality, exact integers).
    */
  private val q378BloomPlanning: Q = (s, d) => {
    val m = 16384L
    val seeds = array((1 to 5).map(lit(_)): _*)
    val members = Tables.customer(s, d).select(col("c_custkey"))
    val bits = members
      .select(col("c_custkey"), explode(seeds).as("sd"))
      .select((mdHash(concat_ws("|", lit("bf"), col("sd"), col("c_custkey"))) % m)
        .as("bit")).distinct().persist()
    val nBits = bits.agg(count(lit(1)).as("n_set_bits"))
    val nMem = members.agg(count(lit(1)).as("n_members"))
    val probes = Tables.part(s, d).select(concat(lit("probe|"), col("p_partkey")).as("pk"))
    val probeHits = probes
      .select(col("pk"), explode(seeds).as("sd"))
      .select(col("pk"),
        (mdHash(concat_ws("|", lit("bf"), col("sd"), col("pk"))) % m).as("bit"))
      .join(bits, Seq("bit"), "left_semi")
      .groupBy("pk").agg(count(lit(1)).as("hits"))
    val fp = probes.join(probeHits, Seq("pk"), "left")
      .agg(count(lit(1)).as("n_probes"),
        sum(when(coalesce(col("hits"), lit(0L)) === 5, 1L).otherwise(0L)).as("n_fp"))
    val out = fp.crossJoin(broadcast(nBits)).crossJoin(broadcast(nMem))
      .select(col("n_members"), lit(m).as("m_bits"), lit(5L).as("k_hashes"),
        col("n_set_bits"), col("n_probes"), col("n_fp"),
        round(col("n_fp").cast(DoubleType) / col("n_probes").cast(DoubleType), 6)
          .as("fpr_measured"),
        round(pow(lit(1.0) - exp((lit(-5.0) * col("n_members").cast(DoubleType)) /
          lit(m.toDouble)), 5.0), 6).as("fpr_predicted"))
    graft.operators.Materialize.spillRelease(out, bits)
  }

  /** q379: AR(2) fit by Yule–Walker on the daily purchase-count series
    * — lag-1/lag-2 autocorrelations from mean-centered products over
    * the bounded day domain (lag frames via window functions), the
    * closed-form φ₁, φ₂, and the one-step forecast. The corpus reduces
    * to one row per day in a single keyed pass; everything after is
    * exact bounded-domain arithmetic.
    */
  private val q379Ar2YuleWalker: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.orderBy("day") // bounded day domain
    val lagged = daily.select(col("day"), col("y").cast(DoubleType).as("y"),
      lag(col("y"), 1).over(w).cast(DoubleType).as("y1"),
      lag(col("y"), 2).over(w).cast(DoubleType).as("y2"))
    val mu = lagged.agg(count(lit(1)).as("n"),
      (sum(dec(col("y"))).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("mu"))
    val cent = lagged.crossJoin(broadcast(mu))
    val acf = cent.agg(max(col("n")).as("n"), max(col("mu")).as("mu"),
      sum(dec((col("y") - col("mu")) * (col("y") - col("mu"))))
        .cast(DoubleType).as("c0"),
      sum(dec(when(col("y1").isNotNull,
        (col("y") - col("mu")) * (col("y1") - col("mu"))).otherwise(lit(0.0))))
        .cast(DoubleType).as("c1"),
      sum(dec(when(col("y2").isNotNull,
        (col("y") - col("mu")) * (col("y2") - col("mu"))).otherwise(lit(0.0))))
        .cast(DoubleType).as("c2"))
    val fit = acf.select(col("n"), col("mu"),
      (col("c1") / col("c0")).as("r1"), (col("c2") / col("c0")).as("r2"))
      .select(col("n"), col("mu"), col("r1"), col("r2"),
        ((col("r1") * (lit(1.0) - col("r2"))) /
          (lit(1.0) - col("r1") * col("r1"))).as("phi1"),
        ((col("r2") - col("r1") * col("r1")) /
          (lit(1.0) - col("r1") * col("r1"))).as("phi2"))
    val tail = lagged.orderBy(col("day").desc).limit(1)
      .select(col("y").as("yn"), col("y1").as("yn1"))
    fit.crossJoin(broadcast(tail))
      .select(col("n"), round(col("r1"), 6).as("r1"), round(col("r2"), 6).as("r2"),
        round(col("phi1"), 6).as("phi1"), round(col("phi2"), 6).as("phi2"),
        round(col("mu") + col("phi1") * (col("yn") - col("mu")) +
          col("phi2") * (col("yn1") - col("mu")), 6).as("forecast_1"))
  }

  /** q380: importance-weight health for the q113-style source
    * reweighting — effective sample size ESS = (Σw)²/Σw² and the Hill
    * tail-index estimate over the top decile of weights (the PSIS
    * diagnostic: k̂ ≳ 0.7 means the reweighted estimate is unreliable).
    * Weights are deterministic per-document quality/length ratios; the
    * tail threshold is a global percentile (broadcast 1-row frame) and
    * the Hill mean is a decimal sum over the tail only.
    */
  private val q380ImportanceEss: Q = (s, d) => {
    val w = Tables.documents(s, d)
      .select(col("doc_id"),
        ((col("n_chars") % 97 + 3).cast(DoubleType) / 50.0).as("w"))
    val ess = w.agg(count(lit(1)).as("n"),
      sum(dec(col("w"))).cast(DoubleType).as("sw"),
      sum(dec(col("w") * col("w"))).cast(DoubleType).as("sww"))
    val th = w.agg(percentile(col("w"), lit(0.9)).as("wt"))
    val hill = w.crossJoin(broadcast(th)).filter(col("w") > col("wt"))
      .agg(count(lit(1)).as("n_tail"),
        (sum(dec(ln(col("w") / col("wt")))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("khat"))
    ess.crossJoin(broadcast(hill))
      .select(col("n"),
        round(col("sw") * col("sw") / col("sww"), 6).as("ess"),
        round(col("sw") * col("sw") / col("sww") / col("n").cast(DoubleType), 6)
          .as("ess_frac"),
        col("n_tail"), round(col("khat"), 6).as("hill_khat"))
  }

  val queries: Seq[Query] = Seq(
    Query("q376_meta_analysis_dl", q376MetaAnalysisDl,
      """WITH o AS (SELECT c.c_nationkey nk, o.o_custkey % 2 arm, o.o_totalprice y
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |mom AS (SELECT nk, arm, count(*) n,
        |    CAST(sum(CAST(y AS DECIMAL(38,15))) AS DOUBLE) sy,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,15))) AS DOUBLE) syy
        |  FROM o GROUP BY 1, 2),
        |strata AS (SELECT nk,
        |    max(CASE WHEN arm = 0 THEN n END) n0, max(CASE WHEN arm = 1 THEN n END) n1,
        |    max(CASE WHEN arm = 0 THEN sy END) sy0, max(CASE WHEN arm = 1 THEN sy END) sy1,
        |    max(CASE WHEN arm = 0 THEN syy END) syy0,
        |    max(CASE WHEN arm = 1 THEN syy END) syy1
        |  FROM mom GROUP BY nk),
        |eff AS (SELECT nk, sy1 / n1::DOUBLE - sy0 / n0::DOUBLE di,
        |    ((syy1 - sy1 * sy1 / n1::DOUBLE) / (n1 - 1)::DOUBLE) / n1::DOUBLE +
        |    ((syy0 - sy0 * sy0 / n0::DOUBLE) / (n0 - 1)::DOUBLE) / n0::DOUBLE vi
        |  FROM strata),
        |fx AS (SELECT count(*) k,
        |    CAST(sum(CAST(1.0 / vi AS DECIMAL(38,15))) AS DOUBLE) sw,
        |    CAST(sum(CAST(di / vi AS DECIMAL(38,15))) AS DOUBLE) swd,
        |    CAST(sum(CAST((1.0 / vi) * (1.0 / vi) AS DECIMAL(38,15))) AS DOUBLE) sww,
        |    CAST(sum(CAST(di * di / vi AS DECIMAL(38,15))) AS DOUBLE) swdd
        |  FROM eff),
        |f2 AS (SELECT k, sw, sww, swd / sw dfix, swdd - swd * swd / sw q FROM fx),
        |tau AS (SELECT k, sw, sww, dfix, q,
        |    greatest(0.0, (q - (k - 1)::DOUBLE) / (sw - sww / sw)) tau2,
        |    greatest(0.0, (q - (k - 1)::DOUBLE) / q) i2 FROM f2),
        |re AS (SELECT k, q, i2, tau2, dfix,
        |    CAST(sum(CAST((1.0 / (vi + tau2)) * di AS DECIMAL(38,15))) AS DOUBLE) /
        |    CAST(sum(CAST(1.0 / (vi + tau2) AS DECIMAL(38,15))) AS DOUBLE) drand
        |  FROM eff CROSS JOIN tau GROUP BY k, q, i2, tau2, dfix)
        |SELECT k::BIGINT AS k, round(q, 6) AS q_stat, round(i2, 6) AS i_sq,
        |  round(tau2, 6) AS tau_sq, round(dfix, 6) AS effect_fixed,
        |  round(drand, 6) AS effect_random
        |FROM re""".stripMargin),
    Query("q377_overdispersion_nb", q377OverdispersionNb,
      """WITH pu AS (SELECT event_type, user_id, count(*) k
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT event_type, count(*) n, sum(k) sk, sum(k * k) skk
        |  FROM pu GROUP BY event_type),
        |st AS (SELECT event_type, n, sk::DOUBLE / n::DOUBLE m,
        |    (skk::DOUBLE - sk::DOUBLE * sk::DOUBLE / n::DOUBLE) / (n - 1)::DOUBLE v
        |  FROM mom)
        |SELECT event_type, n::BIGINT AS n, round(m, 6) AS mean_k,
        |  round(v, 6) AS var_k, round(v / m, 6) AS dispersion,
        |  round(CASE WHEN v > m THEN m * m / (v - m) ELSE -1.0 END, 6) AS nb_r,
        |  round(CASE WHEN v > m THEN m / v ELSE -1.0 END, 6) AS nb_p
        |FROM st ORDER BY event_type""".stripMargin),
    Query("q378_bloom_planning", q378BloomPlanning,
      s"""WITH seeds AS (SELECT unnest([1, 2, 3, 4, 5]) sd),
         |members AS (SELECT c_custkey FROM customer),
         |bits AS (SELECT DISTINCT
         |    ${mdHashSql("'bf|' || sd || '|' || c_custkey")} % 16384 bpos
         |  FROM members CROSS JOIN seeds),
         |nbits AS (SELECT count(*) n_set_bits FROM bits),
         |nmem AS (SELECT count(*) n_members FROM members),
         |probes AS (SELECT 'probe|' || p_partkey pk FROM part),
         |ph AS (SELECT pk, count(*) hits FROM (SELECT p.pk,
         |      ${mdHashSql("'bf|' || sd || '|' || pk")} % 16384 bpos
         |    FROM probes p CROSS JOIN seeds) x
         |  WHERE bpos IN (SELECT bpos FROM bits) GROUP BY pk),
         |fp AS (SELECT count(*) n_probes,
         |    sum(CASE WHEN coalesce(ph.hits, 0) = 5 THEN 1 ELSE 0 END) n_fp
         |  FROM probes LEFT JOIN ph USING (pk))
         |SELECT n_members::BIGINT AS n_members, 16384::BIGINT AS m_bits,
         |  5::BIGINT AS k_hashes, n_set_bits::BIGINT AS n_set_bits,
         |  n_probes::BIGINT AS n_probes, n_fp::BIGINT AS n_fp,
         |  round(n_fp::DOUBLE / n_probes::DOUBLE, 6) AS fpr_measured,
         |  round(pow(1.0 - exp((-5.0 * n_members::DOUBLE) / 16384.0), 5.0), 6)
         |    AS fpr_predicted
         |FROM fp CROSS JOIN nbits CROSS JOIN nmem""".stripMargin),
    Query("q379_ar2_yule_walker", q379Ar2YuleWalker,
      """WITH daily AS (SELECT CAST(ts AS DATE) dy, count(*) y FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |lagged AS (SELECT dy, y::DOUBLE y,
        |    (lag(y) OVER (ORDER BY dy))::DOUBLE y1,
        |    (lag(y, 2) OVER (ORDER BY dy))::DOUBLE y2
        |  FROM daily),
        |mu AS (SELECT count(*) n,
        |    CAST(sum(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / count(*)::DOUBLE mu
        |  FROM lagged),
        |acf AS (SELECT max(n) n, max(mu) mu,
        |    CAST(sum(CAST((y - mu) * (y - mu) AS DECIMAL(38,15))) AS DOUBLE) c0,
        |    CAST(sum(CAST(CASE WHEN y1 IS NOT NULL
        |      THEN (y - mu) * (y1 - mu) ELSE 0.0 END AS DECIMAL(38,15)))
        |      AS DOUBLE) c1,
        |    CAST(sum(CAST(CASE WHEN y2 IS NOT NULL
        |      THEN (y - mu) * (y2 - mu) ELSE 0.0 END AS DECIMAL(38,15)))
        |      AS DOUBLE) c2
        |  FROM lagged CROSS JOIN mu),
        |fit AS (SELECT n, mu, c1 / c0 r1, c2 / c0 r2,
        |    ((c1 / c0) * (1.0 - c2 / c0)) / (1.0 - (c1 / c0) * (c1 / c0)) phi1,
        |    ((c2 / c0) - (c1 / c0) * (c1 / c0)) /
        |      (1.0 - (c1 / c0) * (c1 / c0)) phi2
        |  FROM acf),
        |tail AS (SELECT y yn, y1 yn1 FROM lagged ORDER BY dy DESC LIMIT 1)
        |SELECT n::BIGINT AS n, round(r1, 6) AS r1, round(r2, 6) AS r2,
        |  round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
        |  round(mu + phi1 * (yn - mu) + phi2 * (yn1 - mu), 6) AS forecast_1
        |FROM fit CROSS JOIN tail""".stripMargin),
    Query("q380_importance_ess", q380ImportanceEss,
      """WITH w AS (SELECT doc_id, (n_chars % 97 + 3)::DOUBLE / 50.0 w
        |  FROM documents),
        |ess AS (SELECT count(*) n,
        |    CAST(sum(CAST(w AS DECIMAL(38,15))) AS DOUBLE) sw,
        |    CAST(sum(CAST(w * w AS DECIMAL(38,15))) AS DOUBLE) sww
        |  FROM w),
        |th AS (SELECT quantile_cont(w, 0.9) wt FROM w),
        |hill AS (SELECT count(*) n_tail,
        |    CAST(sum(CAST(ln(w / wt) AS DECIMAL(38,15))) AS DOUBLE)
        |      / count(*)::DOUBLE khat
        |  FROM w CROSS JOIN th WHERE w > wt)
        |SELECT n::BIGINT AS n, round(sw * sw / sww, 6) AS ess,
        |  round(sw * sw / sww / n::DOUBLE, 6) AS ess_frac,
        |  n_tail::BIGINT AS n_tail, round(khat, 6) AS hill_khat
        |FROM ess CROSS JOIN hill""".stripMargin))
}
