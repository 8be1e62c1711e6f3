package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 19: sampling through joins, experiment planning, and
  * scored-feature engineering — universe (join-key) sampling vs
  * independent row sampling, power/MDE analysis, empirical-Bayes rate
  * shrinkage, weight-of-evidence binning with isotonic smoothing, and
  * demographic-parity threshold search.
  */
object Curation49 {

  /** q406: universe sampling through a join — the reason engines hash
    * the JOIN KEY: sampling both sides by the same seeded key hash at
    * rate p keeps the joined sample at rate p (unbiased, scale 1/p),
    * while independent row samples intersect at p² and blow up the
    * variance. Both estimators in one query against the exact decimal
    * truth: coordinated key-hash filters (pushed to both scans), one
    * join each, 1/p and 1/p² inflation.
    */
  private val q406UniverseJoinSample: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"))
    val o = Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"))
    def u(c: org.apache.spark.sql.Column, seed: String) =
      mdHash(concat_ws("|", lit(seed), c)).cast(DoubleType) /
        lit(1152921504606846976.0)
    val truth = li.join(o, "l_orderkey")
      .agg(sum(dec(col("l_extendedprice"))).cast(DoubleType).as("t"))
    val uEst = li.filter(u(col("l_orderkey"), "uk") < 0.05)
      .join(o.filter(u(col("l_orderkey"), "uk") < 0.05), "l_orderkey")
      .agg((sum(dec(col("l_extendedprice"))).cast(DoubleType) / 0.05).as("ue"))
    val iEst = li.filter(u(col("l_orderkey"), "ra") < 0.05)
      .join(o.filter(u(col("l_orderkey"), "rb") < 0.05), "l_orderkey")
      .agg((sum(dec(col("l_extendedprice"))).cast(DoubleType) / 0.0025).as("ie"))
    // totals reported in millions: 6-dp rounding of a ~1e9 double is
    // past the 2^-52 representability floor, where the two engines'
    // round() implementations legitimately disagree
    truth.crossJoin(broadcast(uEst)).crossJoin(broadcast(iEst))
      .select(round(col("t") / 1000000.0, 6).as("true_total_m"),
        round(col("ue") / 1000000.0, 6).as("universe_est_m"),
        round((col("ue") - col("t")) / col("t"), 6).as("universe_rel_err"),
        round(col("ie") / 1000000.0, 6).as("indep_est_m"),
        round((col("ie") - col("t")) / col("t"), 6).as("indep_rel_err"))
  }

  /** q407: power analysis / minimum-detectable-effect readout — the
    * planning arithmetic every experiment review asks for: pooled
    * conversion variance from the data, the required per-arm n for an
    * absolute 2-point lift at α=.05 (two-sided) and 80% power (fixed
    * z literals so both engines compute bit-identically), and whether
    * the current arms are powered. One keyed pass; closed form after.
    */
  private val q407PowerAnalysis: Q = (s, d) => {
    val u = Tables.events(s, d).groupBy((col("user_id") % 2).as("arm"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val mom = u.agg(count(lit(1)).as("n"), sum(col("y")).as("c"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
    mom.select(col("n0"), col("n1"),
        (col("c").cast(DoubleType) / col("n").cast(DoubleType)).as("p"))
      .select(col("n0"), col("n1"), round(col("p"), 6).as("p_pool"),
        ceil(lit(2.0) * (lit(1.959964) + lit(0.841621)) *
          (lit(1.959964) + lit(0.841621)) * col("p") * (lit(1.0) - col("p")) /
          (lit(0.02) * lit(0.02))).cast("long").as("n_required_per_arm"))
      .select(col("n0"), col("n1"), col("p_pool"), col("n_required_per_arm"),
        (least(col("n0"), col("n1")) >= col("n_required_per_arm")).as("is_powered"))
  }

  /** q408: empirical-Bayes shrinkage of per-supplier late-shipment
    * rates — the small-sample ranking fix: fit Beta(α, β) to the rate
    * distribution by method of moments (two keyed passes, decimal
    * moments), then shrink each supplier toward the prior by its own
    * evidence: (x+α)/(n+α+β). Output: top-10 suppliers by shrunken
    * rate, with the raw rate alongside so the de-noising is visible.
    */
  private val q408EbShrinkage: Q = (s, d) => {
    val late = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate")), "l_orderkey")
      .select(col("l_suppkey"),
        when(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) > 90, 1L)
          .otherwise(0L).as("lt"))
    val per = late.groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"), sum(col("lt")).as("x"))
      .select(col("l_suppkey"), col("n"), col("x"),
        (col("x").cast(DoubleType) / col("n").cast(DoubleType)).as("r"))
    val mom = per.agg(count(lit(1)).as("k"),
      sum(dec(col("r"))).cast(DoubleType).as("sr"),
      sum(dec(col("r") * col("r"))).cast(DoubleType).as("srr"))
      .select((col("sr") / col("k").cast(DoubleType)).as("m"),
        ((col("srr") - col("sr") * col("sr") / col("k").cast(DoubleType)) /
          (col("k") - 1).cast(DoubleType)).as("v"))
    val prior = mom.select(col("m"), col("v"),
      (col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0)).as("s"))
      .select((col("m") * col("s")).as("alpha"),
        ((lit(1.0) - col("m")) * col("s")).as("beta"))
    per.crossJoin(broadcast(prior))
      .select(col("l_suppkey").as("suppkey"), col("n"),
        round(col("r"), 6).as("raw_rate"),
        round((col("x").cast(DoubleType) + col("alpha")) /
          (col("n").cast(DoubleType) + col("alpha") + col("beta")), 6)
          .as("shrunken_rate"))
      .orderBy(col("shrunken_rate").desc, col("suppkey")).limit(10)
  }

  /** q409: weight-of-evidence binning with isotonic smoothing — the
    * credit-scoring feature transform: 20 equal-width value bins, per-
    * bin WOE = ln((pos share)/(neg share)), PAV-smoothed via the same
    * minimax closed form as q351 (`Curation38.isotonicFit` — WOE is a
    * monotone transform of the bin rate, so isotonic-on-rate gives
    * isotonic WOE), and the information value Σ(Δshare)·WOE that
    * decides whether the feature enters the scorecard at all.
    */
  private val q409WoeBinning: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("value"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val b = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val binned = ev.crossJoin(broadcast(b))
      .select(least(floor((col("value") - col("lo")) * 20 /
        (col("hi") - col("lo"))), lit(19)).cast("long").as("bin"), col("y"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val iso = Curation38.isotonicFit(binned)
      .select(col("bin"), col("iso_rate"))
    val tot = binned.agg(sum(col("pos")).as("tp"),
      sum(col("n") - col("pos")).as("tn"))
    binned.join(iso, Seq("bin")).crossJoin(broadcast(tot))
      .select(col("bin"), binned("n"),
        ((col("pos").cast(DoubleType) + 0.5) / col("tp").cast(DoubleType)).as("ps"),
        (((binned("n") - col("pos")).cast(DoubleType) + 0.5) /
          col("tn").cast(DoubleType)).as("ns"),
        greatest(least(col("iso_rate"), lit(0.999999)), lit(0.000001)).as("isoc"),
        col("tp"), col("tn"))
      .select(col("bin"), col("n"),
        round(ln(col("ps") / col("ns")), 6).as("woe_raw"),
        round(ln((col("isoc") / (lit(1.0) - col("isoc"))) /
          (col("tp").cast(DoubleType) / col("tn").cast(DoubleType))), 6)
          .as("woe_iso"),
        round((col("ps") - col("ns")) * ln(col("ps") / col("ns")) * 1000, 6)
          .as("iv_contrib_x1000"))
      .orderBy("bin")
  }

  /** q410: demographic-parity threshold search — pick per-group score
    * thresholds from the bounded 20-bin grid that minimize the
    * selection-rate gap subject to an overall ≥30% selection floor.
    * Group×bin selection rates come from cumulative sums on the
    * bounded grid; the 400-combination search is a bounded broadcast
    * cross with a deterministic argmin. The fairness-mitigation
    * counterpart of the q341 equalized-odds audit.
    */
  private val q410FairThresholds: Q = (s, d) => {
    val u = Tables.events(s, d).groupBy((col("user_id") % 2).as("g"), col("user_id"))
      .agg(count(lit(1)).as("sc"))
    val b = u.agg(min(col("sc")).as("lo"), max(col("sc")).as("hi"))
    val cells = u.crossJoin(broadcast(b))
      .select(col("g"), least(floor((col("sc") - col("lo")) * 20 /
        (col("hi") - col("lo"))), lit(19)).cast("long").as("bin"))
      .groupBy("g", "bin").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("g").orderBy(col("bin").desc)
    val sel = cells.select(col("g"), col("bin"), sum(col("n")).over(w).as("sel"),
        sum(col("n")).over(Window.partitionBy("g")).as("tot"))
      .select(col("g"), col("bin"),
        (col("sel").cast(DoubleType) / col("tot").cast(DoubleType)).as("rate"),
        col("sel"), col("tot"))
    val a = sel.filter(col("g") === 0).select(col("bin").as("ta"),
      col("rate").as("ra"), col("sel").as("sa"), col("tot").as("na"))
    val c = sel.filter(col("g") === 1).select(col("bin").as("tb"),
      col("rate").as("rb"), col("sel").as("sb"), col("tot").as("nb"))
    val combos = a.crossJoin(broadcast(c))
      .select(col("ta"), col("tb"), col("ra"), col("rb"),
        ((col("sa") + col("sb")).cast(DoubleType) /
          (col("na") + col("nb")).cast(DoubleType)).as("overall"),
        abs(col("ra") - col("rb")).as("gap"))
      .filter(col("overall") >= 0.3)
    combos.orderBy(col("gap"), col("ta"), col("tb")).limit(1)
      .select(col("ta").as("threshold_bin_g0"), col("tb").as("threshold_bin_g1"),
        round(col("ra"), 6).as("rate_g0"), round(col("rb"), 6).as("rate_g1"),
        round(col("gap"), 6).as("parity_gap"), round(col("overall"), 6).as("overall"))
  }

  val queries: Seq[Query] = Seq(
    Query("q406_universe_join_sample", q406UniverseJoinSample, {
      def u(c: String, seed: String) =
        s"${mdHashSql(s"'$seed|' || $c")}::DOUBLE / 1152921504606846976.0"
      s"""WITH li AS (SELECT l_orderkey, l_extendedprice FROM lineitem),
         |o AS (SELECT o_orderkey l_orderkey FROM orders),
         |truth AS (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(38,15)))
         |    AS DOUBLE) t
         |  FROM li JOIN o USING (l_orderkey)),
         |ue AS (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(38,15)))
         |    AS DOUBLE) / 0.05 ue
         |  FROM (SELECT * FROM li WHERE ${u("l_orderkey", "uk")} < 0.05) a
         |  JOIN (SELECT * FROM o WHERE ${u("l_orderkey", "uk")} < 0.05) b
         |  USING (l_orderkey)),
         |ie AS (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(38,15)))
         |    AS DOUBLE) / 0.0025 ie
         |  FROM (SELECT * FROM li WHERE ${u("l_orderkey", "ra")} < 0.05) a
         |  JOIN (SELECT * FROM o WHERE ${u("l_orderkey", "rb")} < 0.05) b
         |  USING (l_orderkey))
         |SELECT round(t / 1000000.0, 6) AS true_total_m,
         |  round(ue / 1000000.0, 6) AS universe_est_m,
         |  round((ue - t) / t, 6) AS universe_rel_err,
         |  round(ie / 1000000.0, 6) AS indep_est_m,
         |  round((ie - t) / t, 6) AS indep_rel_err
         |FROM truth CROSS JOIN ue CROSS JOIN ie""".stripMargin
    }),
    Query("q407_power_analysis", q407PowerAnalysis,
      """WITH u AS (SELECT user_id % 2 arm, user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT count(*) n, sum(y) c,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) n0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) n1
        |  FROM u),
        |st AS (SELECT n0, n1, c::DOUBLE / n::DOUBLE p FROM mom),
        |req AS (SELECT n0, n1, round(p, 6) p_pool,
        |    CAST(ceil(2.0 * (1.959964 + 0.841621) * (1.959964 + 0.841621) *
        |      p * (1.0 - p) / (0.02 * 0.02)) AS BIGINT) n_required_per_arm
        |  FROM st)
        |SELECT n0::BIGINT AS n0, n1::BIGINT AS n1, p_pool, n_required_per_arm,
        |  least(n0, n1) >= n_required_per_arm AS is_powered
        |FROM req""".stripMargin),
    Query("q408_eb_shrinkage", q408EbShrinkage,
      """WITH late AS (SELECT l.l_suppkey,
        |    CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) > 90 THEN 1 ELSE 0 END lt
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |per AS (SELECT l_suppkey, count(*) n, sum(lt) x,
        |    sum(lt)::DOUBLE / count(*)::DOUBLE r
        |  FROM late GROUP BY l_suppkey),
        |mom AS (SELECT count(*) k,
        |    CAST(sum(CAST(r AS DECIMAL(38,15))) AS DOUBLE) sr,
        |    CAST(sum(CAST(r * r AS DECIMAL(38,15))) AS DOUBLE) srr
        |  FROM per),
        |mv AS (SELECT sr / k::DOUBLE m,
        |    (srr - sr * sr / k::DOUBLE) / (k - 1)::DOUBLE v FROM mom),
        |prior AS (SELECT m * (m * (1.0 - m) / v - 1.0) alpha,
        |    (1.0 - m) * (m * (1.0 - m) / v - 1.0) beta FROM mv)
        |SELECT l_suppkey AS suppkey, n::BIGINT AS n, round(r, 6) AS raw_rate,
        |  round((x::DOUBLE + alpha) / (n::DOUBLE + alpha + beta), 6)
        |    AS shrunken_rate
        |FROM per CROSS JOIN prior
        |ORDER BY shrunken_rate DESC, suppkey LIMIT 10""".stripMargin),
    Query("q409_woe_binning", q409WoeBinning,
      """WITH ev AS (SELECT value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y FROM events),
        |b AS (SELECT min(value) lo, max(value) hi FROM ev),
        |binned AS (SELECT least(floor((value - lo) * 20 / (hi - lo)), 19)::BIGINT bin,
        |    count(*) n, sum(y) pos FROM ev CROSS JOIN b GROUP BY 1),
        |cum AS (SELECT bin, n, pos,
        |    sum(n) OVER (ORDER BY bin) cw, sum(pos) OVER (ORDER BY bin) cs,
        |    row_number() OVER (ORDER BY bin) r FROM binned),
        |jk AS (SELECT a.r j, b.r k,
        |    (b.cs - (a.cs - a.pos))::DOUBLE / (b.cw - (a.cw - a.n))::DOUBLE a
        |  FROM cum a JOIN cum b ON a.r <= b.r),
        |fit AS (SELECT i, max(mn) iso FROM (
        |    SELECT c.r i, jk.j, min(jk.a) mn FROM cum c
        |    JOIN jk ON jk.j <= c.r AND jk.k >= c.r GROUP BY c.r, jk.j)
        |  GROUP BY i),
        |iso AS (SELECT cum.bin, cum.n, cum.pos, fit.iso FROM cum
        |  JOIN fit ON cum.r = fit.i),
        |tot AS (SELECT sum(pos) tp, sum(n - pos) tn FROM binned),
        |adj AS (SELECT bin, n,
        |    (pos::DOUBLE + 0.5) / tp::DOUBLE ps,
        |    ((n - pos)::DOUBLE + 0.5) / tn::DOUBLE ns,
        |    greatest(least(round(iso, 6), 0.999999), 0.000001) isoc, tp, tn
        |  FROM iso CROSS JOIN tot)
        |SELECT bin, n::BIGINT AS n,
        |  round(ln(ps / ns), 6) AS woe_raw,
        |  round(ln((isoc / (1.0 - isoc)) / (tp::DOUBLE / tn::DOUBLE)), 6) AS woe_iso,
        |  round((ps - ns) * ln(ps / ns) * 1000, 6) AS iv_contrib_x1000
        |FROM adj ORDER BY bin""".stripMargin),
    Query("q410_fair_thresholds", q410FairThresholds,
      """WITH u AS (SELECT user_id % 2 g, user_id, count(*) sc
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(sc) lo, max(sc) hi FROM u),
        |cells AS (SELECT g,
        |    least(floor((sc - lo) * 20 / (hi - lo)), 19)::BIGINT bin, count(*) n
        |  FROM u CROSS JOIN b GROUP BY 1, 2),
        |sel AS (SELECT g, bin,
        |    sum(n) OVER (PARTITION BY g ORDER BY bin DESC) sel,
        |    sum(n) OVER (PARTITION BY g) tot
        |  FROM cells),
        |rr AS (SELECT g, bin, sel::DOUBLE / tot::DOUBLE rate, sel, tot FROM sel),
        |a AS (SELECT bin ta, rate ra, sel sa, tot na FROM rr WHERE g = 0),
        |c AS (SELECT bin tb, rate rb, sel sb, tot nb FROM rr WHERE g = 1),
        |combos AS (SELECT ta, tb, ra, rb,
        |    (sa + sb)::DOUBLE / (na + nb)::DOUBLE overall, abs(ra - rb) gap
        |  FROM a CROSS JOIN c WHERE (sa + sb)::DOUBLE / (na + nb)::DOUBLE >= 0.3)
        |SELECT ta AS threshold_bin_g0, tb AS threshold_bin_g1,
        |  round(ra, 6) AS rate_g0, round(rb, 6) AS rate_g1,
        |  round(gap, 6) AS parity_gap, round(overall, 6) AS overall
        |FROM combos ORDER BY gap, ta, tb LIMIT 1""".stripMargin))
}
