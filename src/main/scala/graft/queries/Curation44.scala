package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 14: customer analytics and observability — RFM tier
  * segmentation, exact Shapley channel attribution over the bounded
  * coalition lattice, direct (g-formula) confounder adjustment,
  * tail-based trace sampling, and subgroup discovery by weighted
  * relative accuracy.
  */
object Curation44 {

  /** q381: RFM (recency/frequency/monetary) tier segmentation — the
    * retention playbook's canonical customer cut. Per-customer R/F/M
    * in one keyed pass over orders; quintile scores via a broadcast
    * 1-row percentile frame + CASE ladders (never a global ntile
    * sort); named tiers from the standard score rules. Monetary sums
    * are decimal; every threshold comparison runs identically in both
    * engines.
    */
  private val q381RfmSegments: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("c"), col("o_orderdate").as("dt"),
        col("o_totalprice").as("tp"))
    val mx = o.agg(max(to_date(col("dt"))).as("dmax"))
    val rfm = o.crossJoin(broadcast(mx))
      .groupBy("c")
      .agg(min(datediff(col("dmax"), to_date(col("dt")))).as("rec"),
        count(lit(1)).as("freq"),
        sum(dec(col("tp"))).cast(DoubleType).as("mon"))
    val th = rfm.agg(
      percentile(col("rec").cast(DoubleType),
        array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))).as("tr"),
      percentile(col("freq").cast(DoubleType),
        array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))).as("tf"))
    def score(v: org.apache.spark.sql.Column, t: String, reverse: Boolean) = {
      val lad = when(v <= element_at(col(t), 1), 1)
        .when(v <= element_at(col(t), 2), 2)
        .when(v <= element_at(col(t), 3), 3)
        .when(v <= element_at(col(t), 4), 4)
        .otherwise(5)
      if (reverse) lit(6) - lad else lad
    }
    val scored = rfm.crossJoin(broadcast(th))
      .select(col("c"), col("rec"), col("mon"),
        score(col("rec").cast(DoubleType), "tr", reverse = true).as("r"),
        score(col("freq").cast(DoubleType), "tf", reverse = false).as("f"))
    val tiers = scored.select(col("c"), col("rec"), col("mon"),
      when(col("r") >= 4 && col("f") >= 4, "champion")
        .when(col("f") >= 4, "loyal")
        .when(col("r") <= 2 && col("f") >= 3, "at_risk")
        .when(col("r") <= 2, "hibernating")
        .otherwise("other").as("tier"))
    tiers.groupBy("tier")
      .agg(count(lit(1)).as("n_customers"),
        round(sum(dec(col("mon"))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("avg_monetary"),
        round(sum(col("rec")).cast(DoubleType) / count(lit(1)).cast(DoubleType), 6)
          .as("avg_recency_days"))
      .orderBy("tier")
  }

  /** q382: exact Shapley-value channel attribution — the coalition
    * counterpart of q362's Markov removal effects. Each user's channel
    * exposure collapses to a 4-bit mask (one keyed pass); the
    * characteristic function v(S) = conversion rate of users exposed
    * to exactly S lives on the bounded 16-row lattice (densified so
    * absent coalitions read v = 0); and the Shapley sum runs the exact
    * 4-player weights s!(3−s)!/4! over the 32 (channel, S) marginal
    * pairs — all bounded-grid arithmetic, decimal-summed.
    */
  private val q382ShapleyAttribution: Q = (s, d) => {
    import s.implicits._
    val perUser = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("b0"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("b1"),
        max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("b2"),
        max(when(col("event_type") === "error", 1L).otherwise(0L)).as("b3"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .select((col("b0") + col("b1") * 2 + col("b2") * 4 + col("b3") * 8).as("mask"),
        col("y"))
    val observed = perUser.groupBy("mask")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("cv"))
    val allMasks = (0 until 16).map(_.toLong).toDF("mask")
    val v = broadcast(allMasks.join(observed, Seq("mask"), "left")
      .select(col("mask"),
        when(col("n").isNotNull,
          col("cv").cast(DoubleType) / col("n").cast(DoubleType))
          .otherwise(lit(0.0)).as("v")))
    val channels = Seq((0, "view"), (1, "click"), (2, "signup"), (3, "error"))
      .toDF("bit", "channel")
    val pairs = allMasks.crossJoin(broadcast(channels))
      .filter(expr("pmod(shiftright(mask, bit), 2) = 0"))
      .select(col("channel"), col("mask").as("s"),
        expr("mask + shiftleft(1L, bit)").as("sc"),
        expr("pmod(mask, 2) + pmod(shiftright(mask, 1), 2) + " +
          "pmod(shiftright(mask, 2), 2) + pmod(shiftright(mask, 3), 2)").as("sz"))
    val contrib = pairs
      .join(v.select(col("mask").as("s"), col("v").as("vs")), "s")
      .join(v.select(col("mask").as("sc"), col("v").as("vsc")), "sc")
      .select(col("channel"),
        (when(col("sz") === 0, lit(0.25))
          .when(col("sz") === 3, lit(0.25))
          .otherwise(lit(1.0) / lit(12.0)) * (col("vsc") - col("vs"))).as("m"))
    val phi = contrib.groupBy("channel")
      .agg(sum(dec(col("m"))).cast(DoubleType).as("phi"))
    val tot = phi.agg(sum(dec(col("phi"))).cast(DoubleType).as("tphi"))
    phi.crossJoin(broadcast(tot))
      .select(col("channel"), round(col("phi"), 6).as("phi"),
        round(col("phi") / col("tphi"), 6).as("share"))
      .orderBy("channel")
  }

  /** q383: direct adjustment (the g-formula / standardization) for the
    * high-value-event effect on conversion, confounded by user
    * segment: the crude rate difference vs the segment-standardized
    * one Σ_g P(g)·(r₁g − r₀g), and the confounding bias between them.
    * One keyed pass to the bounded (segment × exposure) grid; every
    * rate is an exact integer quotient and the standardization is a
    * decimal sum over segments.
    */
  private val q383DirectAdjustment: Q = (s, d) => {
    val med = Tables.events(s, d).agg(percentile(col("value"), lit(0.5)).as("med"))
    val u = Tables.events(s, d).crossJoin(broadcast(med))
      .groupBy((col("user_id") % 4).as("seg"), col("user_id"))
      .agg(max(when(col("value") > col("med"), 1L).otherwise(0L)).as("x"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val cells = u.groupBy("seg", "x")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("cv"))
    val segTot = cells.groupBy("seg").agg(sum(col("n")).as("ns"))
    val tot = cells.agg(sum(col("n")).as("nt"))
    val grid = cells.join(broadcast(segTot), "seg").crossJoin(broadcast(tot))
      .select(col("seg"), col("x"),
        (col("cv").cast(DoubleType) / col("n").cast(DoubleType)).as("r"),
        (col("ns").cast(DoubleType) / col("nt").cast(DoubleType)).as("pseg"),
        col("n"), col("cv"))
    val crude = cells.groupBy("x").agg(sum(col("n")).as("n"), sum(col("cv")).as("cv"))
      .agg(
        max(when(col("x") === 1,
          col("cv").cast(DoubleType) / col("n").cast(DoubleType))).as("c1"),
        max(when(col("x") === 0,
          col("cv").cast(DoubleType) / col("n").cast(DoubleType))).as("c0"))
    val adj = grid.groupBy("seg", "pseg").agg(
        max(when(col("x") === 1, col("r"))).as("r1"),
        max(when(col("x") === 0, col("r"))).as("r0"))
      .agg(sum(dec(col("pseg") * (coalesce(col("r1"), lit(0.0)) -
        coalesce(col("r0"), lit(0.0))))).cast(DoubleType).as("dadj"))
    crude.crossJoin(broadcast(adj))
      .select(round(col("c1") - col("c0"), 6).as("crude_diff"),
        round(col("dadj"), 6).as("adjusted_diff"),
        round((col("c1") - col("c0")) - col("dadj"), 6).as("confounding_bias"))
  }

  /** q384: tail-based trace sampling — the observability policy that
    * keeps EVERY trace containing an error plus a deterministic 10%
    * of healthy traces (seeded-hash head sampling on the trace key, so
    * the decision is consistent across all spans of a trace with no
    * coordination). Traces are (user, day) groups: one keyed pass
    * decides, a broadcast-free semi-join applies the decision to
    * spans, and the readout compares kept vs full event-type mix.
    */
  private val q384TailSampling: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
    val traces = ev.groupBy("user_id", "day")
      .agg(max(when(col("event_type") === "error", 1L).otherwise(0L)).as("hasErr"))
      .select(col("user_id"), col("day"),
        (col("hasErr") === 1 ||
          mdHash(concat_ws("|", lit("ts"), col("user_id"), col("day")))
            .cast(DoubleType) / lit(1152921504606846976.0) < 0.1).as("keep"))
    val kept = ev.join(traces.filter(col("keep")).select("user_id", "day"),
      Seq("user_id", "day"), "left_semi")
    val full = ev.groupBy("event_type").agg(count(lit(1)).as("n_full"))
    val kt = kept.groupBy("event_type").agg(count(lit(1)).as("n_kept"))
    val totF = full.agg(sum(col("n_full")).as("tf"))
    val totK = kt.agg(sum(col("n_kept")).as("tk"))
    full.join(kt, "event_type")
      .crossJoin(broadcast(totF)).crossJoin(broadcast(totK))
      .select(col("event_type"), col("n_full"), col("n_kept"),
        round(col("n_full").cast(DoubleType) / col("tf").cast(DoubleType), 6)
          .as("share_full"),
        round(col("n_kept").cast(DoubleType) / col("tk").cast(DoubleType), 6)
          .as("share_kept"))
      .orderBy("event_type")
  }

  /** q385: subgroup discovery by weighted relative accuracy — find the
    * (nation, segment) customer subgroups whose high-value-order rate
    * most exceeds the base rate, scored by WRAcc = (n_g/N)·(p_g − p₀)
    * (the KDD standard that balances lift against coverage). One keyed
    * pass over orders to the bounded attribute grid, a broadcast base
    * rate, exact integer quotients, bounded top-10.
    */
  private val q385SubgroupWracc: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg")), "o_custkey")
    val p75 = o.agg(percentile(col("o_totalprice"), lit(0.75)).as("p75"))
    val tagged = o.crossJoin(broadcast(p75))
      .select(col("nk"), col("seg"),
        when(col("o_totalprice") > col("p75"), 1L).otherwise(0L).as("hv"))
    val base = tagged.agg(count(lit(1)).as("nt"), sum(col("hv")).as("ht"))
    tagged.groupBy("nk", "seg")
      .agg(count(lit(1)).as("n"), sum(col("hv")).as("h"))
      .crossJoin(broadcast(base))
      .select(col("nk").as("nationkey"), col("seg").as("segment"), col("n"),
        round(col("h").cast(DoubleType) / col("n").cast(DoubleType), 6).as("p_sg"),
        round((col("n").cast(DoubleType) / col("nt").cast(DoubleType)) *
          (col("h").cast(DoubleType) / col("n").cast(DoubleType) -
            col("ht").cast(DoubleType) / col("nt").cast(DoubleType)), 6).as("wracc"))
      .orderBy(col("wracc").desc, col("nationkey"), col("segment")).limit(10)
  }

  val queries: Seq[Query] = Seq(
    Query("q381_rfm_segments", q381RfmSegments,
      """WITH o AS (SELECT o_custkey c, o_orderdate dt, o_totalprice tp FROM orders),
        |mx AS (SELECT max(CAST(dt AS DATE)) dmax FROM o),
        |rfm AS (SELECT c, min(date_diff('day', CAST(dt AS DATE), dmax)) rec,
        |    count(*) freq,
        |    CAST(sum(CAST(tp AS DECIMAL(38,15))) AS DOUBLE) mon
        |  FROM o CROSS JOIN mx GROUP BY c),
        |th AS (SELECT
        |    quantile_cont(rec::DOUBLE, [0.2, 0.4, 0.6, 0.8]) tr,
        |    quantile_cont(freq::DOUBLE, [0.2, 0.4, 0.6, 0.8]) tf
        |  FROM rfm),
        |scored AS (SELECT c, rec, mon,
        |    6 - (CASE WHEN rec::DOUBLE <= tr[1] THEN 1
        |      WHEN rec::DOUBLE <= tr[2] THEN 2 WHEN rec::DOUBLE <= tr[3] THEN 3
        |      WHEN rec::DOUBLE <= tr[4] THEN 4 ELSE 5 END) r,
        |    CASE WHEN freq::DOUBLE <= tf[1] THEN 1
        |      WHEN freq::DOUBLE <= tf[2] THEN 2 WHEN freq::DOUBLE <= tf[3] THEN 3
        |      WHEN freq::DOUBLE <= tf[4] THEN 4 ELSE 5 END f
        |  FROM rfm CROSS JOIN th),
        |tiers AS (SELECT c, rec, mon,
        |    CASE WHEN r >= 4 AND f >= 4 THEN 'champion'
        |      WHEN f >= 4 THEN 'loyal'
        |      WHEN r <= 2 AND f >= 3 THEN 'at_risk'
        |      WHEN r <= 2 THEN 'hibernating'
        |      ELSE 'other' END tier
        |  FROM scored)
        |SELECT tier, count(*)::BIGINT AS n_customers,
        |  round(CAST(sum(CAST(mon AS DECIMAL(38,15))) AS DOUBLE)
        |    / count(*)::DOUBLE, 6) AS avg_monetary,
        |  round(sum(rec)::DOUBLE / count(*)::DOUBLE, 6) AS avg_recency_days
        |FROM tiers GROUP BY tier ORDER BY tier""".stripMargin),
    Query("q382_shapley_attribution", q382ShapleyAttribution,
      """WITH pu AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) b0,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) b1,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) b2,
        |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) b3,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y
        |  FROM events GROUP BY user_id),
        |obs AS (SELECT b0 + b1 * 2 + b2 * 4 + b3 * 8 mask, count(*) n, sum(y) cv
        |  FROM pu GROUP BY 1),
        |am AS (SELECT unnest(range(0, 16)) mask),
        |v AS (SELECT am.mask,
        |    CASE WHEN obs.n IS NOT NULL THEN obs.cv::DOUBLE / obs.n::DOUBLE
        |      ELSE 0.0 END v
        |  FROM am LEFT JOIN obs ON obs.mask = am.mask),
        |ch AS (SELECT * FROM (VALUES (0, 'view'), (1, 'click'), (2, 'signup'),
        |    (3, 'error')) t(bit, channel)),
        |pairs AS (SELECT ch.channel, am.mask s, am.mask + (1 << ch.bit) sc,
        |    (am.mask % 2) + ((am.mask // 2) % 2) + ((am.mask // 4) % 2) +
        |      ((am.mask // 8) % 2) sz
        |  FROM am CROSS JOIN ch WHERE ((am.mask // (1 << ch.bit)) % 2) = 0),
        |contrib AS (SELECT channel,
        |    (CASE WHEN sz = 0 THEN 0.25 WHEN sz = 3 THEN 0.25
        |      ELSE 1.0 / 12.0 END) * (vc.v - vs.v) m
        |  FROM pairs JOIN v vs ON vs.mask = pairs.s
        |  JOIN v vc ON vc.mask = pairs.sc),
        |phi AS (SELECT channel,
        |    CAST(sum(CAST(m AS DECIMAL(38,15))) AS DOUBLE) phi
        |  FROM contrib GROUP BY channel),
        |tot AS (SELECT CAST(sum(CAST(phi AS DECIMAL(38,15))) AS DOUBLE) tphi FROM phi)
        |SELECT channel, round(phi, 6) AS phi, round(phi / tphi, 6) AS share
        |FROM phi CROSS JOIN tot ORDER BY channel""".stripMargin),
    Query("q383_direct_adjustment", q383DirectAdjustment,
      """WITH med AS (SELECT quantile_cont(value, 0.5) med FROM events),
        |u AS (SELECT user_id % 4 seg, user_id,
        |    max(CASE WHEN value > med THEN 1 ELSE 0 END) x,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y
        |  FROM events CROSS JOIN med GROUP BY 1, 2),
        |cells AS (SELECT seg, x, count(*) n, sum(y) cv FROM u GROUP BY 1, 2),
        |segtot AS (SELECT seg, sum(n) ns FROM cells GROUP BY seg),
        |tot AS (SELECT sum(n) nt FROM cells),
        |grid AS (SELECT c.seg, c.x, c.cv::DOUBLE / c.n::DOUBLE r,
        |    st.ns::DOUBLE / t.nt::DOUBLE pseg
        |  FROM cells c JOIN segtot st USING (seg) CROSS JOIN tot t),
        |crude AS (SELECT
        |    max(CASE WHEN x = 1 THEN cv::DOUBLE / n::DOUBLE END) c1,
        |    max(CASE WHEN x = 0 THEN cv::DOUBLE / n::DOUBLE END) c0
        |  FROM (SELECT x, sum(n) n, sum(cv) cv FROM cells GROUP BY x)),
        |adj AS (SELECT CAST(sum(CAST(pseg * (coalesce(r1, 0.0) - coalesce(r0, 0.0))
        |      AS DECIMAL(38,15))) AS DOUBLE) dadj
        |  FROM (SELECT seg, pseg,
        |      max(CASE WHEN x = 1 THEN r END) r1,
        |      max(CASE WHEN x = 0 THEN r END) r0
        |    FROM grid GROUP BY seg, pseg))
        |SELECT round(c1 - c0, 6) AS crude_diff, round(dadj, 6) AS adjusted_diff,
        |  round((c1 - c0) - dadj, 6) AS confounding_bias
        |FROM crude CROSS JOIN adj""".stripMargin),
    Query("q384_tail_sampling", q384TailSampling,
      s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) dy, event_type FROM events),
         |traces AS (SELECT user_id, dy,
         |    (max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1 OR
         |     ${mdHashSql("'ts|' || user_id || '|' || dy")}::DOUBLE
         |       / 1152921504606846976.0 < 0.1) keep
         |  FROM ev GROUP BY user_id, dy),
         |kept AS (SELECT ev.event_type FROM ev JOIN traces
         |  ON traces.user_id = ev.user_id AND traces.dy = ev.dy AND traces.keep),
         |full_ AS (SELECT event_type, count(*) n_full FROM ev GROUP BY event_type),
         |kt AS (SELECT event_type, count(*) n_kept FROM kept GROUP BY event_type),
         |tf AS (SELECT sum(n_full) tf FROM full_),
         |tk AS (SELECT sum(n_kept) tk FROM kt)
         |SELECT event_type, n_full::BIGINT AS n_full, n_kept::BIGINT AS n_kept,
         |  round(n_full::DOUBLE / tf::DOUBLE, 6) AS share_full,
         |  round(n_kept::DOUBLE / tk::DOUBLE, 6) AS share_kept
         |FROM full_ JOIN kt USING (event_type) CROSS JOIN tf CROSS JOIN tk
         |ORDER BY event_type""".stripMargin),
    Query("q385_subgroup_wracc", q385SubgroupWracc,
      """WITH o AS (SELECT c.c_nationkey nk, c.c_mktsegment seg, ord.o_totalprice tp
        |  FROM orders ord JOIN customer c ON c.c_custkey = ord.o_custkey),
        |p75 AS (SELECT quantile_cont(tp, 0.75) p75 FROM o),
        |tagged AS (SELECT nk, seg,
        |    CASE WHEN tp > p75 THEN 1 ELSE 0 END hv FROM o CROSS JOIN p75),
        |base AS (SELECT count(*) nt, sum(hv) ht FROM tagged),
        |sg AS (SELECT nk, seg, count(*) n, sum(hv) h FROM tagged GROUP BY 1, 2)
        |SELECT nk AS nationkey, seg AS segment, n::BIGINT AS n,
        |  round(h::DOUBLE / n::DOUBLE, 6) AS p_sg,
        |  round((n::DOUBLE / nt::DOUBLE) *
        |    (h::DOUBLE / n::DOUBLE - ht::DOUBLE / nt::DOUBLE), 6) AS wracc
        |FROM sg CROSS JOIN base
        |ORDER BY wracc DESC, nationkey, segment LIMIT 10""".stripMargin))
}
