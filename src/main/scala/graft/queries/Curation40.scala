package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.sources.Tables

/** Round-8 wave 10: causal counterfactuals, attribution, and
  * recommender/LM evaluation — similarity-weighted synthetic control,
  * Markov-chain attribution with removal effects, item-item
  * recommendation candidate generation with coverage/novelty readout,
  * the Qini uplift curve, and Good-Turing unseen-mass estimation.
  */
object Curation40 {

  /** q361: synthetic control for nation 0's monthly order volume —
    * donors are the other 24 nations, weighted by pre-period (1995–98)
    * series similarity w_d ∝ 1/(1+RMSE_d), and the post-period ATT is
    * the mean gap between the treated series and the weighted donor
    * counterfactual (Abadie et al.; the constrained-regression weight
    * fit is replaced by the deterministic similarity kernel so both
    * engines agree bit-for-bit). The corpus collapses to the bounded
    * (nation × month) grid in ONE keyed pass — densified by a
    * broadcast cross of the two bounded domains so missing cells are
    * true zeros; every later step is arithmetic on ≤25×80 rows.
    * Monthly counts are integers, so RMSE inputs are exact; weight
    * normalization and the counterfactual are decimal sums over the
    * bounded donor set.
    */
  private val q361SyntheticControl: Q = (s, d) => {
    val nm = Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").as("nk")), "o_custkey")
      .select(col("nk"), (year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).as("ym"))
      .groupBy("nk", "ym").agg(count(lit(1)).as("x"))
    val months = nm.select(col("ym")).distinct()
    val nations = Tables.customer(s, d).select(col("c_nationkey").as("nk")).distinct()
    val grid = months.crossJoin(broadcast(nations))
      .join(nm, Seq("nk", "ym"), "left")
      .select(col("nk"), col("ym"), coalesce(col("x"), lit(0L)).as("x"))
    val treated = grid.filter(col("nk") === 0)
      .select(col("ym"), col("x").as("xt"))
    val donors = grid.filter(col("nk") =!= 0)
      .join(broadcast(treated), "ym")
    val rmse = donors.filter(col("ym") < 199901)
      .groupBy("nk").agg(
        sqrt(sum((col("x") - col("xt")) * (col("x") - col("xt"))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("rmse"))
      .select(col("nk"), (lit(1.0) / (lit(1.0) + col("rmse"))).as("k"))
    val norm = rmse.agg(sum(dec(col("k"))).cast(DoubleType).as("kn"))
    val w = rmse.crossJoin(broadcast(norm))
      .select(col("nk"), (col("k") / col("kn")).as("w"))
    val synth = donors.filter(col("ym") >= 199901)
      .join(broadcast(w), "nk")
      .groupBy("ym").agg(max(col("xt")).as("xt"),
        sum(dec(col("w") * col("x").cast(DoubleType))).cast(DoubleType).as("cf"))
    val att = synth.agg(count(lit(1)).as("n_post_months"),
      (sum(dec(col("xt").cast(DoubleType) - col("cf"))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("att"))
    val nPre = treated.filter(col("ym") < 199901).agg(count(lit(1)).as("n_pre_months"))
    val top = w.orderBy(col("w").desc, col("nk")).limit(1)
      .select(col("nk").as("top_donor"), round(col("w"), 6).as("top_w"))
    nPre.crossJoin(broadcast(att)).crossJoin(broadcast(top))
      .select(col("n_pre_months"), col("n_post_months"),
        round(col("att"), 6).as("att"), col("top_donor"), col("top_w"))
  }

  /** q362: Markov-chain attribution with removal effects — the
    * multi-touch attribution model that credits each channel by how
    * much the corpus conversion probability drops when the channel is
    * removed (redirected to the NULL absorber). Paths run per user to
    * the first purchase (per-user windows); transition counts collapse
    * to the bounded (≤7×7) state matrix in one keyed pass, and the
    * five absorption problems (full + 4 removals) run as 12 synchronous
    * value-iteration rounds over the ONE (scenario, state) grid — a
    * bounded join+sum per round, never per-event work. Transition
    * probabilities are exact integer quotients; each round's Σ_k p·v is
    * a decimal sum over ≤7 terms, so the fixpoint trajectory is
    * engine-exact (the oracle replays the identical 12 rounds in a
    * recursive CTE).
    */
  private val q362MarkovAttribution: Q = (s, d) => {
    import s.implicits._
    val wUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val numbered = Tables.events(s, d)
      .select(col("user_id"),
        when(col("event_type") === "purchase", "CONV").otherwise(col("event_type"))
          .as("st"), row_number().over(wUser).as("rn"))
    val ev = numbered
      .withColumn("prn", min(when(col("st") === "CONV", col("rn")))
        .over(Window.partitionBy("user_id")))
      .filter(col("prn").isNull || col("rn") <= col("prn"))
    val steps = ev
      .withColumn("prev", coalesce(
        lag(col("st"), 1).over(Window.partitionBy("user_id").orderBy("rn")),
        lit("START")))
      .select(col("prev").as("src"), col("st").as("dst"))
    val tails = ev.filter(col("prn").isNull)
      .withColumn("mx", max(col("rn")).over(Window.partitionBy("user_id")))
      .filter(col("rn") === col("mx"))
      .select(col("st").as("src"), lit("NULL").as("dst"))
    val cnt = steps.union(tails).groupBy("src", "dst").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("src").agg(sum(col("c")).as("t"))
    val p = cnt.join(tot, "src")
      .select(col("src"), col("dst"),
        (col("c").cast(DoubleType) / col("t").cast(DoubleType)).as("p"))
    val scen = Seq("full", "view", "click", "signup", "error").toDF("scenario")
    val pScen = p.crossJoin(broadcast(scen))
      .filter(col("src") =!= col("scenario"))
      .select(col("scenario"), col("src"),
        when(col("dst") === col("scenario"), "NULL").otherwise(col("dst")).as("dst"),
        col("p"))
      .groupBy("scenario", "src", "dst").agg(sum(dec(col("p"))).cast(DoubleType).as("p"))
      .persist()
    // The (scenario, src, dst, p) matrix is a bounded model contract
    // (≤ 5·6·7 rows at ANY corpus size), so the 12 value-iteration
    // rounds run driver-side — one collect instead of 24 tiny shuffles
    // (9.1 → ~1 s at sf0.1). The arithmetic replicates the engine
    // convention bit-for-bit: each p·v term is decimal(38,15)-rounded
    // (HALF_UP, the Spark cast rule the DuckDB oracle's CAST mirrors),
    // summed exactly, then read back as a double.
    val mat = pScen.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
    def d15(x: Double): BigDecimal =
      BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    val scenarios = mat.map(_._1).distinct
    var vMap: Map[(String, String), Double] =
      mat.map(t => (t._1, t._2) -> 0.0).toMap
    for (_ <- 1 to 12) {
      vMap = mat.groupBy(t => (t._1, t._2)).map { case (k, rows) =>
        k -> rows.map { case (sc, _, dst, pp) =>
          val tv = dst match {
            case "CONV" => 1.0
            case "NULL" => 0.0
            case other  => vMap.getOrElse((sc, other), 0.0)
          }
          d15(pp * tv)
        }.sum.toDouble
      }
    }
    val pFull = vMap(("full", "START"))
    val chans = scenarios.filter(_ != "full").sorted
    val effs = chans.map(c => (c, vMap((c, "START"))))
      .map { case (c, pv) => (c, pv, (pFull - pv) / pFull) }
    val es = effs.map(e => d15(e._3)).sum.toDouble
    val out = effs.toSeq.map { case (c, pv, e) => (c, pFull, pv, e, e / es) }
      .toDF("channel", "pf", "pv", "e", "a")
      .select(col("channel"), round(col("pf"), 6).as("p_conv_full"),
        round(col("pv"), 6).as("p_conv_removed"),
        round(col("e"), 6).as("removal_effect"),
        round(col("a"), 6).as("attribution"))
      .orderBy("channel")
    pScen.unpersist()
    out
  }

  /** q363: item-item recommendation candidates with coverage/novelty
    * readout — truncated co-purchase similarity lists (top-20 co-items
    * per item: the bounded candidate-generation device every
    * production recsys uses), summed into per-customer candidate
    * scores, already-purchased anti-joined away, top-3 per customer.
    * Scale shape: basket-bounded in-row pair expansion (never a
    * lineitem self-join), hub lists capped by a per-item window so the
    * candidate fan-out is ≤ |purchases|·20 regardless of item
    * popularity, per-customer top-k windows. The readout — catalog
    * coverage and mean novelty −ln(pop share) — is two keyed
    * aggregates with decimal sums.
    */
  private val q363RecCoverage: Q = (s, d) => {
    val purch = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey").as("p")), "o_orderkey")
      .select(col("c"), col("p")).distinct().persist()
    // interaction capping: each item contributes at most 64 baskets
    // (seeded-hash choice, so the kept set is a deterministic
    // coordinated sample) — the standard production bound that keeps a
    // hub item's co-occurrence fan-out O(cap·basket) instead of
    // O(orders). The sf1 curve measured the uncapped pair set at 6.5×
    // for 10× data (40.5 s); capped, pair volume is linear in the
    // catalog, not in catalog×orders.
    val wCap = Window.partitionBy("p")
      .orderBy(graft.functions.TextFunctions.mdHash(
        concat_ws("|", lit("rc"), col("o"), col("p"))), col("o"))
    val capped = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
      .withColumn("r", row_number().over(wCap))
      .filter(col("r") <= 64)
      .select(col("o"), col("p"))
    val basketPairs = capped
      .groupBy("o").agg(collect_set(col("p")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cc"))
    val wTop = Window.partitionBy("u").orderBy(col("cc").desc, col("v"))
    val sim = basketPairs.withColumn("r", row_number().over(wTop))
      .filter(col("r") <= 20).select(col("u"), col("v"), col("cc"))
    val cand = purch.select(col("c"), col("p").as("u"))
      .join(sim, "u")
      .groupBy("c", "v").agg(sum(col("cc")).as("score"))
      .join(purch.select(col("c"), col("p").as("v")), Seq("c", "v"), "left_anti")
    val wRec = Window.partitionBy("c").orderBy(col("score").desc, col("v"))
    val recs = cand.withColumn("r", row_number().over(wRec))
      .filter(col("r") <= 3).select(col("c"), col("v")).persist()
    val popTot = purch.agg(count(lit(1)).as("np"))
    val pop = purch.groupBy(col("p").as("v")).agg(count(lit(1)).as("pv"))
    val novelty = recs.join(pop, "v").crossJoin(broadcast(popTot))
      .agg(count(lit(1)).as("n_recs"),
        (-sum(dec(ln(col("pv").cast(DoubleType) / col("np").cast(DoubleType))))
          .cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("nov"))
    val cov = recs.select(col("v")).distinct().agg(count(lit(1)).as("n_rec_parts"))
    val catalog = Tables.part(s, d).agg(count(lit(1)).as("n_catalog"))
    val users = recs.select(col("c")).distinct().agg(count(lit(1)).as("n_users"))
    val out = users.crossJoin(broadcast(cov)).crossJoin(broadcast(catalog))
      .crossJoin(broadcast(novelty))
      .select(col("n_users"), col("n_recs"), col("n_rec_parts"), col("n_catalog"),
        round(col("n_rec_parts").cast(DoubleType) / col("n_catalog").cast(DoubleType), 6)
          .as("coverage"),
        round(col("nov"), 6).as("novelty_nats"))
    graft.operators.Materialize.spillRelease(out, purch, recs)
  }

  /** q364: Qini uplift curve — rank users by a pre-period activity
    * score, bucket into deciles by GLOBAL percentile thresholds (a
    * broadcast 1-row quantile frame + CASE ladder — never a global
    * ntile sort), then per decile compare arm conversion on the post
    * period: uplift_k = (r̂_t − r̂_c)·n_k cumulated best-decile-first,
    * against the random-targeting baseline. Cumulative sums run on the
    * bounded decile domain; counts are integers so every rate is an
    * exact quotient.
    */
  private val q364QiniUplift: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
    val split = ev.agg(date_add(min(col("day")), 15).as("cut"))
    val tagged = ev.crossJoin(broadcast(split))
    val score = tagged.filter(col("day") < col("cut"))
      .groupBy("user_id").agg(count(lit(1)).as("score"))
    val conv = tagged.filter(col("day") >= col("cut") &&
        col("event_type") === "purchase")
      .select(col("user_id")).distinct().withColumn("y", lit(1L))
    val users = score.join(conv, Seq("user_id"), "left")
      .select(col("user_id"), (col("user_id") % 2).as("arm"),
        col("score").cast(DoubleType).as("sc"), coalesce(col("y"), lit(0L)).as("y"))
    val th = users.agg(percentile(col("sc"),
      array((1 to 9).map(i => lit(i / 10.0)): _*)).as("t"))
    // decile 1 = highest scores; CASE ladder walks thresholds t9..t1
    val dk = (1 to 9).foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      (acc, k) =>
        val cond = col("sc") > element_at(col("t"), 10 - k)
        Some(acc.fold(when(cond, k))(_.when(cond, k)))
    }.get.otherwise(10)
    val cells = users.crossJoin(broadcast(th))
      .select(dk.as("decile"), col("arm"), col("y"))
      .groupBy("decile").agg(
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("c0"))
    val w = Window.orderBy("decile") // bounded domain: 10 rows
    val cum = cells.select(col("decile"), col("n1"), col("n0"),
      sum(col("n1")).over(w).as("cn1"), sum(col("c1")).over(w).as("cc1"),
      sum(col("n0")).over(w).as("cn0"), sum(col("c0")).over(w).as("cc0"))
    val totals = cells.agg(sum(col("n1")).as("tn1"), sum(col("c1")).as("tc1"),
      sum(col("n0")).as("tn0"), sum(col("c0")).as("tc0"))
    cum.crossJoin(broadcast(totals))
      .select(col("decile"), col("n1"), col("n0"),
        round((col("cc1").cast(DoubleType) / col("cn1").cast(DoubleType) -
          col("cc0").cast(DoubleType) / col("cn0").cast(DoubleType)) *
          (col("cn1") + col("cn0")).cast(DoubleType), 6).as("uplift_cum"),
        round(((col("cc1").cast(DoubleType) / col("cn1").cast(DoubleType) -
          col("cc0").cast(DoubleType) / col("cn0").cast(DoubleType)) -
          (col("tc1").cast(DoubleType) / col("tn1").cast(DoubleType) -
            col("tc0").cast(DoubleType) / col("tn0").cast(DoubleType))) *
          (col("cn1") + col("cn0")).cast(DoubleType), 6).as("qini_cum"))
      .orderBy("decile")
  }

  /** q365: Good-Turing unseen-mass estimation over the document corpus
    * vocabulary — the count-of-counts table N_r, the leave-one-out
    * unseen-probability mass p0 = N1/N, and the discounted counts
    * r* = (r+1)·N_{r+1}/N_r that Katz/Good-Turing smoothing assigns.
    * Two keyed passes (token counts, then count-of-counts) collapse
    * the corpus to the bounded r domain; everything after is exact
    * integer quotients.
    */
  private val q365GoodTuring: Q = (s, d) => {
    // word BIGRAMS, not unigrams: the synthetic corpus has a bounded
    // word vocabulary where every unigram occurs ≥5 times (an empty
    // count-of-counts head); adjacent-pair types have the real
    // singleton tail Good-Turing exists to smooth
    val tok = Tables.documents(s, d)
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2) // sequence(1, 0) would descend
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("r"))
    val nr = tok.groupBy("r").agg(count(lit(1)).as("n_r"))
    val totals = tok.agg(sum(col("r")).as("n"), count(lit(1)).as("v"))
    val nr1 = nr.select((col("r") - 1).as("r"), col("n_r").as("n_r_next"))
    nr.filter(col("r") <= 4).join(nr1, Seq("r"), "left")
      .crossJoin(broadcast(totals))
      .select(col("r"), col("n_r"),
        round((col("r") + 1).cast(DoubleType) *
          coalesce(col("n_r_next"), lit(0L)).cast(DoubleType) /
          col("n_r").cast(DoubleType), 6).as("r_star"),
        col("n").as("n_tokens"), col("v").as("vocab"))
      .orderBy("r")
  }

  val queries: Seq[Query] = Seq(
    Query("q361_synthetic_control", q361SyntheticControl,
      """WITH nm AS (SELECT c.c_nationkey nk,
        |    year(o.o_orderdate) * 100 + month(o.o_orderdate) ym, count(*) x
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |months AS (SELECT DISTINCT ym FROM nm),
        |nations AS (SELECT DISTINCT c_nationkey nk FROM customer),
        |grid AS (SELECT n.nk, m.ym, coalesce(nm.x, 0) x
        |  FROM months m CROSS JOIN nations n
        |  LEFT JOIN nm ON nm.nk = n.nk AND nm.ym = m.ym),
        |treated AS (SELECT ym, x xt FROM grid WHERE nk = 0),
        |donors AS (SELECT g.nk, g.ym, g.x, t.xt FROM grid g
        |  JOIN treated t USING (ym) WHERE g.nk <> 0),
        |rmse AS (SELECT nk,
        |    1.0 / (1.0 + sqrt(sum((x - xt) * (x - xt))::DOUBLE / count(*)::DOUBLE)) k
        |  FROM donors WHERE ym < 199901 GROUP BY nk),
        |norm AS (SELECT CAST(sum(CAST(k AS DECIMAL(38,15))) AS DOUBLE) kn FROM rmse),
        |w AS (SELECT nk, k / kn w FROM rmse CROSS JOIN norm),
        |synth AS (SELECT ym, max(xt) xt,
        |    CAST(sum(CAST(w * x::DOUBLE AS DECIMAL(38,15))) AS DOUBLE) cf
        |  FROM donors JOIN w USING (nk) WHERE ym >= 199901 GROUP BY ym),
        |att AS (SELECT count(*) n_post_months,
        |    CAST(sum(CAST(xt::DOUBLE - cf AS DECIMAL(38,15))) AS DOUBLE)
        |      / count(*)::DOUBLE att
        |  FROM synth),
        |npre AS (SELECT count(*) n_pre_months FROM treated WHERE ym < 199901),
        |top AS (SELECT nk top_donor, round(w, 6) top_w FROM w
        |  ORDER BY w DESC, nk LIMIT 1)
        |SELECT n_pre_months::BIGINT AS n_pre_months,
        |  n_post_months::BIGINT AS n_post_months, round(att, 6) AS att,
        |  top_donor, top_w
        |FROM npre CROSS JOIN att CROSS JOIN top""".stripMargin),
    Query("q362_markov_attribution", q362MarkovAttribution, {
      // 12 value-iteration rounds, unrolled (no recursive CTE: the
      // engine runs the identical foldLeft, one keyed decimal sum per
      // round with the absorbers as CASE constants)
      val round1 =
        """v1 AS (SELECT scenario, src state,
          |    CAST(sum(CAST(p * CASE WHEN dst2 = 'CONV' THEN 1.0
          |      WHEN dst2 = 'NULL' THEN 0.0 ELSE 0.0 END
          |      AS DECIMAL(38,15))) AS DOUBLE) v
          |  FROM pscen GROUP BY 1, 2)""".stripMargin
      val laterRounds = (2 to 12).map { i =>
        s"""v$i AS (SELECT ps.scenario, ps.src state,
           |    CAST(sum(CAST(ps.p * CASE WHEN ps.dst2 = 'CONV' THEN 1.0
           |      WHEN ps.dst2 = 'NULL' THEN 0.0
           |      ELSE coalesce(pv.v, 0.0) END AS DECIMAL(38,15))) AS DOUBLE) v
           |  FROM pscen ps LEFT JOIN v${i - 1} pv
           |    ON pv.scenario = ps.scenario AND pv.state = ps.dst2
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH numbered AS (SELECT user_id,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END st,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
        |  FROM events),
        |ev AS (SELECT user_id, st, rn,
        |    min(CASE WHEN st = 'CONV' THEN rn END) OVER (PARTITION BY user_id) prn
        |  FROM numbered
        |  QUALIFY prn IS NULL OR rn <= prn),
        |steps AS (SELECT coalesce(lag(st) OVER
        |      (PARTITION BY user_id ORDER BY rn), 'START') src, st dst
        |  FROM ev),
        |tails AS (SELECT st src, 'NULL' dst FROM (
        |    SELECT st, rn, max(rn) OVER (PARTITION BY user_id) mx
        |    FROM ev WHERE prn IS NULL) WHERE rn = mx),
        |cnt AS (SELECT src, dst, count(*) c
        |  FROM (SELECT * FROM steps UNION ALL SELECT * FROM tails) GROUP BY 1, 2),
        |tot AS (SELECT src, sum(c) t FROM cnt GROUP BY src),
        |p AS (SELECT cnt.src, cnt.dst, cnt.c::DOUBLE / tot.t::DOUBLE p
        |  FROM cnt JOIN tot USING (src)),
        |scen AS (SELECT unnest(['full','view','click','signup','error']) scenario),
        |pscen AS (SELECT scenario, src,
        |    CASE WHEN dst = scenario THEN 'NULL' ELSE dst END dst2,
        |    CAST(sum(CAST(p AS DECIMAL(38,15))) AS DOUBLE) p
        |  FROM p CROSS JOIN scen WHERE src <> scenario GROUP BY 1, 2, 3),
        |$round1,
        |$laterRounds,
        |start AS (SELECT scenario, v FROM v12 WHERE state = 'START'),
        |p0 AS (SELECT v p_full FROM start WHERE scenario = 'full'),
        |eff AS (SELECT scenario channel, v, (p_full - v) / p_full e, p_full
        |  FROM start CROSS JOIN p0 WHERE scenario <> 'full'),
        |esum AS (SELECT CAST(sum(CAST(e AS DECIMAL(38,15))) AS DOUBLE) es FROM eff)
        |SELECT channel, round(p_full, 6) AS p_conv_full,
        |  round(v, 6) AS p_conv_removed, round(e, 6) AS removal_effect,
        |  round(e / es, 6) AS attribution
        |FROM eff CROSS JOIN esum ORDER BY channel""".stripMargin
    }),
    Query("q363_rec_coverage", q363RecCoverage,
      """WITH purch AS (SELECT DISTINCT o.o_custkey c, l.l_partkey p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |bp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
        |capped AS (SELECT o, p FROM (SELECT o, p, row_number() OVER
        |    (PARTITION BY p ORDER BY
        |      ('0x' || substr(md5('rc|' || o || '|' || p), 1, 15))::BIGINT, o) r
        |  FROM bp) WHERE r <= 64),
        |pairs AS (SELECT a.p u, b.p v, count(*) cc FROM capped a JOIN capped b
        |  ON a.o = b.o AND a.p <> b.p GROUP BY 1, 2),
        |sim AS (SELECT u, v, cc FROM (SELECT u, v, cc,
        |    row_number() OVER (PARTITION BY u ORDER BY cc DESC, v) r FROM pairs)
        |  WHERE r <= 20),
        |cand AS (SELECT pu.c, s.v, sum(s.cc) score
        |  FROM purch pu JOIN sim s ON s.u = pu.p
        |  GROUP BY pu.c, s.v),
        |cand2 AS (SELECT c, v, score FROM cand
        |  WHERE NOT EXISTS (SELECT 1 FROM purch x WHERE x.c = cand.c AND x.p = cand.v)),
        |recs AS (SELECT c, v FROM (SELECT c, v,
        |    row_number() OVER (PARTITION BY c ORDER BY score DESC, v) r FROM cand2)
        |  WHERE r <= 3),
        |poptot AS (SELECT count(*) np FROM purch),
        |pop AS (SELECT p v, count(*) pv FROM purch GROUP BY p),
        |nov AS (SELECT count(*) n_recs,
        |    -CAST(sum(CAST(ln(pv::DOUBLE / np::DOUBLE) AS DECIMAL(38,15))) AS DOUBLE)
        |      / count(*)::DOUBLE nov
        |  FROM recs JOIN pop USING (v) CROSS JOIN poptot),
        |cov AS (SELECT count(DISTINCT v) n_rec_parts FROM recs),
        |cat AS (SELECT count(*) n_catalog FROM part),
        |us AS (SELECT count(DISTINCT c) n_users FROM recs)
        |SELECT n_users::BIGINT AS n_users, n_recs::BIGINT AS n_recs,
        |  n_rec_parts::BIGINT AS n_rec_parts, n_catalog::BIGINT AS n_catalog,
        |  round(n_rec_parts::DOUBLE / n_catalog::DOUBLE, 6) AS coverage,
        |  round(nov, 6) AS novelty_nats
        |FROM us CROSS JOIN cov CROSS JOIN cat CROSS JOIN nov""".stripMargin),
    Query("q364_qini_uplift", q364QiniUplift,
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) dy, event_type FROM events),
        |split AS (SELECT min(dy) + 15 cut FROM ev),
        |score AS (SELECT user_id, count(*) score FROM ev CROSS JOIN split
        |  WHERE dy < cut GROUP BY user_id),
        |conv AS (SELECT DISTINCT user_id, 1 y FROM ev CROSS JOIN split
        |  WHERE dy >= cut AND event_type = 'purchase'),
        |users AS (SELECT s.user_id, s.user_id % 2 arm, s.score::DOUBLE sc,
        |    coalesce(c.y, 0) y
        |  FROM score s LEFT JOIN conv c USING (user_id)),
        |th AS (SELECT quantile_cont(sc,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) t FROM users),
        |cells AS (SELECT CASE
        |      WHEN sc > t[9] THEN 1 WHEN sc > t[8] THEN 2 WHEN sc > t[7] THEN 3
        |      WHEN sc > t[6] THEN 4 WHEN sc > t[5] THEN 5 WHEN sc > t[4] THEN 6
        |      WHEN sc > t[3] THEN 7 WHEN sc > t[2] THEN 8 WHEN sc > t[1] THEN 9
        |      ELSE 10 END decile,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) n1,
        |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END) c1,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) n0,
        |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END) c0
        |  FROM users CROSS JOIN th GROUP BY 1),
        |cum AS (SELECT decile, n1, n0,
        |    sum(n1) OVER (ORDER BY decile) cn1, sum(c1) OVER (ORDER BY decile) cc1,
        |    sum(n0) OVER (ORDER BY decile) cn0, sum(c0) OVER (ORDER BY decile) cc0
        |  FROM cells),
        |tot AS (SELECT sum(n1) tn1, sum(c1) tc1, sum(n0) tn0, sum(c0) tc0 FROM cells)
        |SELECT decile, n1::BIGINT AS n1, n0::BIGINT AS n0,
        |  round((cc1::DOUBLE / cn1::DOUBLE - cc0::DOUBLE / cn0::DOUBLE) *
        |    (cn1 + cn0)::DOUBLE, 6) AS uplift_cum,
        |  round(((cc1::DOUBLE / cn1::DOUBLE - cc0::DOUBLE / cn0::DOUBLE) -
        |    (tc1::DOUBLE / tn1::DOUBLE - tc0::DOUBLE / tn0::DOUBLE)) *
        |    (cn1 + cn0)::DOUBLE, 6) AS qini_cum
        |FROM cum CROSS JOIN tot ORDER BY decile""".stripMargin),
    Query("q365_good_turing", q365GoodTuring,
      """WITH tok AS (SELECT w, count(*) r FROM (SELECT
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i + 1])) w
        |  FROM (SELECT str_split(text, ' ') ws FROM documents)
        |  WHERE len(ws) >= 2) GROUP BY w),
        |nr AS (SELECT r, count(*) n_r FROM tok GROUP BY r),
        |tot AS (SELECT sum(r) n, count(*) v FROM tok)
        |SELECT a.r, a.n_r::BIGINT AS n_r,
        |  round((a.r + 1)::DOUBLE * coalesce(b.n_r, 0)::DOUBLE / a.n_r::DOUBLE, 6)
        |    AS r_star,
        |  n::BIGINT AS n_tokens, v::BIGINT AS vocab
        |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1 CROSS JOIN tot
        |WHERE a.r <= 4 ORDER BY a.r""".stripMargin))
}
