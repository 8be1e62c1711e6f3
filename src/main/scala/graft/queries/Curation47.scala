package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 17: estimation and optimizer internals — the doubly
  * robust (AIPW) treatment-effect estimator, next-event Markov
  * prediction with held-out accuracy, Duffield–Lund–Thorup priority
  * sampling, a sketch-merge error audit, and the V-optimal histogram
  * DP that query optimizers build for cardinality estimation.
  */
object Curation47 {

  /** q396: doubly robust (AIPW) estimation of the high-value-exposure
    * effect on conversion — the estimator that stays consistent if
    * EITHER the propensity model or the outcome model is right. Both
    * models live on the bounded segment grid (one keyed pass); the
    * augmented scores are one linear scan against the broadcast grid
    * with decimal sums. Reported next to the plain g-formula estimate
    * (q383) so the model-disagreement gap is visible.
    */
  private val q396DoublyRobust: Q = (s, d) => {
    // exposure = the user's mean event value above the median of user
    // means: ~50/50 at ANY scale (a per-event threshold degenerates as
    // events-per-user grows — every user eventually has one extreme)
    val um = Tables.events(s, d)
      .groupBy((col("user_id") % 4).as("seg"), col("user_id"))
      .agg((sum(dec(col("value"))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("mv"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val med = um.agg(percentile(col("mv"), lit(0.5)).as("med"))
    val u = um.crossJoin(broadcast(med))
      .select(col("seg"), col("user_id"),
        when(col("mv") > col("med"), 1L).otherwise(0L).as("t"), col("y"))
    val cells = u.groupBy("seg").agg(count(lit(1)).as("n"),
      sum(col("t")).as("nt"),
      sum(when(col("t") === 1, col("y")).otherwise(0L)).as("y1"),
      sum(when(col("t") === 0, col("y")).otherwise(0L)).as("y0"))
      .select(col("seg"),
        (col("nt").cast(DoubleType) / col("n").cast(DoubleType)).as("e"),
        (col("y1").cast(DoubleType) / col("nt").cast(DoubleType)).as("mu1"),
        (col("y0").cast(DoubleType) / (col("n") - col("nt")).cast(DoubleType))
          .as("mu0"))
    val scored = u.join(broadcast(cells), "seg")
      .select(
        (col("t").cast(DoubleType) * (col("y").cast(DoubleType) - col("mu1")) /
          col("e") + col("mu1") -
          ((lit(1.0) - col("t").cast(DoubleType)) *
            (col("y").cast(DoubleType) - col("mu0")) / (lit(1.0) - col("e")) +
            col("mu0"))).as("psi"),
        (col("mu1") - col("mu0")).as("dg"))
    scored.agg(count(lit(1)).as("n_users"),
        (sum(dec(col("psi"))).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .as("ate_dr"),
        (sum(dec(col("dg"))).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .as("ate_gf"))
      .select(col("n_users"), round(col("ate_dr"), 6).as("ate_dr"),
        round(col("ate_gf"), 6).as("ate_gformula"),
        round(col("ate_dr") - col("ate_gf"), 6).as("model_gap"))
  }

  /** q397: next-event prediction from the Markov transition matrix
    * with a temporal holdout — train argmax(next | current) on the
    * first 15 days (bounded 5×5 matrix, deterministic tie-break),
    * score accuracy on the rest against the global-majority baseline.
    * Transitions are per-user lag windows; train/test never mix; the
    * readout is exact integer quotients.
    */
  private val q397NextEventEval: Q = (s, d) => {
    val wUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        to_date(col("ts")).as("day"))
    val cut = ev.agg(date_add(min(col("day")), 15).as("cut"))
    val steps = ev.crossJoin(broadcast(cut))
      .select(col("user_id"), col("event_type").as("nxt"), col("day"), col("cut"),
        lag(col("event_type"), 1).over(wUser).as("cur"),
        lag(col("day"), 1).over(wUser).as("pday"))
      .filter(col("cur").isNotNull)
    val train = steps.filter(col("day") < col("cut") && col("pday") < col("cut"))
      .groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
    val wPred = Window.partitionBy("cur").orderBy(col("c").desc, col("nxt"))
    val pred = train.withColumn("r", row_number().over(wPred))
      .filter(col("r") === 1).select(col("cur"), col("nxt").as("pred"))
    val majority = train.groupBy("nxt").agg(sum(col("c")).as("c"))
      .orderBy(col("c").desc, col("nxt")).limit(1)
      .select(col("nxt").as("maj"))
    val test = steps.filter(col("pday") >= col("cut"))
      .join(broadcast(pred), "cur").crossJoin(broadcast(majority))
    test.agg(count(lit(1)).as("n_test"),
        sum(when(col("nxt") === col("pred"), 1L).otherwise(0L)).as("n_hit"),
        sum(when(col("nxt") === col("maj"), 1L).otherwise(0L)).as("n_base"))
      .select(col("n_test"),
        round(col("n_hit").cast(DoubleType) / col("n_test").cast(DoubleType), 6)
          .as("accuracy"),
        round(col("n_base").cast(DoubleType) / col("n_test").cast(DoubleType), 6)
          .as("baseline_accuracy"))
  }

  /** q398: priority sampling (Duffield–Lund–Thorup) for weighted
    * subset-sum estimation — priorities w/u from a seeded-hash uniform,
    * keep the top k = 200 (TakeOrdered, never a global sort), threshold
    * τ = the (k+1)-th priority, estimator Σ max(w, τ) — unbiased with
    * near-optimal variance, and every step deterministic and
    * replayable. The audit row compares the estimate against the exact
    * decimal total sitting in the same table.
    */
  private val q398PrioritySampling: Q = (s, d) => {
    val pop = Tables.customer(s, d)
      .select(col("c_custkey"), (col("c_acctbal") + 1000.0).as("w"))
      .select(col("c_custkey"), col("w"),
        (col("w") / (mdHash(concat_ws("|", lit("ps"), col("c_custkey")))
          .cast(DoubleType) / lit(1152921504606846976.0))).as("q"))
    val topk1 = pop.orderBy(col("q").desc, col("c_custkey")).limit(201)
    val tau = topk1.agg(min(col("q")).as("tau"))
    val est = topk1.crossJoin(broadcast(tau)).filter(col("q") > col("tau"))
      .agg(count(lit(1)).as("k"),
        sum(dec(greatest(col("w"), col("tau")))).cast(DoubleType).as("est"))
    val truth = pop.agg(count(lit(1)).as("n"),
      sum(dec(col("w"))).cast(DoubleType).as("tw"))
    est.crossJoin(broadcast(truth))
      .select(col("n"), col("k"), round(col("est"), 6).as("est_total"),
        round(col("tw"), 6).as("true_total"),
        round((col("est") - col("tw")) / col("tw"), 6).as("rel_err"))
  }

  /** q399: sketch-merge error audit — the q07 contract applied to
    * quantiles: per-type exact interpolated P99 (the oracle-checkable
    * truth) next to Spark's mergeable approx_percentile sketch, with
    * the within-5% boolean being the cross-engine contract (the oracle
    * asserts the bound, not the sketch internals — sketches are
    * engine-specific, their ERROR CONTRACT is not).
    */
  private val q399SketchMergeError: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        percentile(col("value"), lit(0.99)).as("exact_p99"),
        expr("approx_percentile(value, 0.99, 1000)").as("approx"))
      .select(col("event_type"), col("n"), round(col("exact_p99"), 6).as("exact_p99"),
        (abs(col("approx") - col("exact_p99")) / col("exact_p99") <= 0.05)
          .as("within_5pct"))
      .orderBy("event_type")
  }

  /** q400: V-optimal histogram construction — the DP every serious
    * optimizer runs to build cardinality-estimation histograms
    * (Jagadish et al. 1998): 20 equal-width pre-bins with exact
    * (n, Σ, Σ²) moments in ONE corpus pass, then the k-bucket DP
    * dp_k(j) = min_i dp_{k-1}(i-1) + SSE(i..j) entirely on the bounded
    * grid, driver-side (a bounded model contract; the oracle replays
    * the identical unrolled rounds). Output: optimal total SSE for
    * k = 1..6 — the marginal-benefit curve that picks the bucket
    * budget.
    */
  private val q400VoptimalHistogram: Q = (s, d) => {
    import s.implicits._
    val v = Tables.events(s, d).select(col("value").as("x"))
    val b = v.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val bins = v.crossJoin(broadcast(b))
      .select(least(floor((col("x") - col("lo")) * 20 / (col("hi") - col("lo"))),
        lit(19)).cast("long").as("bin"), col("x"))
      .groupBy("bin").agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).cast(DoubleType).as("sx"),
        sum(dec(col("x") * col("x"))).cast(DoubleType).as("sxx"))
      .orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val m = bins.length
    // prefix moments over the bounded grid — decimal-exact cumulation
    // (BigDecimal at scale 15, the dec() convention) so the engine and
    // the oracle's DECIMAL window sums agree bit-for-bit
    def d15(x: Double): BigDecimal =
      BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    val pn = bins.scanLeft(0L)(_ + _._2).tail
    val ps = bins.scanLeft(BigDecimal(0))((a, b) => a + d15(b._3)).tail
    val pq = bins.scanLeft(BigDecimal(0))((a, b) => a + d15(b._4)).tail
    def sse(i: Int, j: Int): Double = { // pre-bins i..j inclusive, 0-based
      val n = pn(j) - (if (i == 0) 0L else pn(i - 1))
      val sx = (ps(j) - (if (i == 0) BigDecimal(0) else ps(i - 1))).toDouble
      val sq = (pq(j) - (if (i == 0) BigDecimal(0) else pq(i - 1))).toDouble
      sq - sx * sx / n.toDouble
    }
    val dp = Array.fill(7, m)(Double.MaxValue)
    for (j <- 0 until m) dp(1)(j) = sse(0, j)
    for (k <- 2 to 6; j <- 0 until m) {
      var best = Double.MaxValue
      for (i <- 1 to j) {
        val c = dp(k - 1)(i - 1) + sse(i, j)
        if (c < best) best = c
      }
      dp(k)(j) = best
    }
    (1 to 6).map(k => (k.toLong, dp(k)(m - 1)))
      .toDF("k", "sse")
      .select(col("k"), round(col("sse"), 6).as("sse_opt"))
      .orderBy("k")
  }

  val queries: Seq[Query] = Seq(
    Query("q396_doubly_robust", q396DoublyRobust,
      """WITH um AS (SELECT user_id % 4 seg, user_id,
        |    CAST(sum(CAST(value AS DECIMAL(38,15))) AS DOUBLE)
        |      / count(*)::DOUBLE mv,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT quantile_cont(mv, 0.5) med FROM um),
        |u AS (SELECT seg, user_id,
        |    CASE WHEN mv > med THEN 1 ELSE 0 END t, y
        |  FROM um CROSS JOIN med),
        |cells AS (SELECT seg, nt::DOUBLE / n::DOUBLE e,
        |    y1::DOUBLE / nt::DOUBLE mu1, y0::DOUBLE / (n - nt)::DOUBLE mu0
        |  FROM (SELECT seg, count(*) n, sum(t) nt,
        |      sum(CASE WHEN t = 1 THEN y ELSE 0 END) y1,
        |      sum(CASE WHEN t = 0 THEN y ELSE 0 END) y0
        |    FROM u GROUP BY seg)),
        |scored AS (SELECT
        |    t::DOUBLE * (y::DOUBLE - mu1) / e + mu1 -
        |      ((1.0 - t::DOUBLE) * (y::DOUBLE - mu0) / (1.0 - e) + mu0) psi,
        |    mu1 - mu0 dg
        |  FROM u JOIN cells USING (seg))
        |SELECT count(*)::BIGINT AS n_users,
        |  round(CAST(sum(CAST(psi AS DECIMAL(38,15))) AS DOUBLE)
        |    / count(*)::DOUBLE, 6) AS ate_dr,
        |  round(CAST(sum(CAST(dg AS DECIMAL(38,15))) AS DOUBLE)
        |    / count(*)::DOUBLE, 6) AS ate_gformula,
        |  round(CAST(sum(CAST(psi AS DECIMAL(38,15))) AS DOUBLE) / count(*)::DOUBLE -
        |    CAST(sum(CAST(dg AS DECIMAL(38,15))) AS DOUBLE) / count(*)::DOUBLE, 6)
        |    AS model_gap
        |FROM scored""".stripMargin),
    Query("q397_next_event_eval", q397NextEventEval,
      """WITH ev AS (SELECT user_id, ts, event_id, event_type, CAST(ts AS DATE) dy
        |  FROM events),
        |cut AS (SELECT min(dy) + 15 cut FROM ev),
        |steps AS (SELECT user_id, event_type nxt, dy, cut,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) cur,
        |    lag(dy) OVER (PARTITION BY user_id ORDER BY ts, event_id) pday
        |  FROM ev CROSS JOIN cut
        |  QUALIFY cur IS NOT NULL),
        |train AS (SELECT cur, nxt, count(*) c FROM steps
        |  WHERE dy < cut AND pday < cut GROUP BY 1, 2),
        |pred AS (SELECT cur, nxt pred FROM (SELECT cur, nxt,
        |    row_number() OVER (PARTITION BY cur ORDER BY c DESC, nxt) r FROM train)
        |  WHERE r = 1),
        |maj AS (SELECT nxt maj FROM (SELECT nxt, sum(c) c FROM train GROUP BY nxt)
        |  ORDER BY c DESC, nxt LIMIT 1),
        |test AS (SELECT s.nxt, p.pred, m.maj FROM steps s
        |  JOIN pred p USING (cur) CROSS JOIN maj m WHERE s.pday >= s.cut)
        |SELECT count(*)::BIGINT AS n_test,
        |  round(sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS accuracy,
        |  round(sum(CASE WHEN nxt = maj THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS baseline_accuracy
        |FROM test""".stripMargin),
    Query("q398_priority_sampling", q398PrioritySampling,
      s"""WITH pop AS (SELECT c_custkey, c_acctbal + 1000.0 w FROM customer),
         |pri AS (SELECT c_custkey, w,
         |    w / (${mdHashSql("'ps|' || c_custkey")}::DOUBLE
         |      / 1152921504606846976.0) q
         |  FROM pop),
         |topk1 AS (SELECT * FROM pri ORDER BY q DESC, c_custkey LIMIT 201),
         |tau AS (SELECT min(q) tau FROM topk1),
         |est AS (SELECT count(*) k,
         |    CAST(sum(CAST(greatest(w, tau) AS DECIMAL(38,15))) AS DOUBLE) est
         |  FROM topk1 CROSS JOIN tau WHERE q > tau),
         |truth AS (SELECT count(*) n,
         |    CAST(sum(CAST(w AS DECIMAL(38,15))) AS DOUBLE) tw FROM pop)
         |SELECT n::BIGINT AS n, k::BIGINT AS k, round(est, 6) AS est_total,
         |  round(tw, 6) AS true_total, round((est - tw) / tw, 6) AS rel_err
         |FROM est CROSS JOIN truth""".stripMargin),
    Query("q399_sketch_merge_error", q399SketchMergeError,
      """SELECT event_type, count(*)::BIGINT AS n,
        |  round(quantile_cont(value, 0.99), 6) AS exact_p99,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q400_voptimal_histogram", q400VoptimalHistogram, {
      // unrolled k = 2..6 DP rounds over the bounded 20-bin grid; sse
      // uses the same prefix-moment closed form as the engine
      val rounds = (2 to 6).map { k =>
        s"""dp$k AS (SELECT j.i j, min(p.v + s.sse) v
           |  FROM ids j JOIN dp${k - 1} p ON p.j < j.i
           |  JOIN sse s ON s.i = p.j + 1 AND s.j = j.i
           |  GROUP BY j.i)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 6).map { k =>
        s"SELECT $k k, (SELECT v FROM dp$k WHERE j = (SELECT max(i) FROM ids)) sse"
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT value x FROM events),
        |b AS (SELECT min(x) lo, max(x) hi FROM v),
        |bins AS (SELECT least(floor((x - lo) * 20 / (hi - lo)), 19)::BIGINT bin,
        |    count(*) n,
        |    CAST(sum(CAST(x AS DECIMAL(38,15))) AS DOUBLE) sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) sxx
        |  FROM v CROSS JOIN b GROUP BY 1),
        |ord AS (SELECT bin, n, sx, sxx,
        |    row_number() OVER (ORDER BY bin) - 1 i FROM bins),
        |ids AS (SELECT i FROM ord),
        |pref AS (SELECT i, sum(n) OVER (ORDER BY i) pn,
        |    sum(CAST(sx AS DECIMAL(38,15))) OVER (ORDER BY i) psx,
        |    sum(CAST(sxx AS DECIMAL(38,15))) OVER (ORDER BY i) psxx
        |  FROM ord),
        |sse AS (SELECT a.i i, c.i j,
        |    (c.psxx - coalesce(p.psxx, 0))::DOUBLE -
        |      ((c.psx - coalesce(p.psx, 0))::DOUBLE *
        |       (c.psx - coalesce(p.psx, 0))::DOUBLE) /
        |      (c.pn - coalesce(p.pn, 0))::DOUBLE sse
        |  FROM ids a JOIN pref c ON c.i >= a.i
        |  LEFT JOIN pref p ON p.i = a.i - 1),
        |dp1 AS (SELECT j, sse v FROM sse WHERE i = 0),
        |$rounds
        |SELECT k::BIGINT AS k, round(sse, 6) AS sse_opt FROM (
        |$sel
        |) ORDER BY k""".stripMargin
    }))
}
