package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 9: data valuation and experiment-monitoring shapes —
  * exact KNN-Shapley over the embedding table, iterative proportional
  * fitting (raking) for post-stratification weights, a sequential
  * probability ratio test over the daily event series, pinball-loss
  * evaluation of quantile forecasts, and a switchback experiment
  * readout with cluster-robust (block-level) variance.
  */
object Curation39 {

  /** q356: exact KNN-Shapley data valuation (Jia et al., VLDB 2019) —
    * the per-training-point value of each embedding for a K=5 nearest-
    * neighbor classifier, averaged over a 32-point coordinated test
    * sample (seeded-hash bottom-k, the q322 device: fixed size at any
    * corpus scale). The exact closed form orders each test point's
    * training rows nearest-first and runs the tail recurrence
    * s_N = u_N/N, s_j = s_(j+1) + (u_j − u_(j+1))/K · min(K,j)/j —
    * realized as ONE running sum over the reverse ordering (never an
    * unbounded-FOLLOWING frame, per the q331 lesson). Scale shape:
    * |tests| is bounded, so the pair stage is a broadcast cross of 32
    * rows against the corpus (linear), similarities ride the codegen'd
    * native dot kernel (the q77/q343 shape; DuckDB `list_dot_product`
    * is fold-order-compatible, proven by the IVF oracle hashes), and
    * the recurrence is a per-test-partition window — 32-way parallel,
    * O(n) each. Per-point means decimal-sum the 32 exact window
    * results, so partition order never perturbs a value. Output: the
    * 10 most valuable training points.
    */
  private val q356KnnShapley: Q = (s, d) => {
    import graft.functions.GraftFunctions.dotNative
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
    val tests = emb
      .withColumn("h", mdHash(concat_ws("|", lit("ks"), col("vec_id"))))
      .orderBy(col("h"), col("vec_id")).limit(32)
      .select(col("vec_id").as("tid"), col("v").as("tv"), col("label").as("tl"))
    val train = emb.join(tests.select(col("tid").as("vec_id")), Seq("vec_id"), "left_anti")
    val pairs = train.crossJoin(broadcast(tests))
      .select(col("tid"), col("vec_id"),
        dotNative(col("v"), col("tv")).as("dp"),
        when(col("label") === col("tl"), 1.0).otherwise(0.0).as("u"))
    knnShapley(pairs).groupBy("vec_id")
      .agg((sum(dec(col("s"))).cast(DoubleType) / 32.0).as("m"))
      .select(col("vec_id"), round(col("m") * 1000, 6).as("shapley_x1000"))
      .orderBy(col("m").desc, col("vec_id")).limit(10)
  }

  /** The exact K=5 KNN-Shapley tail recurrence as one reverse-ordered
    * running sum — see q356. Input: (tid, vec_id, dp, u) pair rows;
    * output: (tid, vec_id, s). Package-visible for the spec, which
    * checks it against a direct sequential-loop implementation of the
    * published recurrence.
    */
  private[graft] def knnShapley(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wnn = Window.partitionBy("tid").orderBy(col("dp").desc, col("vec_id"))
    val ranked = pairs.select(col("tid"), col("vec_id"), col("u"),
      row_number().over(wnn).as("j"), lead(col("u"), 1).over(wnn).as("un"),
      count(lit(1)).over(Window.partitionBy("tid")).as("n"))
    val contrib = ranked.select(col("tid"), col("vec_id"), col("j"),
      when(col("j") === col("n"), col("u") / col("n").cast(DoubleType))
        .otherwise((col("u") - col("un")) / 5.0 *
          least(lit(5L), col("j").cast("long")).cast(DoubleType) / col("j").cast(DoubleType))
        .as("c"))
    contrib.select(col("tid"), col("vec_id"),
      sum(col("c")).over(Window.partitionBy("tid").orderBy(col("j").desc)).as("s"))
  }

  /** q357: post-stratification weights by iterative proportional
    * fitting (raking) — reweight a deterministic ~1/7 customer sample
    * so its nation and market-segment margins match the full
    * population, two IPF half-steps (nation, then segment). The corpus
    * collapses to the 25×5 (nation, segment) cell grid in ONE keyed
    * pass (plus two margin passes on the full table); every IPF update
    * is arithmetic on that bounded grid, so the fit costs the same at
    * any corpus size. Cell counts are integers; weights become doubles
    * through identical literal arithmetic in both engines, and grid
    * sums are decimal-accumulated. Output: per-nation raked totals vs
    * targets after the segment step.
    */
  private val q357RakingWeights: Q = (s, d) => {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
    val tn = cust.groupBy("nk").agg(count(lit(1)).as("tn"))
    val ts = cust.groupBy("seg").agg(count(lit(1)).as("ts"))
    val cells = cust.filter(col("c_custkey") % 7 === 3)
      .groupBy("nk", "seg").agg(count(lit(1)).as("cn"))
    val sn = cells.groupBy("nk").agg(sum(col("cn")).as("sn"))
    val w1 = cells.join(broadcast(tn), "nk").join(broadcast(sn), "nk")
      .select(col("nk"), col("seg"), col("cn"),
        (col("tn").cast(DoubleType) / col("sn").cast(DoubleType)).as("w1"), col("tn"))
    val sw1 = w1.groupBy("seg")
      .agg(sum(dec(col("cn") * col("w1"))).cast(DoubleType).as("sw1"))
    val w2 = w1.join(broadcast(ts), "seg").join(broadcast(sw1), "seg")
      .select(col("nk"), col("cn"), col("tn"),
        (col("w1") * (col("ts").cast(DoubleType) / col("sw1"))).as("w2"))
    w2.groupBy("nk")
      .agg(max(col("tn")).as("target_n"),
        sum(dec(col("cn") * col("w2"))).cast(DoubleType).as("raked"))
      .select(col("nk").as("nationkey"), col("target_n"),
        round(col("raked"), 6).as("raked_total"),
        round((col("raked") - col("target_n").cast(DoubleType)) /
          col("target_n").cast(DoubleType), 6).as("rel_err"))
      .orderBy("nationkey")
  }

  /** q358: sequential probability ratio test (Wald) monitoring the
    * purchase-conversion rate per experiment arm — H0 p=0.10 vs H1
    * p=0.12, boundaries ±ln(19) (α=β=0.05). The corpus reduces to one
    * (arm, day) row per keyed pass; the running log-likelihood ratio
    * is a cumulative window sum over the bounded day domain. The LLR
    * weights are precomputed literal doubles (ln(p1/p0), ln(q1/q0)) so
    * both engines execute bit-identical arithmetic — no libm-ulp drift
    * can flip a boundary crossing. Output per arm: final LLR and the
    * first upper/lower crossing days.
    */
  private val q358SprtMonitor: Q = (s, d) => {
    val lw = 0.182322  // ln(0.12/0.10) rounded to 6 dp, fixed literal
    val ll = -0.022473 // ln(0.88/0.90) rounded to 6 dp, fixed literal
    val bound = 2.944439 // ln(19)
    val daily = Tables.events(s, d)
      .groupBy((col("user_id") % 2).as("arm"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cv"))
    val w = Window.partitionBy("arm").orderBy("day") // bounded day domain
    val cum = daily.select(col("arm"), col("day"),
      sum(col("cv").cast(DoubleType) * lw +
        (col("n") - col("cv")).cast(DoubleType) * ll).over(w).as("llr"))
    val fin = cum.groupBy("arm").agg(max(col("day")).as("day"))
      .join(cum, Seq("arm", "day"))
      .select(col("arm"), round(col("llr"), 6).as("final_llr"))
    // a boundary that never crosses yields NULL, which the driver's
    // pandas canonicalization renders as NaT — pin to a sentinel date
    val cross = cum.groupBy("arm")
      .agg(coalesce(min(when(col("llr") >= bound, col("day"))),
          to_date(lit("9999-12-31"))).as("cross_up_day"),
        coalesce(min(when(col("llr") <= -bound, col("day"))),
          to_date(lit("9999-12-31"))).as("cross_dn_day"))
    fin.join(cross, "arm").orderBy("arm")
  }

  /** q359: pinball-loss evaluation of quantile forecasts — fit P50/P90
    * of the event value per event type on the first 15 days, score the
    * remainder with the quantile (pinball) loss the forecasting
    * literature grades against. Two keyed passes (exact interpolated
    * percentiles on train, decimal-summed per-row losses on test) over
    * the bounded event-type domain; Spark `percentile` and DuckDB
    * `quantile_cont` share linear interpolation (the q08 parity).
    */
  private val q359PinballLoss: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val split = ev.agg(date_add(min(col("day")), 15).as("cut"))
    val tagged = ev.crossJoin(broadcast(split))
    val f = tagged.filter(col("day") < col("cut")).groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("f50"),
        percentile(col("value"), lit(0.9)).as("f90"))
    val test = tagged.filter(col("day") >= col("cut"))
      .join(broadcast(f), "event_type")
    // q−1 is passed as a literal (−0.5 / −0.1), NOT computed as q−1.0:
    // Scala's 0.9−1.0 is −0.09999999999999998 while the oracle parses
    // the literal −0.1 — identical literals keep the doubles bit-equal.
    def pin(q: Double, qm1: Double, fc: org.apache.spark.sql.Column) = {
      val e = col("value") - fc
      greatest(e * q, e * qm1)
    }
    test.groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        round(max(col("f50")), 6).as("f50"), round(max(col("f90")), 6).as("f90"),
        round(sum(dec(pin(0.5, -0.5, col("f50")))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("pinball50"),
        round(sum(dec(pin(0.9, -0.1, col("f90")))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("pinball90"))
      .orderBy("event_type")
  }

  /** q360: switchback experiment readout — arms alternate by 6-hour
    * time block (the standard marketplace design when units interfere),
    * so the correct unit of inference is the BLOCK: per-block
    * conversion rates, then a two-sample t on block means with
    * cluster-robust (block-level) sample variance. One keyed pass to
    * the bounded block grid; every moment is a decimal sum over block
    * rates, so the readout is partition-order exact.
    */
  private val q360SwitchbackReadout: Q = (s, d) => {
    val blocked = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 21600000000").as("blk"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("cv"))
      .groupBy("blk").agg(count(lit(1)).as("n"), sum(col("cv")).as("cv"))
      .select((col("blk") % 2).as("arm"),
        (col("cv").cast(DoubleType) / col("n").cast(DoubleType)).as("rate"))
    val mom = blocked.groupBy("arm").agg(count(lit(1)).as("nb"),
      sum(dec(col("rate"))).cast(DoubleType).as("sr"),
      sum(dec(col("rate") * col("rate"))).cast(DoubleType).as("srr"))
    val piv = mom.agg(
      max(when(col("arm") === 0, col("nb"))).as("nb0"),
      max(when(col("arm") === 1, col("nb"))).as("nb1"),
      max(when(col("arm") === 0, col("sr"))).as("sr0"),
      max(when(col("arm") === 1, col("sr"))).as("sr1"),
      max(when(col("arm") === 0, col("srr"))).as("srr0"),
      max(when(col("arm") === 1, col("srr"))).as("srr1"))
    piv.select(col("nb0"), col("nb1"),
        (col("sr1") / col("nb1").cast(DoubleType) -
          col("sr0") / col("nb0").cast(DoubleType)).as("diff"),
        sqrt((col("srr1") - col("sr1") * col("sr1") / col("nb1").cast(DoubleType)) /
            (col("nb1") - 1).cast(DoubleType) / col("nb1").cast(DoubleType) +
          (col("srr0") - col("sr0") * col("sr0") / col("nb0").cast(DoubleType)) /
            (col("nb0") - 1).cast(DoubleType) / col("nb0").cast(DoubleType)).as("se"))
      .select(col("nb0"), col("nb1"), round(col("diff"), 6).as("diff"),
        round(col("se"), 6).as("se"), round(col("diff") / col("se"), 6).as("t_stat"))
  }

  val queries: Seq[Query] = Seq(
    Query("q356_knn_shapley", q356KnnShapley,
      s"""WITH emb AS (SELECT vec_id, embedding, label FROM embeddings),
         |tests AS (SELECT vec_id tid, embedding tv, label tl FROM emb
         |  ORDER BY ${mdHashSql("'ks|' || vec_id")}, vec_id LIMIT 32),
         |train AS (SELECT * FROM emb WHERE vec_id NOT IN (SELECT tid FROM tests)),
         |pairs AS (SELECT t.tid, tr.vec_id,
         |    list_dot_product(tr.embedding, t.tv) dp,
         |    CASE WHEN tr.label = t.tl THEN 1.0 ELSE 0.0 END u
         |  FROM train tr CROSS JOIN tests t),
         |ranked AS (SELECT tid, vec_id, u,
         |    row_number() OVER (PARTITION BY tid ORDER BY dp DESC, vec_id) j,
         |    lead(u) OVER (PARTITION BY tid ORDER BY dp DESC, vec_id) un,
         |    count(*) OVER (PARTITION BY tid) n
         |  FROM pairs),
         |contrib AS (SELECT tid, vec_id, j,
         |    CASE WHEN j = n THEN u / n::DOUBLE
         |         ELSE (u - un) / 5.0 * least(5, j)::DOUBLE / j::DOUBLE END c
         |  FROM ranked),
         |shap AS (SELECT tid, vec_id,
         |    sum(c) OVER (PARTITION BY tid ORDER BY j DESC) s
         |  FROM contrib),
         |m AS (SELECT vec_id,
         |    CAST(sum(CAST(s AS DECIMAL(38,15))) AS DOUBLE) / 32.0 m
         |  FROM shap GROUP BY vec_id)
         |SELECT vec_id, round(m * 1000, 6) AS shapley_x1000
         |FROM m ORDER BY m DESC, vec_id LIMIT 10""".stripMargin),
    Query("q357_raking_weights", q357RakingWeights,
      """WITH cust AS (SELECT c_custkey, c_nationkey nk, c_mktsegment seg FROM customer),
        |tn AS (SELECT nk, count(*) tn FROM cust GROUP BY nk),
        |ts AS (SELECT seg, count(*) ts FROM cust GROUP BY seg),
        |cells AS (SELECT nk, seg, count(*) cn FROM cust
        |  WHERE c_custkey % 7 = 3 GROUP BY nk, seg),
        |sn AS (SELECT nk, sum(cn) sn FROM cells GROUP BY nk),
        |w1 AS (SELECT c.nk, c.seg, c.cn, tn.tn,
        |    tn.tn::DOUBLE / sn.sn::DOUBLE w1
        |  FROM cells c JOIN tn USING (nk) JOIN sn USING (nk)),
        |sw1 AS (SELECT seg,
        |    CAST(sum(CAST(cn * w1 AS DECIMAL(38,15))) AS DOUBLE) sw1
        |  FROM w1 GROUP BY seg),
        |w2 AS (SELECT w1.nk, w1.cn, w1.tn,
        |    w1.w1 * (ts.ts::DOUBLE / sw1.sw1) w2
        |  FROM w1 JOIN ts USING (seg) JOIN sw1 USING (seg)),
        |fin AS (SELECT nk, max(tn) target_n,
        |    CAST(sum(CAST(cn * w2 AS DECIMAL(38,15))) AS DOUBLE) raked
        |  FROM w2 GROUP BY nk)
        |SELECT nk AS nationkey, target_n::BIGINT AS target_n,
        |  round(raked, 6) AS raked_total,
        |  round((raked - target_n::DOUBLE) / target_n::DOUBLE, 6) AS rel_err
        |FROM fin ORDER BY nationkey""".stripMargin),
    Query("q358_sprt_monitor", q358SprtMonitor,
      """WITH daily AS (SELECT user_id % 2 arm, CAST(ts AS DATE) dy,
        |    count(*) n,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) cv
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT arm, dy,
        |    sum(cv::DOUBLE * 0.182322 + (n - cv)::DOUBLE * -0.022473)
        |      OVER (PARTITION BY arm ORDER BY dy) llr
        |  FROM daily),
        |fin AS (SELECT c.arm, round(c.llr, 6) final_llr
        |  FROM cum c JOIN (SELECT arm, max(dy) dy FROM cum GROUP BY arm) mx
        |  ON c.arm = mx.arm AND c.dy = mx.dy),
        |cr AS (SELECT arm,
        |    coalesce(min(CASE WHEN llr >= 2.944439 THEN dy END),
        |      DATE '9999-12-31') cross_up_day,
        |    coalesce(min(CASE WHEN llr <= -2.944439 THEN dy END),
        |      DATE '9999-12-31') cross_dn_day
        |  FROM cum GROUP BY arm)
        |SELECT arm, final_llr, cross_up_day, cross_dn_day
        |FROM fin JOIN cr USING (arm) ORDER BY arm""".stripMargin),
    Query("q359_pinball_loss", q359PinballLoss,
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) dy, value FROM events),
        |split AS (SELECT min(dy) + 15 cut FROM ev),
        |f AS (SELECT event_type,
        |    quantile_cont(value, 0.5) f50, quantile_cont(value, 0.9) f90
        |  FROM ev CROSS JOIN split WHERE dy < cut GROUP BY event_type),
        |test AS (SELECT ev.event_type, ev.value, f.f50, f.f90
        |  FROM ev CROSS JOIN split JOIN f USING (event_type) WHERE dy >= cut)
        |SELECT event_type, count(*)::BIGINT AS n_test,
        |  round(max(f50), 6) AS f50, round(max(f90), 6) AS f90,
        |  round(CAST(sum(CAST(greatest((value - f50) * 0.5, (value - f50) * -0.5)
        |    AS DECIMAL(38,15))) AS DOUBLE) / count(*)::DOUBLE, 6) AS pinball50,
        |  round(CAST(sum(CAST(greatest((value - f90) * 0.9, (value - f90) * -0.1)
        |    AS DECIMAL(38,15))) AS DOUBLE) / count(*)::DOUBLE, 6) AS pinball90
        |FROM test GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q360_switchback_readout", q360SwitchbackReadout,
      """WITH blocked AS (SELECT epoch_us(ts) // 21600000000 blk,
        |    count(*) n,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) cv
        |  FROM events GROUP BY blk),
        |rates AS (SELECT blk % 2 arm, cv::DOUBLE / n::DOUBLE rate FROM blocked),
        |mom AS (SELECT arm, count(*) nb,
        |    CAST(sum(CAST(rate AS DECIMAL(38,15))) AS DOUBLE) sr,
        |    CAST(sum(CAST(rate * rate AS DECIMAL(38,15))) AS DOUBLE) srr
        |  FROM rates GROUP BY arm),
        |piv AS (SELECT
        |    max(CASE WHEN arm = 0 THEN nb END) nb0,
        |    max(CASE WHEN arm = 1 THEN nb END) nb1,
        |    max(CASE WHEN arm = 0 THEN sr END) sr0,
        |    max(CASE WHEN arm = 1 THEN sr END) sr1,
        |    max(CASE WHEN arm = 0 THEN srr END) srr0,
        |    max(CASE WHEN arm = 1 THEN srr END) srr1
        |  FROM mom),
        |st AS (SELECT nb0, nb1,
        |    sr1 / nb1::DOUBLE - sr0 / nb0::DOUBLE diff,
        |    sqrt((srr1 - sr1 * sr1 / nb1::DOUBLE) / (nb1 - 1)::DOUBLE / nb1::DOUBLE +
        |         (srr0 - sr0 * sr0 / nb0::DOUBLE) / (nb0 - 1)::DOUBLE / nb0::DOUBLE) se
        |  FROM piv)
        |SELECT nb0::BIGINT AS nb0, nb1::BIGINT AS nb1, round(diff, 6) AS diff,
        |  round(se, 6) AS se, round(diff / se, 6) AS t_stat
        |FROM st""".stripMargin))
}
