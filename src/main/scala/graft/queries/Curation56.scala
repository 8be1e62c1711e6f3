package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.mdHash
import graft.operators.Layout
import graft.sources.Tables

/** Round-11 wave 25: stream-stream LEFT OUTER interval join (the
  * watermark-driven null-emission semantics q256's inner join never
  * exercises), restricted mean survival time, local-DP randomized
  * response, Hilbert vs Z-order layout, and PACF via Durbin-Levinson.
  */
object Curation56 {

  /** q431: left-outer stream-stream interval join. Every click joins
    * purchases by the same user 0–30 min AFTER it; a click with no
    * match must STILL emit (with a NULL purchase) — but only once the
    * global watermark passes the end of its join window, because until
    * then a matching purchase could still arrive. That timing rule is
    * the semantics under test, and it was PINNED BY MEASUREMENT: the
    * event-time watermark is min(max c_ts, max p_ts) − 1 h, and the
    * left-state eviction point sits one more delay behind it (Spark
    * keeps left rows an extra watermark delay so late right rows can
    * still match the buffer), so a missing-match click emits iff
    * c_ts + 30 min < min(max c_ts, max p_ts) − 2 h — verified against
    * the boundary clicks (slack 36 min: held; slack 61 min: emitted).
    * The oracle models that rule row-exactly (the null set's id-SUM is
    * checked, not just its count), so an engine that hoards state,
    * flushes eagerly, or applies the delay once instead of twice
    * breaks the hash. Four time-quartile files drive real multi-batch
    * watermark advancement.
    */
  private val q431StreamLeftOuter: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val r = ev.agg(min(col("ts")).as("a"), max(col("ts")).as("b")).head()
    val (mn, mx) = (r.getTimestamp(0), r.getTimestamp(1))
    val spanUs = (mx.getTime - mn.getTime) * 1000L
    val root = graft.operators.Materialize.jvmScratch(
      "lojoin-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
    // four quartile files, oldest first (mtime order = batch order)
    for (i <- 0 until 4) {
      val lo = lit(mn) + expr(s"INTERVAL ${i * spanUs / 4} MICROSECONDS")
      val hi = lit(mn) + expr(s"INTERVAL ${(i + 1) * spanUs / 4} MICROSECONDS")
      val part = if (i == 0) ev.filter(col("ts") <= hi)
        else ev.filter(col("ts") > lo && col("ts") <= hi)
      Curation50.addBatchFile(part, root, f"0$i%s_batch.parquet", 4 - i)
    }
    def lo = {
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/input")
      val clicks = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      clicks.join(purchases,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
          "left_outer")
        .select(col("click_id"), col("c_user").as("user_id"), col("purchase_id"))
    }
    Curation50.runRestartable(lo, ckpt, outDir, "append")
    Curation50.readSink(s, outDir)
      .agg(
        sum(when(col("purchase_id").isNotNull, 1L).otherwise(0L)).as("n_matched_pairs"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L)).as("n_null_clicks"),
        sum(when(col("purchase_id").isNull, col("click_id")).otherwise(0L))
          .as("null_click_id_sum"))
  }

  /** q432: restricted mean survival time RMST(τ=60 d) per user-parity
    * cohort — the survival family's effect-size scalar (KM q221 draws
    * the curve, log-rank q386 tests it, Cox q427 estimates the hazard
    * ratio; RMST is the collapse clinicians and SLO reviews actually
    * compare: expected days-without-failure in the first τ). Computed
    * as the exact step integral of the cohort KM curve: per-interval
    * contribution S(t_{k−1})·(min(t_k,τ) − min(t_{k−1},τ)) plus the
    * S(t_K)·(τ − t_K) tail, 9-dp-rounded terms into exact decimal
    * sums. All risk-set machinery is the bounded-day-domain q221
    * shape, windows cohort-keyed.
    */
  private val q432Rmst: Q = (s, d) => {
    val tau = 60
    val ev = Tables.events(s, d)
    val t0 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("ue"), col("ts").as("te"))
    val firstErr = t0
      .join(err, col("ue") === col("user_id") && col("te") > col("t0"), "left")
      .groupBy(col("user_id"), col("t0")).agg(min(col("te")).as("te"))
    val mx = ev.agg(max(col("ts")).as("tmax"))
    val du = firstErr.crossJoin(broadcast(mx)).select(
      (col("user_id") % 2).cast(LongType).as("x"),
      when(col("te").isNotNull, 1L).otherwise(0L).as("ev"),
      when(col("te").isNotNull, datediff(to_date(col("te")), to_date(col("t0"))))
        .otherwise(datediff(to_date(col("tmax")), to_date(col("t0")))).as("dur"))
    val tm = du.filter(col("ev") === 1)
      .groupBy(col("x"), col("dur").as("t")).agg(count(lit(1)).as("dd"))
    val rk = du.select(col("x").as("rx"), col("dur"))
      .join(broadcast(tm.select(col("x").as("tx"), col("t"))),
        col("rx") === col("tx") && col("dur") >= col("t"))
      .groupBy(col("tx"), col("t")).agg(count(lit(1)).as("nn"))
      .select(col("tx").as("x"), col("t"), col("nn"))
    val wcum = Window.partitionBy("x").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val km = tm.join(rk, Seq("x", "t"))
      .withColumn("f", round(lit(1.0) - col("dd") / col("nn"), 9))
      .withColumn("z", sum(when(col("f") === 0, 1).otherwise(0)).over(wcum))
      .withColumn("slnf",
        sum(when(col("f") > 0, round(log(col("f")), 9)).otherwise(lit(0.0))
          .cast(DecimalType(20, 9))).over(wcum))
      .select(col("x"), col("t"),
        when(col("z") > 0, lit(0.0))
          .otherwise(exp(col("slnf").cast(DoubleType))).as("surv"))
    val wl = Window.partitionBy("x").orderBy("t")
    val contrib = km
      .withColumn("prev_t", lag(col("t"), 1, 0).over(wl))
      .withColumn("prev_s", lag(col("surv"), 1, 1.0).over(wl))
      .withColumn("c", round(col("prev_s") *
        (least(col("t"), lit(tau)) - least(col("prev_t"), lit(tau))), 9)
        .cast(DecimalType(20, 9)))
    val body = contrib.groupBy("x").agg(
      sum(col("c")).as("body"), max(col("t")).as("tlast"),
      max_by(col("surv"), col("t")).as("slast"))
    val cohort = du.groupBy("x")
      .agg(count(lit(1)).as("n_users"), sum(col("ev")).as("n_events"))
    cohort.join(body, "x")
      .select(col("x").as("cohort"), col("n_users"), col("n_events"),
        round(col("body").cast(DoubleType) +
          round(col("slast") * greatest(lit(0), lit(tau) - col("tlast")), 9), 6)
          .as("rmst_60"))
      .orderBy("cohort")
  }

  /** q433: local differential privacy — k-ary randomized response over
    * the event-type frequency query, with the debiasing estimator.
    * Each row reports its TRUE type w.p. p = 0.75 and one of the other
    * k−1 = 4 types uniformly otherwise (deterministic seeded-hash
    * "randomness", the house q136 convention, so the oracle replays
    * the identical coin flips); the estimator inverts the response
    * channel: π̂ = ((c/n) − q)/(p − q) with q = (1−p)/(k−1). The
    * central-DP complement of q271 — here the RAW data is already
    * privatized, the aggregate only debiases. Per-row expressions +
    * two bounded keyed aggregates.
    */
  private val q433LocalDpFreq: Q = (s, d) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val typesArr = array(types.map(lit): _*)
    val rr = Tables.events(s, d).select(col("event_id"), col("event_type"))
      .withColumn("u", mdHash(lit("rr"), col("event_id")))
      .withColumn("idx0", array_position(typesArr, col("event_type")) - 1)
      .withColumn("ridx0",
        when(col("u") % 10000 < 7500, col("idx0"))
          .otherwise(pmod(col("idx0") + 1 + pmod(expr("u DIV 10000"), lit(4)), lit(5))))
      .withColumn("reported", element_at(typesArr, (col("ridx0") + 1).cast("int")))
    val trueC = rr.groupBy(col("event_type")).agg(count(lit(1)).as("n_true"))
    val repC = rr.groupBy(col("reported").as("event_type"))
      .agg(count(lit(1)).as("n_reported"))
    val n = rr.agg(count(lit(1)).as("n"))
    val (p, q) = (0.75, 0.25 / 4)
    trueC.join(repC, Seq("event_type"), "full_outer").na.fill(0L)
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("n_true"), col("n_reported"),
        round(col("n_true") / col("n"), 6).as("pi_true"),
        round((col("n_reported") / col("n") - lit(q)) / lit(p - q), 6).as("pi_hat"),
        round(abs((col("n_reported") / col("n") - lit(q)) / lit(p - q) -
          col("n_true") / col("n")), 6).as("abs_err"))
      .orderBy("event_type")
  }

  /** q434: Hilbert vs Z-order vs hash-scatter layout, judged by the
    * metric that matters — zonemap tightness under EQUAL-COUNT file
    * cuts, the way a compaction writer actually splits (fixed rows per
    * file, split points wherever the curve rank lands): sort by each
    * curve's index over the (partkey mod 256, suppkey mod 256) grid,
    * cut into 64 equal-count files, and sum each file's bounding-box
    * side lengths. Dyadic-ALIGNED buckets would tile identically for
    * both curves on uniform data (measured: exact tie at every
    * power-of-two shift) — it is precisely the arbitrary split points
    * of equal-count cuts that expose the Z-curve's quadrant seams,
    * and the Hilbert curve's no-jump property measures ~20% tighter
    * here (3,420 vs 4,371 total span at sf0.01); the hash baseline is
    * ~5× worse than either. The engine rounds and the oracle CTE
    * stages are generated from the SAME constants
    * ([[Layout.hilbertValue]] / [[Layout.hilbertSqlCtes]]). File ranks
    * run through the distributed `Ranking.globalRank` (range-bucketed,
    * never a single-task window).
    */
  private val q434HilbertLayout: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      pmod(col("l_partkey"), lit(256)).as("xx"),
      pmod(col("l_suppkey"), lit(256)).as("yy"),
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    // NOTE (round 10): materializing idx via spillRelease was measured
    // SLOWER (6.2 s vs 4.1 s at sf0.1) — the curve indices are cheap
    // codegen'd expressions, so recomputing them per rank pass beats
    // writing 600k rows to scratch disk on this host. Left recomputed.
    val idx = li
      .withColumn("h", Layout.hilbertValue(col("xx"), col("yy"), 8))
      .withColumn("z", Layout.zValue(col("xx"), col("yy"), 8))
    val n = broadcast(idx.agg(count(lit(1)).as("n")))
    def files(name: String, ixCol: String) =
      graft.operators.Ranking.globalRank(idx, "rn",
          col(ixCol), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
        .crossJoin(n)
        .select(lit(name).as("layout"),
          expr("CAST(((rn - 1) * 64) DIV n AS BIGINT)").as("bucket"),
          col("xx"), col("yy"))
    val lb = files("1_hilbert", "h")
      .unionByName(files("2_zorder", "z"))
      .unionByName(li.select(lit("3_baseline").as("layout"),
        pmod(col("l_orderkey"), lit(64)).as("bucket"), col("xx"), col("yy")))
    lb.groupBy("layout", "bucket")
      .agg((max(col("xx")) - min(col("xx")) + 1).as("xs"),
        (max(col("yy")) - min(col("yy")) + 1).as("ys"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("xs")).as("sum_x_span"), sum(col("ys")).as("sum_y_span"))
      .withColumn("total_span", col("sum_x_span") + col("sum_y_span"))
      .orderBy("layout")
  }

  /** q435: partial autocorrelation (lags 1–5) of the daily value
    * series via Durbin–Levinson — the AR-order diagnostic next to
    * q224's ACF and q379's fixed-order Yule-Walker: PACF cutting off
    * after lag p IS the evidence for AR(p). ACF moments are
    * 9-dp-rounded products into exact decimal sums over the bounded
    * day domain; the Levinson recursion unrolls to closed-form column
    * algebra on the 1-row moment frame (identical double arithmetic in
    * both engines).
    */
  private val q435Pacf: Q = (s, d) => {
    val day = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value"), 2).cast(DecimalType(18, 2))).as("v"))
    val st = day.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val wd = Window.orderBy("day") // bounded day domain
    val vc = day.crossJoin(broadcast(st))
      .withColumn("m", round(col("sv").cast(DoubleType) / col("n"), 9))
      .withColumn("vc", round(col("v").cast(DoubleType) - col("m"), 9))
    val prods = vc.select((0 to 5).map(k =>
      round(col("vc") * lag(col("vc"), k).over(wd), 9)
        .cast(DecimalType(38, 9)).as(s"p$k")): _*)
    val acf = prods.agg(
      (0 to 5).map(k => sum(col(s"p$k")).as(s"s$k")).head,
      (0 to 5).map(k => sum(col(s"p$k")).as(s"s$k")).tail: _*)
    val r = acf.select((1 to 5).map(k =>
      (col(s"s$k").cast(DoubleType) / col("s0").cast(DoubleType)).as(s"r$k")): _*)
    val lev = r
      .withColumn("p11", col("r1"))
      .withColumn("p22", (col("r2") - col("p11") * col("r1")) /
        (lit(1.0) - col("p11") * col("r1")))
      .withColumn("p21", col("p11") - col("p22") * col("p11"))
      .withColumn("p33", (col("r3") - (col("p21") * col("r2") + col("p22") * col("r1"))) /
        (lit(1.0) - (col("p21") * col("r1") + col("p22") * col("r2"))))
      .withColumn("p31", col("p21") - col("p33") * col("p22"))
      .withColumn("p32", col("p22") - col("p33") * col("p21"))
      .withColumn("p44", (col("r4") - (col("p31") * col("r3") + col("p32") * col("r2") +
          col("p33") * col("r1"))) /
        (lit(1.0) - (col("p31") * col("r1") + col("p32") * col("r2") +
          col("p33") * col("r3"))))
      .withColumn("p41", col("p31") - col("p44") * col("p33"))
      .withColumn("p42", col("p32") - col("p44") * col("p32"))
      .withColumn("p43", col("p33") - col("p44") * col("p31"))
      .withColumn("p55", (col("r5") - (col("p41") * col("r4") + col("p42") * col("r3") +
          col("p43") * col("r2") + col("p44") * col("r1"))) /
        (lit(1.0) - (col("p41") * col("r1") + col("p42") * col("r2") +
          col("p43") * col("r3") + col("p44") * col("r4"))))
    lev.select(explode(array((1 to 5).map(k =>
        struct(lit(k).as("lag_k"), round(col(s"r$k"), 6).as("acf"),
          round(col(s"p$k$k"), 6).as("pacf"))): _*)).as("e"))
      .select(col("e.lag_k").as("lag_k"), col("e.acf").as("acf"),
        col("e.pacf").as("pacf"))
      .orderBy("lag_k")
  }

  val queries: Seq[Query] = Seq(
    Query("q431_stream_left_outer", q431StreamLeftOuter,
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
        |    WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
        |    WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(c_ts) FROM c), (SELECT max(p_ts) FROM p))
        |    - INTERVAL 2 HOUR AS w),
        |m AS (SELECT c.click_id FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE),
        |nulls AS (SELECT click_id FROM c, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
        |      AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE)
        |    AND c.c_ts + INTERVAL 30 MINUTE < wm.w)
        |SELECT (SELECT count(*) FROM m)::BIGINT AS n_matched_pairs,
        |  (SELECT count(*) FROM nulls)::BIGINT AS n_null_clicks,
        |  (SELECT coalesce(sum(click_id), 0) FROM nulls)::BIGINT AS null_click_id_sum""".stripMargin),
    Query("q432_rmst", q432Rmst,
      """WITH t0 AS (SELECT user_id, min(ts) t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |fe AS (SELECT t0.user_id, t0.t0, min(e.ts) te FROM t0 LEFT JOIN events e
        |  ON e.user_id = t0.user_id AND e.event_type = 'error' AND e.ts > t0.t0
        |  GROUP BY t0.user_id, t0.t0),
        |mx AS (SELECT max(ts) tmax FROM events),
        |du AS (SELECT user_id % 2 AS x,
        |    CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END ev,
        |    CASE WHEN te IS NOT NULL
        |      THEN date_diff('day', CAST(t0 AS DATE), CAST(te AS DATE))
        |      ELSE date_diff('day', CAST(t0 AS DATE), CAST(tmax AS DATE)) END dur
        |  FROM fe, mx),
        |tm AS (SELECT x, dur t, count(*) dd FROM du WHERE ev = 1 GROUP BY x, dur),
        |rk AS (SELECT tm.x, tm.t, count(*) nn FROM du
        |  JOIN tm ON du.x = tm.x AND du.dur >= tm.t GROUP BY tm.x, tm.t),
        |km AS (SELECT x, t, round(1.0 - dd::DOUBLE / nn, 9) f FROM tm JOIN rk USING (x, t)),
        |km2 AS (SELECT x, t,
        |    sum(CASE WHEN f = 0 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY x ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) z,
        |    sum(CAST(CASE WHEN f > 0 THEN round(ln(f), 9) ELSE 0 END AS DECIMAL(20,9))) OVER
        |      (PARTITION BY x ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) slnf
        |  FROM km),
        |km3 AS (SELECT x, t,
        |    CASE WHEN z > 0 THEN 0.0 ELSE exp(CAST(slnf AS DOUBLE)) END surv FROM km2),
        |ctr AS (SELECT x, t, surv,
        |    lag(t, 1, 0) OVER (PARTITION BY x ORDER BY t) prev_t,
        |    lag(surv, 1, 1.0) OVER (PARTITION BY x ORDER BY t) prev_s
        |  FROM km3),
        |body AS (SELECT x,
        |    sum(CAST(round(prev_s * (least(t, 60) - least(prev_t, 60)), 9)
        |      AS DECIMAL(20,9))) body,
        |    max(t) tlast, max_by(surv, t) slast FROM ctr GROUP BY x),
        |coh AS (SELECT x, count(*) n_users, sum(ev) n_events FROM du GROUP BY x)
        |SELECT coh.x AS cohort, CAST(n_users AS BIGINT) n_users,
        |  CAST(n_events AS BIGINT) n_events,
        |  round(CAST(body AS DOUBLE) + round(slast * greatest(0, 60 - tlast), 9), 6)
        |    AS rmst_60
        |FROM coh JOIN body USING (x) ORDER BY cohort""".stripMargin),
    Query("q433_local_dp_freq", q433LocalDpFreq,
      """WITH rr AS (SELECT event_id, event_type,
        |    ('0x' || substr(md5('rr|' || event_id::VARCHAR), 1, 15))::BIGINT u,
        |    list_position(['click','error','purchase','signup','view'], event_type) - 1 idx0
        |  FROM events),
        |rr2 AS (SELECT
        |    CASE WHEN u % 10000 < 7500 THEN idx0
        |         ELSE (idx0 + 1 + ((u // 10000) % 4)) % 5 END ridx0 FROM rr),
        |rep AS (SELECT (['click','error','purchase','signup','view'])[ridx0 + 1] reported
        |  FROM rr2),
        |tc AS (SELECT event_type, count(*) n_true FROM rr GROUP BY event_type),
        |rc AS (SELECT reported event_type, count(*) n_reported FROM rep GROUP BY reported),
        |nn AS (SELECT count(*) n FROM rr)
        |SELECT event_type,
        |  coalesce(n_true, 0)::BIGINT n_true, coalesce(n_reported, 0)::BIGINT n_reported,
        |  round(coalesce(n_true, 0) / (n * 1.0), 6) pi_true,
        |  round((coalesce(n_reported, 0) / (n * 1.0) - 0.0625) / 0.6875, 6) pi_hat,
        |  round(abs((coalesce(n_reported, 0) / (n * 1.0) - 0.0625) / 0.6875
        |    - coalesce(n_true, 0) / (n * 1.0)), 6) abs_err
        |FROM tc FULL JOIN rc USING (event_type), nn ORDER BY event_type""".stripMargin),
    Query("q434_hilbert_layout", q434HilbertLayout, {
      val hilbert = graft.operators.Layout.hilbertSqlCtes(
        "src", "xx", "yy", 8,
        Seq("xx", "yy", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
      s"""WITH src AS (SELECT l_partkey % 256 AS xx, l_suppkey % 256 AS yy,
        |    l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem),
        |$hilbert,
        |z AS (SELECT xx, yy, l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    list_sum(list_transform(range(0, 8), b ->
        |      (((xx >> b) & 1) << (2*b)) + (((yy >> b) & 1) << (2*b + 1))))::BIGINT zv
        |  FROM src),
        |nn AS (SELECT count(*) n FROM src),
        |hr AS (SELECT xx, yy, row_number() OVER (ORDER BY hd, l_orderkey,
        |    l_linenumber, l_partkey, l_suppkey) rn FROM hout),
        |zr AS (SELECT xx, yy, row_number() OVER (ORDER BY zv, l_orderkey,
        |    l_linenumber, l_partkey, l_suppkey) rn FROM z),
        |u AS (SELECT '1_hilbert' layout, ((rn - 1) * 64) // n AS bucket, xx, yy FROM hr, nn
        |  UNION ALL SELECT '2_zorder', ((rn - 1) * 64) // n, xx, yy FROM zr, nn
        |  UNION ALL SELECT '3_baseline', l_orderkey % 64, xx, yy FROM src),
        |g AS (SELECT layout, bucket, max(xx) - min(xx) + 1 xs, max(yy) - min(yy) + 1 ys
        |  FROM u GROUP BY layout, bucket)
        |SELECT layout, count(*)::BIGINT n_buckets, sum(xs)::BIGINT sum_x_span,
        |  sum(ys)::BIGINT sum_y_span, (sum(xs) + sum(ys))::BIGINT total_span
        |FROM g GROUP BY layout ORDER BY layout""".stripMargin
    }),
    Query("q435_pacf", q435Pacf,
      """WITH dday AS (SELECT ts::DATE dy, sum(CAST(round(value, 2) AS DECIMAL(18,2))) v
        |  FROM events GROUP BY 1),
        |st AS (SELECT count(*) n, sum(v) sv FROM dday),
        |vc AS (SELECT dy,
        |    round(CAST(v AS DOUBLE) - round(CAST(sv AS DOUBLE) / n, 9), 9) vc
        |  FROM dday, st),
        |pr AS (SELECT
        |    CAST(round(vc * vc, 9) AS DECIMAL(38,9)) p0,
        |    CAST(round(vc * lag(vc, 1) OVER (ORDER BY dy), 9) AS DECIMAL(38,9)) p1,
        |    CAST(round(vc * lag(vc, 2) OVER (ORDER BY dy), 9) AS DECIMAL(38,9)) p2,
        |    CAST(round(vc * lag(vc, 3) OVER (ORDER BY dy), 9) AS DECIMAL(38,9)) p3,
        |    CAST(round(vc * lag(vc, 4) OVER (ORDER BY dy), 9) AS DECIMAL(38,9)) p4,
        |    CAST(round(vc * lag(vc, 5) OVER (ORDER BY dy), 9) AS DECIMAL(38,9)) p5
        |  FROM vc),
        |ss AS (SELECT sum(p0) s0, sum(p1) s1, sum(p2) s2, sum(p3) s3,
        |    sum(p4) s4, sum(p5) s5 FROM pr),
        |r AS (SELECT CAST(s1 AS DOUBLE)/CAST(s0 AS DOUBLE) r1,
        |    CAST(s2 AS DOUBLE)/CAST(s0 AS DOUBLE) r2,
        |    CAST(s3 AS DOUBLE)/CAST(s0 AS DOUBLE) r3,
        |    CAST(s4 AS DOUBLE)/CAST(s0 AS DOUBLE) r4,
        |    CAST(s5 AS DOUBLE)/CAST(s0 AS DOUBLE) r5 FROM ss),
        |l1 AS (SELECT *, r1 p11 FROM r),
        |l2 AS (SELECT *, (r2 - p11*r1)/(1.0 - p11*r1) p22 FROM l1),
        |l2b AS (SELECT *, p11 - p22*p11 p21 FROM l2),
        |l3 AS (SELECT *, (r3 - (p21*r2 + p22*r1))/(1.0 - (p21*r1 + p22*r2)) p33 FROM l2b),
        |l3b AS (SELECT *, p21 - p33*p22 p31, p22 - p33*p21 p32 FROM l3),
        |l4 AS (SELECT *, (r4 - (p31*r3 + p32*r2 + p33*r1))
        |    /(1.0 - (p31*r1 + p32*r2 + p33*r3)) p44 FROM l3b),
        |l4b AS (SELECT *, p31 - p44*p33 p41, p32 - p44*p32 p42, p33 - p44*p31 p43 FROM l4),
        |l5 AS (SELECT *, (r5 - (p41*r4 + p42*r3 + p43*r2 + p44*r1))
        |    /(1.0 - (p41*r1 + p42*r2 + p43*r3 + p44*r4)) p55 FROM l4b)
        |SELECT lag_k, acf, pacf FROM (
        |  SELECT 1 AS lag_k, round(r1, 6) acf, round(p11, 6) pacf FROM l5
        |  UNION ALL SELECT 2, round(r2, 6), round(p22, 6) FROM l5
        |  UNION ALL SELECT 3, round(r3, 6), round(p33, 6) FROM l5
        |  UNION ALL SELECT 4, round(r4, 6), round(p44, 6) FROM l5
        |  UNION ALL SELECT 5, round(r5, 6), round(p55, 6) FROM l5)
        |ORDER BY lag_k""".stripMargin))
}
