package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.mdHash
import graft.sources.Tables

/** Round-11 wave 24 (part 1): instrumental-variables estimation,
  * template-level dedup, physical-layout RLE advising, and a Cox
  * proportional-hazards step — four shapes the suite did not have
  * (causal identification under endogeneity; structural dedup above
  * the string level; sort-order selection for encodable layouts;
  * semiparametric survival regression).
  */
object Curation54 {

  /** q424: instrumental-variables 2SLS (single binary instrument,
    * single binary treatment — the Wald estimator) per market segment.
    * The instrument z is customer-key-derived (assignment), treatment
    * x complies imperfectly (z=1 ⇒ 60% treated, z=0 ⇒ 20% — an
    * encouragement design), outcome y is order revenue. β_IV =
    * cov(z,y)/cov(z,x); the first-stage slope and F statistic report
    * instrument strength (the weak-instrument gate a real readout
    * needs NEXT to the estimate). One pass of exact moment sums per
    * segment: z,x are {0,1} ints, y a 2-dp decimal, so every moment is
    * exact in any partitioning; the closed forms run on the bounded
    * 5-segment domain.
    */
  private val q424Iv2sls: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    val j = o.join(c, o("o_custkey") === c("c_custkey"))
    val z = when(col("c_custkey") % 7 < 3, 1L).otherwise(0L)
    val x = when(z === 1 && col("o_orderkey") % 5 < 3, 1L)
      .when(z === 0 && col("o_orderkey") % 5 === 0, 1L).otherwise(0L)
    val y = round(col("o_totalprice"), 2).cast(DecimalType(18, 2))
    val zeroDec = lit(0).cast(DecimalType(18, 2))
    val m = j.select(col("c_mktsegment").as("segment"),
        z.as("z"), x.as("x"), y.as("y"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("z")).as("sz"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("z") * col("x")).as("szx"),
        sum(when(col("z") === 1, col("y")).otherwise(zeroDec)).as("szy"))
    val n = col("n").cast(DoubleType)
    val covZy = col("szy").cast(DoubleType) - col("sz") * col("sy").cast(DoubleType) / n
    val covZx = (col("szx") - col("sz") * col("sx") / n).cast(DoubleType)
    val varZ = (col("sz") * (col("n") - col("sz"))).cast(DoubleType) / n
    val varX = (col("sx") * (col("n") - col("sx"))).cast(DoubleType) / n
    val r2 = covZx * covZx / (varZ * varX)
    m.select(col("segment"), col("n").as("n_orders"),
        round(covZx / varZ, 6).as("first_stage_slope"),
        round((n - 2) * r2 / (lit(1.0) - r2), 6).as("first_stage_f"),
        round(covZy / covZx, 6).as("beta_iv"))
      .orderBy("segment")
  }

  /** q425: template-level dedup — structural near-duplicate discovery
    * ABOVE the string level (instruction/boilerplate data dedups on the
    * scaffold, not the payload): every token outside a fixed
    * function-word skeleton becomes a slot, consecutive slots collapse,
    * and documents group by the md5 of the resulting template. On this
    * corpus 500 docs collapse to ~207 templates (largest group 47) —
    * the family a string-level MinHash (q71) can't see because payloads
    * differ everywhere. One shuffle on the template hash; output is the
    * bounded top-20 (TakeOrdered, no global sort materialization).
    */
  private val q425TemplateDedup: Q = (s, d) => {
    val skeleton = Seq("a", "the", "and", "of", "to")
    val tl = transform(split(lower(col("text")), " "),
      w => when(w.isin(skeleton.map(lit): _*), w).otherwise(lit("_")))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        regexp_replace(array_join(tl, " "), "_( _)+", "_").as("tpl"))
      .groupBy(mdHash(col("tpl")).as("template_hash"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("exemplar_doc"))
      .orderBy(col("n_docs").desc, col("template_hash"))
      .limit(20)
  }

  /** q426: sort-order RLE advisor — picks the compaction sort order by
    * MEASURING encodability: for each candidate secondary order within
    * the natural shipdate-month partitions, count the value runs each
    * encodable column would RLE into (a run boundary = first row or a
    * value change under that order). Fewer total runs = smaller
    * encoded files and tighter zonemaps. Each candidate is one
    * windowed pass partitioned by month — the exact per-partition sort
    * a compaction job would do, so the advisor's cost model IS the
    * write pattern it advises. Unique (orderkey, linenumber, partkey,
    * suppkey) tie-breaks make every run count deterministic (this
    * synthetic lineitem has duplicate (orderkey, linenumber) pairs).
    */
  private val q426SortRleAdvisor: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      date_trunc("month", col("l_shipdate")).as("m"),
      col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
      col("l_orderkey"), col("l_linenumber"))
    def runsUnder(name: String, keys: Seq[String]) = {
      val w = Window.partitionBy(col("m"))
        .orderBy((keys.map(col) ++ Seq(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))): _*)
      def boundary(c: String) =
        when(lag(col(c), 1).over(w).isNull || lag(col(c), 1).over(w) =!= col(c), 1L)
          .otherwise(0L).as(s"__r_$c")
      li.select(lit(name).as("candidate"),
          boundary("l_partkey"), boundary("l_suppkey"), boundary("l_returnflag"))
        .groupBy("candidate")
        .agg(sum(col("__r_l_partkey")).as("runs_partkey"),
          sum(col("__r_l_suppkey")).as("runs_suppkey"),
          sum(col("__r_l_returnflag")).as("runs_flag"))
    }
    runsUnder("by_partkey", Seq("l_partkey"))
      .unionByName(runsUnder("by_suppkey", Seq("l_suppkey")))
      .unionByName(runsUnder("by_flag_part", Seq("l_returnflag", "l_partkey")))
      .withColumn("total_runs",
        col("runs_partkey") + col("runs_suppkey") + col("runs_flag"))
      .orderBy("total_runs", "candidate")
  }

  /** q427: Cox proportional-hazards — one Newton step from β=0 with
    * Breslow ties, binary covariate (user-parity cohort) on the q221
    * signup→first-error survival frame. At β=0 the score and
    * information reduce to risk-set proportions: U = Σ_t (s_t −
    * d_t·r_t/n_t), I = Σ_t d_t·(r_t/n_t)(1 − r_t/n_t), β̂₁ = U/I —
    * the regression complement to q221's KM curve / q386's log-rank
    * (which TESTS the cohort difference; this ESTIMATES the hazard
    * ratio exp(β)). Day-granular durations bound the event-time
    * domain, so risk sets are one corpus pass against the broadcast
    * event-day list; per-day terms round at 9 dp into exact decimal
    * sums (the q221 convention).
    */
  private val q427CoxPhStep: Q = (s, d) => {
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
    val times = du.filter(col("ev") === 1)
      .groupBy(col("dur").as("t"))
      .agg(count(lit(1)).as("dd"), sum(col("x")).as("sx"))
    val risk = du.join(broadcast(times.select(col("t"))), col("dur") >= col("t"))
      .groupBy("t").agg(count(lit(1)).as("nn"), sum(col("x")).as("rx"))
    val p = col("rx").cast(DoubleType) / col("nn").cast(DoubleType)
    val terms = times.join(risk, "t").select(
      round(col("sx") - col("dd") * p, 9).cast(DecimalType(20, 9)).as("u_t"),
      round(col("dd") * p * (lit(1.0) - p), 9).cast(DecimalType(20, 9)).as("i_t"))
    val nUsers = du.agg(count(lit(1)).as("n_users"),
      sum(col("ev")).as("n_events"))
    terms.agg(count(lit(1)).as("n_event_days"),
        sum(col("u_t")).as("u"), sum(col("i_t")).as("i"))
      .crossJoin(broadcast(nUsers))
      .select(col("n_users"), col("n_events"), col("n_event_days"),
        round(col("u").cast(DoubleType), 6).as("score_u"),
        round(col("i").cast(DoubleType), 6).as("info_i"),
        round(col("u").cast(DoubleType) / col("i").cast(DoubleType), 6).as("beta_step"))
  }

  val queries: Seq[Query] = Seq(
    Query("q424_iv_2sls", q424Iv2sls,
      """WITH j AS (
        |  SELECT c_mktsegment AS segment,
        |    CASE WHEN c_custkey % 7 < 3 THEN 1 ELSE 0 END AS z,
        |    CASE WHEN c_custkey % 7 < 3 AND o_orderkey % 5 < 3 THEN 1
        |         WHEN c_custkey % 7 >= 3 AND o_orderkey % 5 = 0 THEN 1
        |         ELSE 0 END AS x,
        |    CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m AS (
        |  SELECT segment, count(*) AS n, sum(z) AS sz, sum(x) AS sx,
        |    sum(y) AS sy, sum(z*x) AS szx,
        |    sum(CASE WHEN z = 1 THEN y ELSE CAST(0 AS DECIMAL(18,2)) END) AS szy
        |  FROM j GROUP BY segment)
        |SELECT segment, CAST(n AS BIGINT) AS n_orders,
        |  round((szx - sz*sx/(n*1.0)) / (sz*(n-sz)/(n*1.0)), 6) AS first_stage_slope,
        |  round((n-2) * (pow(szx - sz*sx/(n*1.0), 2) / ((sz*(n-sz)/(n*1.0)) * (sx*(n-sx)/(n*1.0))))
        |    / (1.0 - pow(szx - sz*sx/(n*1.0), 2) / ((sz*(n-sz)/(n*1.0)) * (sx*(n-sx)/(n*1.0)))), 6) AS first_stage_f,
        |  round((szy::DOUBLE - sz*sy::DOUBLE/(n*1.0)) / (szx - sz*sx/(n*1.0)), 6) AS beta_iv
        |FROM m ORDER BY segment""".stripMargin),
    Query("q425_template_dedup", q425TemplateDedup,
      """WITH toks AS (
        |  SELECT doc_id, source, list_transform(str_split(lower(text), ' '),
        |    w -> CASE WHEN w IN ('a','the','and','of','to') THEN w ELSE '_' END) AS tl
        |  FROM documents),
        |tpl AS (
        |  SELECT doc_id, source,
        |    regexp_replace(array_to_string(tl, ' '), '_( _)+', '_', 'g') AS t
        |  FROM toks)
        |SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT AS template_hash,
        |  count(*) AS n_docs, count(DISTINCT source) AS n_sources,
        |  min(doc_id) AS exemplar_doc
        |FROM tpl GROUP BY 1
        |ORDER BY n_docs DESC, template_hash LIMIT 20""".stripMargin),
    Query("q426_sort_rle_advisor", q426SortRleAdvisor,
      """WITH li AS (
        |  SELECT date_trunc('month', l_shipdate) AS m, l_partkey, l_suppkey,
        |    l_returnflag, l_orderkey, l_linenumber FROM lineitem),
        |runs AS (
        |  SELECT 'by_partkey' AS candidate,
        |    CASE WHEN lag(l_partkey) OVER w1 IS NULL OR lag(l_partkey) OVER w1 <> l_partkey THEN 1 ELSE 0 END AS rp,
        |    CASE WHEN lag(l_suppkey) OVER w1 IS NULL OR lag(l_suppkey) OVER w1 <> l_suppkey THEN 1 ELSE 0 END AS rs,
        |    CASE WHEN lag(l_returnflag) OVER w1 IS NULL OR lag(l_returnflag) OVER w1 <> l_returnflag THEN 1 ELSE 0 END AS rf
        |  FROM li WINDOW w1 AS (PARTITION BY m ORDER BY l_partkey, l_orderkey, l_linenumber, l_suppkey)
        |  UNION ALL
        |  SELECT 'by_suppkey',
        |    CASE WHEN lag(l_partkey) OVER w2 IS NULL OR lag(l_partkey) OVER w2 <> l_partkey THEN 1 ELSE 0 END,
        |    CASE WHEN lag(l_suppkey) OVER w2 IS NULL OR lag(l_suppkey) OVER w2 <> l_suppkey THEN 1 ELSE 0 END,
        |    CASE WHEN lag(l_returnflag) OVER w2 IS NULL OR lag(l_returnflag) OVER w2 <> l_returnflag THEN 1 ELSE 0 END
        |  FROM li WINDOW w2 AS (PARTITION BY m ORDER BY l_suppkey, l_orderkey, l_linenumber, l_partkey)
        |  UNION ALL
        |  SELECT 'by_flag_part',
        |    CASE WHEN lag(l_partkey) OVER w3 IS NULL OR lag(l_partkey) OVER w3 <> l_partkey THEN 1 ELSE 0 END,
        |    CASE WHEN lag(l_suppkey) OVER w3 IS NULL OR lag(l_suppkey) OVER w3 <> l_suppkey THEN 1 ELSE 0 END,
        |    CASE WHEN lag(l_returnflag) OVER w3 IS NULL OR lag(l_returnflag) OVER w3 <> l_returnflag THEN 1 ELSE 0 END
        |  FROM li WINDOW w3 AS (PARTITION BY m ORDER BY l_returnflag, l_partkey, l_orderkey, l_linenumber, l_suppkey))
        |SELECT candidate, sum(rp)::BIGINT AS runs_partkey,
        |  sum(rs)::BIGINT AS runs_suppkey, sum(rf)::BIGINT AS runs_flag,
        |  (sum(rp) + sum(rs) + sum(rf))::BIGINT AS total_runs
        |FROM runs GROUP BY candidate ORDER BY total_runs, candidate""".stripMargin),
    Query("q427_cox_ph_step", q427CoxPhStep,
      """WITH t0 AS (SELECT user_id, min(ts) AS t0 FROM events
        |    WHERE event_type = 'signup' GROUP BY user_id),
        |fe AS (SELECT t0.user_id, t0.t0, min(e.ts) AS te
        |  FROM t0 LEFT JOIN events e ON e.user_id = t0.user_id
        |    AND e.event_type = 'error' AND e.ts > t0.t0
        |  GROUP BY t0.user_id, t0.t0),
        |mx AS (SELECT max(ts) AS tmax FROM events),
        |du AS (SELECT user_id % 2 AS x,
        |    CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END AS ev,
        |    CASE WHEN te IS NOT NULL THEN date_diff('day', t0::DATE, te::DATE)
        |         ELSE date_diff('day', t0::DATE, tmax::DATE) END AS dur
        |  FROM fe, mx),
        |times AS (SELECT dur AS t, count(*) AS dd, sum(x) AS sx
        |  FROM du WHERE ev = 1 GROUP BY dur),
        |risk AS (SELECT t, count(*) AS nn, sum(x) AS rx
        |  FROM du JOIN (SELECT t FROM times) ts ON du.dur >= ts.t GROUP BY t),
        |terms AS (SELECT
        |    CAST(round(sx - dd * (rx::DOUBLE / nn), 9) AS DECIMAL(20,9)) AS u_t,
        |    CAST(round(dd * (rx::DOUBLE / nn) * (1.0 - rx::DOUBLE / nn), 9) AS DECIMAL(20,9)) AS i_t
        |  FROM times JOIN risk USING (t)),
        |nu AS (SELECT count(*) AS n_users, sum(ev) AS n_events FROM du)
        |SELECT CAST(n_users AS BIGINT) AS n_users, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_event_days,
        |  round(CAST(sum(u_t) AS DOUBLE), 6) AS score_u,
        |  round(CAST(sum(i_t) AS DOUBLE), 6) AS info_i,
        |  round(CAST(sum(u_t) AS DOUBLE) / CAST(sum(i_t) AS DOUBLE), 6) AS beta_step
        |FROM terms, nu GROUP BY n_users, n_events""".stripMargin))
}
