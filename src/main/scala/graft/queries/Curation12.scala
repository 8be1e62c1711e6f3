package graft.queries

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-5 wave 8: power-iteration PCA, positional phrase search,
  * Kaplan-Meier survival, CUPED variance reduction, Bradley-Terry
  * preference strength, and daily-series autocorrelation.
  */
object Curation12 {

  /** Dominant principal direction of the (centered) embedding corpus by
    * two unrolled power-iteration rounds — the distributed-PCA shape
    * where NOTHING quadratic in d or n materializes: each round is one
    * per-dimension partial-aggregable sum (Σᵢ xᵢⱼ·(xᵢ·v)), the d-vector
    * state rides between rounds as a broadcast single-row frame, and
    * the d×d covariance matrix is never formed. Per-term 9-dp rounding
    * into DECIMAL makes every reduction partition-order independent;
    * in-row folds (norms, dots) run over the j-sorted assembled list so
    * their fp order is fixed too.
    */
  private val q219PcaPower: Q = (s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    // per-dimension mean: one partial-aggregable pass, d rows out
    val mean = e.select(posexplode(col("v")).as(Seq("j", "x")))
      .groupBy("j")
      .agg(round(sum(round(col("x"), 9).cast(DecimalType(30, 9))).cast(DoubleType) /
        count(lit(1)), 9).as("m"))
    val mv = mean.agg(transform(array_sort(collect_list(struct(col("j"), col("m")))),
      t => t.getField("m")).as("mv"))
    val ec = e.crossJoin(broadcast(mv)).select(col("vec_id"), col("label"),
      zip_with(col("v"), col("mv"), (x, m) => round(x - m, 9)).as("xc"))
    // round 1 from the exact unit start v0 = 1/√d = 0.125 (d = 64)
    val it1 = ec
      .withColumn("s0", round(aggregate(col("xc"), lit(0.0), (a, x) => a + x) * 0.125, 9))
      .select(col("s0"), posexplode(col("xc")).as(Seq("j", "x")))
      .groupBy("j")
      .agg(sum(round(col("x") * col("s0"), 9).cast(DecimalType(38, 9)))
        .cast(DoubleType).as("t"))
    val v1 = it1
      .agg(transform(array_sort(collect_list(struct(col("j"), col("t")))),
        x => x.getField("t")).as("lt"))
      .select(col("lt"),
        sqrt(aggregate(col("lt"), lit(0.0), (a, y) => a + y * y)).as("nrm"))
      .select(transform(col("lt"), x => round(x / col("nrm"), 9)).as("v1"))
    // round 2: codegen'd dot against the broadcast iterate
    val it2 = ec.crossJoin(broadcast(v1))
      .withColumn("s1", round(expr("graft_dot(xc, v1)"), 9))
      .select(col("s1"), posexplode(col("xc")).as(Seq("j", "x")))
      .groupBy("j")
      .agg(sum(round(col("x") * col("s1"), 9).cast(DecimalType(38, 9)))
        .cast(DoubleType).as("t"))
    val v2 = it2
      .agg(transform(array_sort(collect_list(struct(col("j"), col("t")))),
        x => x.getField("t")).as("lt"))
      .select(col("lt"),
        sqrt(aggregate(col("lt"), lit(0.0), (a, y) => a + y * y)).as("nrm"))
      .select(round(col("nrm"), 4).as("eig"),
        transform(col("lt"), x => round(x / col("nrm"), 9)).as("v2"))
    // project and profile per label — ‖t₂‖ estimates the top eigenvalue
    // because v₁ is unit
    ec.crossJoin(broadcast(v2))
      .withColumn("p", round(expr("graft_dot(xc, v2)"), 9))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sum(col("p").cast(DecimalType(30, 9))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_proj"),
        round(min(col("p")), 6).as("min_proj"),
        round(max(col("p")), 6).as("max_proj"),
        max(col("eig")).as("eig"))
      .orderBy("label")
  }

  /** Phrase search over a positional inverted index: postings are
    * (term, doc, pos) from one tokenize pass; a phrase match is an
    * equi-join of the first word's postings against the second word's
    * on (doc, pos+1) — Catalyst extracts the arithmetic key, so the
    * adjacency test is a shuffled hash join, never a scan of full
    * documents per phrase. The phrase table is a broadcast literal.
    */
  private val q220PhraseSearch: Q = (s, d) => {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val ph = Seq(("table scan", "table", "scan"), ("hash join", "hash", "join"),
      ("window merge", "window", "merge")).toDF("phrase", "w1", "w2")
    val first = toks.join(broadcast(ph), col("term") === col("w1"))
      .select(col("phrase"), col("w2"), col("doc_id"), col("pos"))
    first
      .join(toks.select(col("doc_id").as("d2"), col("pos").as("p2"), col("term").as("t2")),
        col("d2") === col("doc_id") && col("p2") === col("pos") + 1 &&
          col("t2") === col("w2"))
      .groupBy("phrase")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_hits"),
        sum(col("doc_id") * (col("pos") + lit(1L))).as("checksum"))
      .orderBy("phrase")
  }

  /** Kaplan-Meier survival: time from each user's signup to their first
    * error, censored at the corpus horizon. Durations are one keyed
    * aggregation; the risk sets come from joining users against the
    * broadcast event-time table (bounded by the day horizon, not the
    * user count), so n_t never needs a corpus self-join. The survival
    * product runs as exp of a DECIMAL running log-sum — the only window
    * is over the |distinct event times| rows.
    */
  private val q221KaplanMeier: Q = (s, d) => {
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
      when(col("te").isNotNull, 1).otherwise(0).as("ev"),
      when(col("te").isNotNull, datediff(to_date(col("te")), to_date(col("t0"))))
        .otherwise(datediff(to_date(col("tmax")), to_date(col("t0")))).as("dur"))
    val times = du.filter(col("ev") === 1)
      .groupBy(col("dur").as("t")).agg(count(lit(1)).as("d"))
    val risk = du.join(broadcast(times.select(col("t"))), col("dur") >= col("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    times.join(risk, "t")
      .withColumn("f", round(lit(1.0) - col("d") / col("n"), 9))
      .withColumn("lnf",
        when(col("f") > 0, round(log(col("f")), 9)).otherwise(lit(0.0))
          .cast(DecimalType(20, 9)))
      .withColumn("z", sum(when(col("f") === 0, 1).otherwise(0)).over(w))
      .select(col("t").cast(LongType).as("t"),
        col("d").as("n_events"), col("n").as("n_risk"),
        when(col("z") > 0, lit(0.0))
          .otherwise(round(exp(sum(col("lnf")).over(w).cast(DoubleType)), 6)).as("surv"))
      .orderBy("t")
  }

  /** CUPED variance reduction for a hash-randomized experiment: the
    * pre-period metric is the control covariate, θ = cov(X,Y)/var(X)
    * comes from ONE pass of exact DECIMAL moment sums (X,Y are 2-dp
    * money, so Σxy/Σx² are exact), and the adjusted metric is a
    * map-side expression against the broadcast θ row. Per-arm variance
    * uses the same exact-moment trick on the 4-dp-rounded adjusted
    * values — no collect, no second corpus shuffle.
    */
  private val q222Cuped: Q = (s, d) => {
    val cut = lit("2024-01-16").cast("timestamp")
    val zero = lit(0).cast(DecimalType(18, 2))
    val pu = Tables.events(s, d).groupBy("user_id")
      .agg(sum(when(col("ts") < cut,
          round(col("value"), 2).cast(DecimalType(18, 2))).otherwise(zero)).as("x"),
        sum(when(col("ts") >= cut,
          round(col("value"), 2).cast(DecimalType(18, 2))).otherwise(zero)).as("y"))
      .withColumn("arm",
        mdHash(concat(lit("exp|"), col("user_id").cast("string"))) % 2)
    val st = pu.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(
        round((col("sxy").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sy").cast(DoubleType) / col("n")) /
          (col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType) / col("n")), 9)
          .as("theta"),
        round(col("sx").cast(DoubleType) / col("n"), 9).as("mx"))
    val adj = pu.crossJoin(broadcast(st))
      .withColumn("ya", round(col("y").cast(DoubleType) -
        col("theta") * (col("x").cast(DoubleType) - col("mx")), 4)
        .cast(DecimalType(20, 4)))
    adj.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("y")).cast(DoubleType) / count(lit(1)), 6).as("mean_y"),
        round(sum(col("ya")).cast(DoubleType) / count(lit(1)), 6).as("mean_adj"),
        round(
          ((sum(col("ya") * col("ya")).cast(DoubleType) -
            sum(col("ya")).cast(DoubleType) * sum(col("ya")).cast(DoubleType) /
              count(lit(1))) / (count(lit(1)) - 1)) /
          ((sum(col("y") * col("y")).cast(DoubleType) -
            sum(col("y")).cast(DoubleType) * sum(col("y")).cast(DoubleType) /
              count(lit(1))) / (count(lit(1)) - 1)), 6).as("var_ratio"))
      .orderBy("arm")
  }

  /** Bradley-Terry preference strength by two unrolled MM rounds over
    * per-user pairwise duels (event types compete on per-user spend).
    * The corpus-scale work is the duel aggregation — one keyed self-join
    * on user — which collapses to a |items|² win matrix; the MM
    * iterations then run on that broadcast-size state with per-term
    * DECIMAL sums, so the fit never re-touches the corpus. Ties break
    * to the lexicographically smaller item for determinism.
    */
  private val q223BradleyTerry: Q = (s, d) => {
    val tv = Tables.events(s, d).groupBy(col("user_id"), col("event_type"))
      .agg(sum(round(col("value"), 2).cast(DecimalType(18, 2))).as("tv"))
    val duels = tv.select(col("user_id"), col("event_type").as("ta"), col("tv").as("va"))
      .join(tv.select(col("user_id").as("u2"), col("event_type").as("tb"),
        col("tv").as("vb")),
        col("user_id") === col("u2") && col("ta") < col("tb"))
      .withColumn("win_a", when(col("va") > col("vb"), 1L)
        .when(col("vb") > col("va"), 0L).otherwise(1L))
    val g = duels.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("ng"), sum(col("win_a")).as("wa"))
    // The type-pair grid is BOUNDED by the event-type domain — ≤ C(|T|,2)
    // rows no matter the corpus size — so everything after it is driver-
    // side bounded-model work under the house collect contract (the same
    // tier as 1-row scalar frames and ≤k centroid seeds). The previous
    // DataFrame formulation of the two MM rounds executed as ~90 tiny
    // stages (2 tasks, 8-row shuffles, broadcast builds) of ~0.4 s
    // scheduling overhead each — 13.6 s in-suite for ~30 rows of
    // arithmetic (round-11 event-log attribution). The arithmetic below
    // reproduces the DataFrame/oracle ops EXACTLY: scala BigDecimal(d) is
    // the same shortest-representation decimal Spark's round()/cast use,
    // per-term 9-dp HALF_UP rounds, exact DECIMAL sums, double divisions
    // in the same order — hash-verified against the DuckDB oracle at
    // sf0.001/sf0.01/sf0.1.
    val grid = g.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val m = grid.map { case (ta, tb, ng, wa) => (ta, tb, ng, wa) } ++
      grid.map { case (ta, tb, ng, wa) => (tb, ta, ng, ng - wa) }
    def dec9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def round9(x: Double) = dec9(x).toDouble
    val byI = m.groupBy(_._1)
    def mmRound(p: Map[String, Double]): Map[String, Double] = {
      val raw = byI.map { case (i, rows) =>
        val wi = rows.map(_._4).sum.toDouble
        val den = rows.map { case (_, j, ng, _) =>
          dec9(round9(ng.toDouble / (p(i) + p(j)))) }.sum
        i -> round9(wi / den.toDouble)
      }
      val tot = raw.values.map(dec9).sum.toDouble
      val k = raw.size
      raw.map { case (i, praw) => i -> round9(praw * k / tot) }
    }
    val outRows =
      if (m.isEmpty) Seq.empty[org.apache.spark.sql.Row]
      else {
        val p2 = mmRound(mmRound(byI.keys.map(_ -> 1.0).toMap))
        byI.toSeq.sortBy(_._1).map { case (i, rows) =>
          org.apache.spark.sql.Row(i, rows.map(_._3).sum, rows.map(_._4).sum,
            BigDecimal(p2(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("n_games", LongType),
      StructField("n_wins", LongType), StructField("strength", DoubleType)))
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(outRows).asJava),
      schema).orderBy("event_type")
  }

  /** Lag-k autocorrelation of the per-type daily value series — the
    * time-series health diagnostic. Daily sums are exact DECIMAL; the
    * lag pairing is an equi-join on (type, day+k) against the broadcast
    * lag list, so each lag costs one keyed join of |days| rows per
    * type, not a window over the corpus; numerator/denominator reduce
    * with per-term DECIMAL rounding for order independence.
    */
  private val q224Acf: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value"), 2).cast(DecimalType(18, 2))).as("x"))
    val st = daily.groupBy("event_type")
      .agg(round(sum(col("x")).cast(DoubleType) / count(lit(1)), 9).as("m"))
    val dm = daily.join(broadcast(st), "event_type")
      .select(col("event_type"), col("day"),
        round(col("x").cast(DoubleType) - col("m"), 9).as("xc"))
    val lags = Seq(1, 2, 3).toDF("lg")
    val pairs = dm.crossJoin(broadcast(lags))
      .select(col("event_type"), col("lg"),
        date_add(col("day"), col("lg")).as("dk"), col("xc").as("xa"))
      .join(dm.select(col("event_type").as("e2"), col("day").as("d2"),
        col("xc").as("xb")),
        col("e2") === col("event_type") && col("d2") === col("dk"))
    val num = pairs.groupBy("event_type", "lg")
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("xa") * col("xb"), 9).cast(DecimalType(38, 9))).as("sp"))
    val den = dm.groupBy("event_type")
      .agg(sum(round(col("xc") * col("xc"), 9).cast(DecimalType(38, 9))).as("ss"))
    num.join(broadcast(den), "event_type")
      .select(col("event_type"), col("lg").cast(LongType).as("lg"), col("n_pairs"),
        round(col("sp").cast(DoubleType) / col("ss").cast(DoubleType), 6).as("acf"))
      .orderBy("event_type", "lg")
  }

  val queries: Seq[Query] = Seq(
    Query("q219_pca_power", q219PcaPower,
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |mean AS (SELECT j,
        |    round(CAST(sum(CAST(round(v[j], 9) AS DECIMAL(30,9))) AS DOUBLE)
        |      / count(*), 9) m
        |  FROM (SELECT v, unnest(generate_series(1, len(v))) j FROM e) GROUP BY j),
        |mv AS (SELECT list(m ORDER BY j) mv FROM mean),
        |ec AS (SELECT vec_id, label,
        |    [round(v[j] - mv[j], 9) for j in range(1, len(v) + 1)] xc FROM e, mv),
        |s0t AS (SELECT label, xc, round(list_sum(xc) * 0.125, 9) s0 FROM ec),
        |t1 AS (SELECT j, CAST(sum(CAST(round(xc[j] * s0, 9) AS DECIMAL(38,9))) AS DOUBLE) t
        |  FROM (SELECT xc, s0, unnest(generate_series(1, len(xc))) j FROM s0t) GROUP BY j),
        |lt1 AS (SELECT list(t ORDER BY j) lt FROM t1),
        |v1 AS (SELECT [round(x / nrm, 9) for x in lt] v1
        |  FROM (SELECT lt, sqrt(list_sum(list_transform(lt, y -> y * y))) nrm FROM lt1)),
        |s1t AS (SELECT label, xc, round(list_dot_product(xc, v1), 9) s1 FROM ec, v1),
        |t2 AS (SELECT j, CAST(sum(CAST(round(xc[j] * s1, 9) AS DECIMAL(38,9))) AS DOUBLE) t
        |  FROM (SELECT xc, s1, unnest(generate_series(1, len(xc))) j FROM s1t) GROUP BY j),
        |lt2 AS (SELECT list(t ORDER BY j) lt FROM t2),
        |v2 AS (SELECT round(nrm, 4) eig, [round(x / nrm, 9) for x in lt] v2
        |  FROM (SELECT lt, sqrt(list_sum(list_transform(lt, y -> y * y))) nrm FROM lt2)),
        |pr AS (SELECT label, round(list_dot_product(xc, v2), 9) p, eig FROM ec, v2)
        |SELECT label, CAST(count(*) AS BIGINT) n,
        |  round(CAST(sum(CAST(p AS DECIMAL(30,9))) AS DOUBLE) / count(*), 6) mean_proj,
        |  round(min(p), 6) min_proj, round(max(p), 6) max_proj, max(eig) eig
        |FROM pr GROUP BY label ORDER BY label""".stripMargin),
    Query("q220_phrase_search", q220PhraseSearch,
      """WITH toks AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') w FROM documents)),
        |t AS (SELECT doc_id, pos, w[pos] AS term FROM toks),
        |ph AS (SELECT * FROM (VALUES ('table scan', 'table', 'scan'),
        |    ('hash join', 'hash', 'join'), ('window merge', 'window', 'merge'))
        |  AS v(phrase, w1, w2)),
        |m AS (SELECT phrase, t1.doc_id, t1.pos FROM t t1
        |  JOIN ph ON t1.term = ph.w1
        |  JOIN t t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1 AND t2.term = ph.w2)
        |SELECT phrase, CAST(count(DISTINCT doc_id) AS BIGINT) n_docs,
        |  CAST(count(*) AS BIGINT) n_hits,
        |  CAST(sum(doc_id * pos) AS BIGINT) checksum
        |FROM m GROUP BY phrase ORDER BY phrase""".stripMargin),
    Query("q221_kaplan_meier", q221KaplanMeier,
      """WITH t0 AS (SELECT user_id, min(ts) t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |fe AS (SELECT t0.user_id, t0.t0, min(e.ts) te FROM t0 LEFT JOIN events e
        |  ON e.user_id = t0.user_id AND e.event_type = 'error' AND e.ts > t0.t0
        |  GROUP BY t0.user_id, t0.t0),
        |mx AS (SELECT max(ts) tmax FROM events),
        |du AS (SELECT CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END ev,
        |    CASE WHEN te IS NOT NULL
        |      THEN date_diff('day', CAST(t0 AS DATE), CAST(te AS DATE))
        |      ELSE date_diff('day', CAST(t0 AS DATE), CAST(tmax AS DATE)) END dur
        |  FROM fe, mx),
        |tm AS (SELECT dur t, count(*) d FROM du WHERE ev = 1 GROUP BY dur),
        |rk AS (SELECT tm.t, count(*) n FROM du JOIN tm ON du.dur >= tm.t GROUP BY tm.t),
        |km AS (SELECT tm.t, d, n, round(1.0 - d::DOUBLE / n, 9) f
        |  FROM tm JOIN rk USING (t)),
        |km2 AS (SELECT t, d, n,
        |    sum(CASE WHEN f = 0 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) z,
        |    sum(CAST(CASE WHEN f > 0 THEN round(ln(f), 9) ELSE 0 END AS DECIMAL(20,9)))
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) slnf
        |  FROM km)
        |SELECT CAST(t AS BIGINT) t, CAST(d AS BIGINT) n_events, CAST(n AS BIGINT) n_risk,
        |  CASE WHEN z > 0 THEN 0.0 ELSE round(exp(CAST(slnf AS DOUBLE)), 6) END surv
        |FROM km2 ORDER BY t""".stripMargin),
    Query("q222_cuped", q222Cuped,
      s"""WITH pu AS (SELECT user_id,
         |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
         |      THEN round(value, 2)::DECIMAL(18,2) ELSE 0::DECIMAL(18,2) END) x,
         |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
         |      THEN round(value, 2)::DECIMAL(18,2) ELSE 0::DECIMAL(18,2) END) y,
         |    ${mdHashSql("'exp|' || user_id")} % 2 arm
         |  FROM events GROUP BY user_id),
         |st AS (SELECT
         |    round((CAST(sum(x * y) AS DOUBLE)
         |        - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE) / count(*))
         |      / (CAST(sum(x * x) AS DOUBLE)
         |        - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE) / count(*)), 9) theta,
         |    round(CAST(sum(x) AS DOUBLE) / count(*), 9) mx
         |  FROM pu),
         |adj AS (SELECT arm, y,
         |    CAST(round(CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - mx), 4)
         |      AS DECIMAL(20,4)) ya
         |  FROM pu, st)
         |SELECT arm, CAST(count(*) AS BIGINT) n_users,
         |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) mean_y,
         |  round(CAST(sum(ya) AS DOUBLE) / count(*), 6) mean_adj,
         |  round(((CAST(sum(ya * ya) AS DOUBLE)
         |      - CAST(sum(ya) AS DOUBLE) * CAST(sum(ya) AS DOUBLE) / count(*))
         |      / (count(*) - 1))
         |    / ((CAST(sum(y * y) AS DOUBLE)
         |      - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE) / count(*))
         |      / (count(*) - 1)), 6) var_ratio
         |FROM adj GROUP BY arm ORDER BY arm""".stripMargin),
    Query("q223_bradley_terry", q223BradleyTerry,
      """WITH tv AS (SELECT user_id, event_type,
        |    sum(round(value, 2)::DECIMAL(18,2)) tv FROM events GROUP BY 1, 2),
        |duels AS (SELECT a.event_type ta, b.event_type tb,
        |    CASE WHEN a.tv > b.tv THEN 1 WHEN b.tv > a.tv THEN 0 ELSE 1 END win_a
        |  FROM tv a JOIN tv b ON a.user_id = b.user_id AND a.event_type < b.event_type),
        |g AS (SELECT ta, tb, count(*) ng, sum(win_a) wa FROM duels GROUP BY 1, 2),
        |m AS (SELECT ta i, tb j, ng, wa w FROM g
        |  UNION ALL SELECT tb, ta, ng, ng - wa FROM g),
        |p0 AS (SELECT DISTINCT i, 1.0::DOUBLE pi FROM m),
        |r1 AS (SELECT m.i, CAST(sum(w) AS DOUBLE) wi,
        |    sum(CAST(round(ng / (p.pi + q.pi), 9) AS DECIMAL(30,9))) den
        |  FROM m JOIN p0 p ON m.i = p.i JOIN p0 q ON m.j = q.i GROUP BY m.i),
        |raw1 AS (SELECT i, round(wi / CAST(den AS DOUBLE), 9) praw FROM r1),
        |t1 AS (SELECT CAST(sum(CAST(praw AS DECIMAL(30,9))) AS DOUBLE) tot,
        |    count(*) k FROM raw1),
        |p1 AS (SELECT i, round(praw * k / tot, 9) pi FROM raw1, t1),
        |r2 AS (SELECT m.i, CAST(sum(w) AS DOUBLE) wi,
        |    sum(CAST(round(ng / (p.pi + q.pi), 9) AS DECIMAL(30,9))) den
        |  FROM m JOIN p1 p ON m.i = p.i JOIN p1 q ON m.j = q.i GROUP BY m.i),
        |raw2 AS (SELECT i, round(wi / CAST(den AS DOUBLE), 9) praw FROM r2),
        |t2 AS (SELECT CAST(sum(CAST(praw AS DECIMAL(30,9))) AS DOUBLE) tot,
        |    count(*) k FROM raw2),
        |p2 AS (SELECT i, round(praw * k / tot, 9) pi FROM raw2, t2),
        |tot AS (SELECT i, CAST(sum(ng) AS BIGINT) n_games,
        |    CAST(sum(w) AS BIGINT) n_wins FROM m GROUP BY i)
        |SELECT tot.i event_type, n_games, n_wins, round(p2.pi, 6) strength
        |FROM tot JOIN p2 ON tot.i = p2.i ORDER BY event_type""".stripMargin),
    Query("q224_acf", q224Acf,
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) dy,
        |    sum(round(value, 2)::DECIMAL(18,2)) x FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type,
        |    round(CAST(sum(x) AS DOUBLE) / count(*), 9) m FROM daily GROUP BY 1),
        |dm AS (SELECT d.event_type, dy, round(CAST(x AS DOUBLE) - m, 9) xc
        |  FROM daily d JOIN st USING (event_type)),
        |pr AS (SELECT a.event_type, l.lg, count(*) n_pairs,
        |    sum(CAST(round(a.xc * b.xc, 9) AS DECIMAL(38,9))) sp
        |  FROM dm a CROSS JOIN (SELECT unnest([1, 2, 3]) lg) l
        |  JOIN dm b ON b.event_type = a.event_type AND b.dy = a.dy + l.lg
        |  GROUP BY 1, 2),
        |den AS (SELECT event_type,
        |    sum(CAST(round(xc * xc, 9) AS DECIMAL(38,9))) ss FROM dm GROUP BY 1)
        |SELECT pr.event_type, CAST(lg AS BIGINT) lg, CAST(n_pairs AS BIGINT) n_pairs,
        |  round(CAST(sp AS DOUBLE) / CAST(ss AS DOUBLE), 6) acf
        |FROM pr JOIN den USING (event_type) ORDER BY event_type, lg""".stripMargin))
}
