package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.mdHashSql
import graft.operators.Dedup
import graft.sources.Tables

/** Round-6 wave 2: n-gram novelty (memorization metric), MinHash
  * containment (asymmetric sub-document duplication), Adamic-Adar
  * link prediction, Gini concentration, CUSUM changepoint, and
  * Fano-factor burstiness.
  */
object Curation15 {

  /** Distinct word n-grams per doc via the shared bit-identical JVM
    * shingler (same kernel as q28 contamination).
    */
  private def grams(df: DataFrame, idCol: String, textCol: String, n: Int,
      out: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("t"))
      .as[(Long, String)]
      .flatMap { case (id, text) => Dedup.shingleStrings(text, n).map(s => (id, s)) }
      .toDF(out, "s")
  }

  /** Per-eval-document n-gram novelty rate against the train split —
    * the memorization/overlap metric reported alongside eval scores.
    * Train grams collapse to one distinct set; the membership probe is
    * a left-semi join keyed on the gram, so nothing quadratic ever
    * forms and the train set shuffles once regardless of eval size.
    */
  private val q238NgramNovelty: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val trainGrams = grams(docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", 3, "tid")
      .select(col("s")).distinct()
    val evalGrams = grams(docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", 3, "doc_id")
    val seen = evalGrams.join(trainGrams, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
    evalGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(seen, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        round(lit(1.0) - coalesce(col("n_seen"), lit(0L)).cast(DoubleType) /
          col("n_grams").cast(DoubleType), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Asymmetric containment |A∩B|/|A| for LSH candidate pairs — the
    * signal that catches a document swallowed whole by a larger one,
    * which symmetric Jaccard dilutes. Candidates come from the banded
    * MinHash join (never all pairs); the intersection is a keyed join
    * on the 60-bit gram hash restricted to candidate ids.
    */
  private val q239MinhashContainment: Q = (s, d) =>
    Dedup.minhashLshContainmentPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.5, numHashes = 48, bands = 12)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"), col("n_int"),
        round(col("n_int").cast(DoubleType) / col("sza").cast(DoubleType), 6).as("cont_a"),
        round(col("n_int").cast(DoubleType) / col("szb").cast(DoubleType), 6).as("cont_b"))
      .orderBy("id_a", "id_b")

  /** Adamic-Adar link prediction over the bipartite user ↔ activity-
    * cell graph: score(u,v) = Σ 1/ln|cell| over shared cells. Two
    * scale guards make this linear-ish instead of quadratic-in-
    * density: (1) co-occurrence is mined from a RARE signal (shared
    * error-hour cells — common-event cells carry no discriminative
    * weight anyway: 1/ln|cell| → 0), and (2) hub cells above 100
    * users are excluded outright — the standard stop-cell pruning for
    * co-occurrence mining, deterministic and engine-exact. The pair
    * expansion is then quadratic only in the CAPPED cell size. Scores
    * accumulate as DECIMAL so the sum is partition-order independent.
    * (First cut used event_type × day cells with no cap: 705 s at
    * sf1 vs 0.9 s at sf0.1 — the measured reason these guards exist.)
    */
  private val q240AdamicAdar: Q = (s, d) => {
    val cells = Tables.events(s, d)
      .filter(col("event_type") === "error")
      .select(col("user_id"), expr("unix_millis(ts) DIV 3600000").as("cell"))
      .distinct()
    val cellN = cells.groupBy("cell").agg(count(lit(1)).as("nc"))
      .filter(col("nc") <= 100 && col("nc") >= 2)
    val weighted = cells.join(cellN, Seq("cell"))
      .withColumn("w", (lit(1.0) / log(col("nc").cast(DoubleType))).cast(DecimalType(20, 12)))
    val a = weighted.select(col("cell"), col("user_id").as("ua"), col("w"))
    val b = weighted.select(col("cell"), col("user_id").as("ub"))
    a.join(b, Seq("cell")).filter(col("ua") < col("ub"))
      .groupBy("ua", "ub")
      .agg(count(lit(1)).as("n_common"), sum(col("w")).as("aa"))
      .select(col("ua"), col("ub"), col("n_common"), round(col("aa").cast(DoubleType), 6).as("aa"))
      .orderBy(col("aa").desc, col("ua"), col("ub"))
      .limit(30)
  }

  /** Gini coefficient of per-user total event value — the
    * concentration audit run before capping contributors or weighting
    * sources. Totals are decimal-exact; the rank weighting runs over
    * |users| rows (already aggregated), and the closed form
    * G = 2·Σ i·x_i / (n·Σx) − (n+1)/n divides only at the end.
    */
  private val q241Gini: Q = (s, d) => {
    val totals = Tables.events(s, d).groupBy("user_id")
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("x"))
    val ranked = totals.withColumn("i",
      row_number().over(Window.orderBy(col("x"), col("user_id"))).cast(LongType))
    ranked.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("i")).as("six"))
      .select(col("n"),
        round(lit(2.0) * col("six").cast(DoubleType) /
          (col("n").cast(DoubleType) * col("sx").cast(DoubleType)) -
          (col("n").cast(DoubleType) + 1.0) / col("n").cast(DoubleType), 6).as("gini"))
  }

  /** CUSUM changepoint scan over the daily event count series. The
    * cumulative deviation is the closed form cum_n − t·mean computed
    * per row from integer cumulatives — no float accumulation, so the
    * argmax day is engine-exact. Output: the changepoint day, its
    * CUSUM value, and the series mean.
    */
  private val q242CusumChangepoint: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cus = daily
      .withColumn("t", row_number().over(Window.orderBy("day")).cast(LongType))
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(wall))
      .withColumn("days", count(lit(1)).over(wall))
      .withColumn("cusum", col("cum").cast(DoubleType) -
        col("t").cast(DoubleType) * col("total").cast(DoubleType) / col("days").cast(DoubleType))
    val mx = cus.agg(max(abs(col("cusum"))).as("mc"))
    cus.crossJoin(broadcast(mx))
      .filter(abs(col("cusum")) === col("mc"))
      .agg(min(col("day")).as("cp_day"),
        round(min(col("cusum")), 6).as("cusum"),
        min(col("days")).as("n_days"),
        round(min(col("total").cast(DoubleType) / col("days").cast(DoubleType)), 6).as("daily_mean"))
  }

  /** Fano-factor burstiness per user: variance/mean of the user's
    * hourly event counts over their active span, zero hours included
    * WITHOUT materializing them — span length and count moments come
    * from the nonzero hours alone (zeros add nothing to Σc or Σc²),
    * so the whole audit is one keyed aggregate. Fano ≈ 1 is Poisson;
    * ≫ 1 flags bots/batch replays.
    */
  private val q243Burstiness: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(col("user_id"), expr("unix_millis(ts) DIV 3600000").as("h"))
      .groupBy("user_id", "h").agg(count(lit(1)).as("c"))
    hourly.groupBy("user_id")
      .agg((max(col("h")) - min(col("h")) + 1).as("span_hours"),
        sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sc2"))
      .select(col("user_id"), col("span_hours"), col("n_events"),
        round((col("sc2").cast(DoubleType) / col("span_hours").cast(DoubleType) -
          (col("n_events").cast(DoubleType) / col("span_hours").cast(DoubleType)) *
          (col("n_events").cast(DoubleType) / col("span_hours").cast(DoubleType))) /
          (col("n_events").cast(DoubleType) / col("span_hours").cast(DoubleType)), 6).as("fano"))
      .orderBy("user_id")
  }

  /** A/B experiment readout: deterministic arm assignment (user_id
    * parity — in production a salted hash), per-arm conversion to
    * purchase, absolute lift, pooled two-proportion z, and Wilson 95%
    * intervals. Everything reduces to six integers before any float
    * math, so the readout is engine-exact; at scale it is one keyed
    * per-user aggregate and a two-row final reduce.
    */
  private val q244AbReadout: Q = (s, d) => {
    val perUser = Tables.events(s, d).groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 480, 1L)
        .otherwise(0L)).as("converted"))
      .withColumn("arm", (col("user_id") % 2).cast(LongType))
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
    val flat = arms.agg(
      sum(when(col("arm") === 0, col("n"))).as("na"),
      sum(when(col("arm") === 0, col("x"))).as("xa"),
      sum(when(col("arm") === 1, col("n"))).as("nb"),
      sum(when(col("arm") === 1, col("x"))).as("xb"))
    def rate(x: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      x.cast(DoubleType) / n.cast(DoubleType)
    def wilson(x: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column, up: Boolean) = {
      val z = lit(1.96)
      val p = rate(x, n)
      val nn = n.cast(DoubleType)
      val center = p + z * z / (lit(2.0) * nn)
      val spread = z * sqrt(p * (lit(1.0) - p) / nn + z * z / (lit(4.0) * nn * nn))
      (if (up) center + spread else center - spread) / (lit(1.0) + z * z / nn)
    }
    flat.select(
      col("na"), col("xa"), round(rate(col("xa"), col("na")), 6).as("rate_a"),
      col("nb"), col("xb"), round(rate(col("xb"), col("nb")), 6).as("rate_b"),
      round(rate(col("xb"), col("nb")) - rate(col("xa"), col("na")), 6).as("lift"),
      round(when(
        rate(col("xa") + col("xb"), col("na") + col("nb")) > 0 &&
          rate(col("xa") + col("xb"), col("na") + col("nb")) < 1,
        (rate(col("xb"), col("nb")) - rate(col("xa"), col("na"))) /
          sqrt(rate(col("xa") + col("xb"), col("na") + col("nb")) *
            (lit(1.0) - rate(col("xa") + col("xb"), col("na") + col("nb"))) *
            (lit(1.0) / col("na").cast(DoubleType) + lit(1.0) / col("nb").cast(DoubleType)))), 6).as("z"),
      round(wilson(col("xa"), col("na"), up = false), 6).as("wilson_a_lo"),
      round(wilson(col("xa"), col("na"), up = true), 6).as("wilson_a_hi"),
      round(wilson(col("xb"), col("nb"), up = false), 6).as("wilson_b_lo"),
      round(wilson(col("xb"), col("nb"), up = true), 6).as("wilson_b_hi"))
  }

  /** Perplexity-style quality filter: an add-k-smoothed bigram LM fit
    * on the train split scores every eval document by per-token
    * negative log-likelihood; the worst decile is flagged (the CCNet
    * LM-filtering step). Log terms accumulate as DECIMAL(30,12) so
    * per-doc NLL is partition-order independent; the LM tables join by
    * bigram key (broadcast-sized here, keyed shuffle at corpus scale)
    * and the decile cutoff is an exact rank over the bounded doc set.
    */
  private val q245PerplexityFilter: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    def bigrams(df: DataFrame, out: String): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          val w = t.split(" ", -1)
          (0 until w.length - 1).map(i => (id, w(i), w(i + 1)))
        }.toDF(out, "w1", "w2")
    }
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val evals = docs.filter(col("doc_id") % 7 === 0)
    val bg = bigrams(train, "tid").groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ug = bigrams(train, "tid").groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = bg.agg(countDistinct(col("w2")).as("v"))
    val eb = bigrams(evals, "doc_id")
    val k = lit(0.5)
    val scored = eb
      .join(bg, Seq("w1", "w2"), "left")
      .join(ug, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("p", (coalesce(col("c12"), lit(0L)).cast(DoubleType) + k) /
        (coalesce(col("c1"), lit(0L)).cast(DoubleType) + k * col("v").cast(DoubleType)))
      .withColumn("nll_term", (-log(col("p"))).cast(DecimalType(30, 12)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_term")).as("nll_sum"))
      .withColumn("nll", col("nll_sum").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
    val ranked = scored.withColumn("r",
      row_number().over(Window.orderBy(col("nll").desc, col("doc_id"))))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("nd"))))
    ranked.select(col("doc_id"), col("n_bigrams"), round(col("nll"), 6).as("nll"),
        (col("r") * 10 <= col("nd")).as("filtered"))
      .orderBy("doc_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q244_ab_readout", q244AbReadout,
      """WITH pu AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 480 THEN 1 ELSE 0 END) converted
        |  FROM events GROUP BY user_id),
        |arms AS (SELECT user_id % 2 arm, count(*) n, sum(converted) x FROM pu GROUP BY 1),
        |flat AS (SELECT
        |    sum(CASE WHEN arm = 0 THEN n END) na, sum(CASE WHEN arm = 0 THEN x END) xa,
        |    sum(CASE WHEN arm = 1 THEN n END) nb, sum(CASE WHEN arm = 1 THEN x END) xb
        |  FROM arms),
        |r AS (SELECT na::DOUBLE nad, xa::DOUBLE xad, nb::DOUBLE nbd, xb::DOUBLE xbd,
        |    na, xa, nb, xb FROM flat)
        |SELECT na::BIGINT AS na, xa::BIGINT AS xa, round(xad / nad, 6) AS rate_a,
        |  nb::BIGINT AS nb, xb::BIGINT AS xb, round(xbd / nbd, 6) AS rate_b,
        |  round(xbd / nbd - xad / nad, 6) AS lift,
        |  round(CASE WHEN (xad + xbd) / (nad + nbd) > 0 AND (xad + xbd) / (nad + nbd) < 1
        |    THEN (xbd / nbd - xad / nad) /
        |      sqrt((xad + xbd) / (nad + nbd) * (1.0 - (xad + xbd) / (nad + nbd)) *
        |        (1.0 / nad + 1.0 / nbd)) END, 6) AS z,
        |  round((xad / nad + 1.96 * 1.96 / (2.0 * nad) - 1.96 * sqrt(xad / nad * (1.0 - xad / nad) / nad
        |    + 1.96 * 1.96 / (4.0 * nad * nad))) / (1.0 + 1.96 * 1.96 / nad), 6) AS wilson_a_lo,
        |  round((xad / nad + 1.96 * 1.96 / (2.0 * nad) + 1.96 * sqrt(xad / nad * (1.0 - xad / nad) / nad
        |    + 1.96 * 1.96 / (4.0 * nad * nad))) / (1.0 + 1.96 * 1.96 / nad), 6) AS wilson_a_hi,
        |  round((xbd / nbd + 1.96 * 1.96 / (2.0 * nbd) - 1.96 * sqrt(xbd / nbd * (1.0 - xbd / nbd) / nbd
        |    + 1.96 * 1.96 / (4.0 * nbd * nbd))) / (1.0 + 1.96 * 1.96 / nbd), 6) AS wilson_b_lo,
        |  round((xbd / nbd + 1.96 * 1.96 / (2.0 * nbd) + 1.96 * sqrt(xbd / nbd * (1.0 - xbd / nbd) / nbd
        |    + 1.96 * 1.96 / (4.0 * nbd * nbd))) / (1.0 + 1.96 * 1.96 / nbd), 6) AS wilson_b_hi
        |FROM r""".stripMargin),
    Query("q245_perplexity_filter", q245PerplexityFilter,
      """WITH docs AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
        |tb AS (SELECT doc_id, w[i] w1, w[i + 1] w2
        |  FROM docs, LATERAL (SELECT unnest(range(1, len(w))) i) t),
        |bgc AS (SELECT w1, w2, count(*) c12 FROM tb WHERE doc_id % 7 <> 0 GROUP BY 1, 2),
        |ugc AS (SELECT w1, count(*) c1 FROM tb WHERE doc_id % 7 <> 0 GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT w2) v FROM bgc),
        |eb AS (SELECT doc_id, w1, w2 FROM tb WHERE doc_id % 7 = 0),
        |scored AS (SELECT doc_id, count(*) n_bigrams,
        |    sum(CAST(-ln((coalesce(c12, 0)::DOUBLE + 0.5) /
        |      (coalesce(c1, 0)::DOUBLE + 0.5 * v::DOUBLE)) AS DECIMAL(30,12))) nll_sum
        |  FROM eb LEFT JOIN bgc USING (w1, w2) LEFT JOIN ugc USING (w1), vocab
        |  GROUP BY doc_id),
        |s2 AS (SELECT doc_id, n_bigrams, nll_sum::DOUBLE / n_bigrams::DOUBLE nll FROM scored),
        |rk AS (SELECT *, row_number() OVER (ORDER BY nll DESC, doc_id) r,
        |    count(*) OVER () nd FROM s2)
        |SELECT doc_id, n_bigrams::BIGINT AS n_bigrams, round(nll, 6) AS nll,
        |  (r * 10 <= nd) AS filtered
        |FROM rk ORDER BY doc_id""".stripMargin),
    Query("q238_ngram_novelty", q238NgramNovelty,
      """WITH docs AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
        |    for i in range(1, greatest(len(w) - 2, 1) + 1)]) s FROM docs),
        |tg AS (SELECT DISTINCT unnest(s) g FROM sh WHERE doc_id % 7 <> 0),
        |eg AS (SELECT doc_id, unnest(s) g FROM sh WHERE doc_id % 7 = 0),
        |seen AS (SELECT doc_id, count(*) n_seen FROM eg
        |  WHERE g IN (SELECT g FROM tg) GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) n_grams FROM eg GROUP BY doc_id)
        |SELECT t.doc_id, n_grams::BIGINT AS n_grams,
        |  coalesce(n_seen, 0)::BIGINT AS n_seen,
        |  round(1.0 - coalesce(n_seen, 0)::DOUBLE / n_grams::DOUBLE, 6) AS novelty
        |FROM tot t LEFT JOIN seen USING (doc_id) ORDER BY doc_id""".stripMargin),
    Query("q239_minhash_containment", q239MinhashContainment,
      s"""WITH docs AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
         |    for i in range(1, greatest(len(w) - 2, 1) + 1)]) s FROM docs),
         |sig AS (SELECT doc_id, s,
         |    [list_min(list_transform(s, x ->
         |      ${mdHashSql("x")} + i * ('0x' || substr(md5(x), 16, 12))::BIGINT))
         |      for i in range(0, 48)] sig
         |  FROM sh),
         |hs AS (SELECT doc_id, list_transform(s, x -> ${mdHashSql("x")}) hh FROM sh),
         |bands AS (SELECT doc_id, b,
         |    array_to_string(sig[b*4+1 : b*4+4], ',') bkey
         |  FROM sig, (SELECT unnest(range(0, 12)) b) bs),
         |cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |pairs AS (SELECT id_a, id_b,
         |    len(list_intersect(x.hh, y.hh)) n_int, len(x.hh) sza, len(y.hh) szb,
         |    len(list_intersect(x.hh, y.hh))::DOUBLE /
         |      (len(x.hh)::DOUBLE + len(y.hh)::DOUBLE - len(list_intersect(x.hh, y.hh))::DOUBLE) jac
         |  FROM cand JOIN hs x ON x.doc_id = id_a JOIN hs y ON y.doc_id = id_b)
         |SELECT id_a, id_b, round(jac, 6) AS jac, n_int::BIGINT AS n_int,
         |  round(n_int::DOUBLE / sza::DOUBLE, 6) AS cont_a,
         |  round(n_int::DOUBLE / szb::DOUBLE, 6) AS cont_b
         |FROM pairs WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin),
    Query("q240_adamic_adar", q240AdamicAdar,
      """WITH cells AS (SELECT DISTINCT user_id, epoch_ms(ts) // 3600000 AS cell
        |  FROM events WHERE event_type = 'error'),
        |celln AS (SELECT cell, count(*) nc FROM cells GROUP BY cell
        |  HAVING count(*) <= 100 AND count(*) >= 2),
        |wtd AS (SELECT c.cell, c.user_id,
        |    CAST(1.0 / ln(nc::DOUBLE) AS DECIMAL(20,12)) w
        |  FROM cells c JOIN celln USING (cell))
        |SELECT a.user_id AS ua, b.user_id AS ub, count(*)::BIGINT AS n_common,
        |  round(CAST(sum(a.w) AS DOUBLE), 6) AS aa
        |FROM wtd a JOIN wtd b ON a.cell = b.cell AND a.user_id < b.user_id
        |GROUP BY 1, 2 ORDER BY aa DESC, ua, ub LIMIT 30""".stripMargin),
    Query("q241_gini", q241Gini,
      """WITH totals AS (SELECT user_id, sum(CAST(value AS DECIMAL(18,2))) x
        |  FROM events GROUP BY user_id),
        |ranked AS (SELECT x, row_number() OVER (ORDER BY x, user_id) i FROM totals)
        |SELECT count(*)::BIGINT AS n,
        |  round(2.0 * sum(x * i)::DOUBLE / (count(*)::DOUBLE * sum(x)::DOUBLE) -
        |    (count(*)::DOUBLE + 1.0) / count(*)::DOUBLE, 6) AS gini
        |FROM ranked""".stripMargin),
    Query("q242_cusum_changepoint", q242CusumChangepoint,
      """WITH daily AS (SELECT CAST(ts AS DATE) dd, count(*) n FROM events GROUP BY 1),
        |cus AS (SELECT dd,
        |    row_number() OVER (ORDER BY dd) t,
        |    sum(n) OVER (ORDER BY dd ROWS UNBOUNDED PRECEDING) cum,
        |    sum(n) OVER () total, count(*) OVER () nd
        |  FROM daily),
        |c2 AS (SELECT *, cum::DOUBLE - t::DOUBLE * total::DOUBLE / nd::DOUBLE cusum
        |  FROM cus),
        |mx AS (SELECT max(abs(cusum)) mc FROM c2)
        |SELECT min(dd) AS cp_day, round(min(cusum), 6) AS cusum,
        |  min(nd)::BIGINT AS n_days,
        |  round(min(total::DOUBLE / nd::DOUBLE), 6) AS daily_mean
        |FROM c2, mx WHERE abs(cusum) = mc""".stripMargin),
    Query("q243_burstiness", q243Burstiness,
      """WITH hourly AS (SELECT user_id, epoch_ms(ts) // 3600000 h, count(*) c
        |  FROM events GROUP BY 1, 2),
        |agg AS (SELECT user_id, max(h) - min(h) + 1 span_hours,
        |    sum(c) n_events, sum(c * c) sc2 FROM hourly GROUP BY user_id)
        |SELECT user_id, span_hours::BIGINT AS span_hours, n_events::BIGINT AS n_events,
        |  round((sc2::DOUBLE / span_hours::DOUBLE -
        |    (n_events::DOUBLE / span_hours::DOUBLE) * (n_events::DOUBLE / span_hours::DOUBLE)) /
        |    (n_events::DOUBLE / span_hours::DOUBLE), 6) AS fano
        |FROM agg ORDER BY user_id""".stripMargin))
}
