package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec2
import graft.functions.TextFunctions.{mdHash, mdHashSql, words}
import graft.sources.Tables

/** Round-7 wave 8: corpus/experiment governance operators — vocabulary
  * coverage curve, Benjamini-Hochberg FDR control, deterministic block
  * bootstrap CI, sliding-window distinct users, DoReMi-style domain
  * reweighting step, l-diversity audit, activity streaks, and
  * split-conformal prediction intervals.
  *
  * Determinism contract (shared with every oracle-hashed query): double
  * aggregation happens on exact carriers (integer-valued doubles under
  * 2^53, DECIMAL sums, or bounded ordered windows) so Spark's partial-agg
  * order can never drift from DuckDB's sequential sum; randomness is the
  * 60-bit md5 hash family both engines compute bit-identically.
  */
object Curation26 {

  /** q301: token coverage of the top-k vocabulary (the curve a tokenizer
    * budget decision reads). The word-count aggregate is the only
    * corpus-scale pass; ranking uses the distributed global rank (no
    * single-task window over the vocabulary), and the coverage row is a
    * single conditional aggregate. Counts are exact longs.
    */
  private val q301VocabCoverage: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counts = docs.select(explode(words(col("text"))).as("wd"))
      .groupBy("wd").agg(count(lit(1)).as("c"))
    val ranked = graft.operators.Ranking.globalRank(
      counts, "r", col("c").desc, col("wd"))
    def covAt(k: Int) = round(
      sum(when(col("r") <= k, col("c")).otherwise(lit(0L))).cast(DoubleType) /
        sum(col("c")).cast(DoubleType), 6).as(s"cov_$k")
    ranked.agg(
      count(lit(1)).as("n_types"),
      sum(col("c")).as("total_tokens"),
      covAt(10), covAt(25), covAt(50), covAt(100))
  }

  /** q302: Benjamini-Hochberg step-up over per-event-type A/B tests
    * (variant = user_id parity, conversion = value >= 250). The corpus
    * pass reduces to one row per (event_type, variant); everything after
    * runs on the bounded |event_types| domain, so the unpartitioned
    * ranking window is metadata-sized by construction (same bounded-
    * domain contract as q246, documented in SCALE.md). The p-value uses
    * the same closed-form normal-tail approximation in both engines —
    * parity is arithmetic, not statistical-table lookup.
    */
  private val q302FdrBh: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val cells = ev.select(col("event_type"),
        (pmod(col("user_id"), lit(2)) === 0).as("is_a"),
        (col("value") >= 250.0).cast(LongType).as("conv"))
      .groupBy("event_type", "is_a")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
    val wide = cells.groupBy("event_type").agg(
      sum(when(col("is_a"), col("n"))).as("n1"),
      sum(when(col("is_a"), col("x"))).as("x1"),
      sum(when(!col("is_a"), col("n"))).as("n2"),
      sum(when(!col("is_a"), col("x"))).as("x2"))
    // a group with zero or unanimous conversions carries no test (the
    // pooled variance is 0 and z is 0/0) — excluded in both engines
    val tested = wide.filter(col("x1") + col("x2") > 0 &&
      col("x1") + col("x2") < col("n1") + col("n2"))
    val p1 = col("x1").cast(DoubleType) / col("n1").cast(DoubleType)
    val p2 = col("x2").cast(DoubleType) / col("n2").cast(DoubleType)
    val pp = (col("x1") + col("x2")).cast(DoubleType) /
      (col("n1") + col("n2")).cast(DoubleType)
    val z = (p1 - p2) /
      sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n1").cast(DoubleType) + lit(1.0) / col("n2").cast(DoubleType)))
    val az = abs(z)
    // two-sided normal tail via the logistic approximation (max abs err
    // ~1.4e-4) — identical closed form on the oracle side
    val pv = lit(2.0) / (lit(1.0) + exp(lit(1.5976) * az + lit(0.070566) * az * az * az))
    val scored = tested.withColumn("z", z).withColumn("p", pv)
    val w = Window.orderBy(col("p"), col("event_type"))
    val wAll = Window.orderBy(col("p"), col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored
      .withColumn("i", row_number().over(w))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("bh_ok",
        col("p") <= col("i").cast(DoubleType) * lit(0.1) / col("m").cast(DoubleType))
      .withColumn("kmax", max(when(col("bh_ok"), col("i"))).over(wAll))
      .select(col("event_type"), round(col("z"), 6).as("z"),
        round(col("p"), 6).as("p"), col("i").cast(LongType).as("i"),
        (col("kmax").isNotNull && col("i") <= col("kmax")).as("rejected"))
      .orderBy("event_type")
  }

  /** q303: deterministic block bootstrap (days as blocks) for the daily-
    * mean CI. The corpus pass reduces events to one exact-decimal row per
    * day; the 200 x n_days resample grid, replicate means, and order
    * statistics all live on the bounded day domain. Resampling is
    * md5-indexed — both engines materialize the identical grid.
    */
  private val q303BootstrapCi: Q = (s, d) => {
    val B = 200
    val ev = Tables.events(s, d)
    val daily = ev.select(to_date(col("ts")).as("day"), col("value"))
      .groupBy("day")
      .agg(round(sum(dec2(col("value"))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("dm"))
    // bounded domain (n_days rows): index days 0..n-1
    val wd = Window.orderBy(col("day"))
    val idx = daily.withColumn("j", row_number().over(wd) - lit(1))
      .withColumn("dmd", col("dm").cast(DecimalType(18, 6)))
    val n = idx.agg(count(lit(1)).as("n"))
    val slots = idx.select(col("j").as("s"))
      .crossJoin(broadcast(n))
      .select(col("s"), col("n"), explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("pick",
        pmod(mdHash(concat_ws("|", lit("boot"), col("b"), col("s"))), col("n")))
    val reps = slots.join(broadcast(idx.select(col("j"), col("dmd"))),
        slots("pick") === idx("j"))
      .groupBy("b")
      // decimal sum: replicate mean is order-independent, then one double division
      .agg(round(sum(col("dmd")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("rm"))
    val wr = Window.orderBy(col("rm"), col("b"))
    val ordered = reps.withColumn("r", row_number().over(wr))
    val point = idx.agg(round(sum(col("dmd")).cast(DoubleType) /
      count(lit(1)).cast(DoubleType), 6).as("point"), count(lit(1)).as("n_days"))
    ordered.agg(
        min(when(col("r") === 5, col("rm"))).as("ci_lo"),
        min(when(col("r") === 195, col("rm"))).as("ci_hi"))
      .crossJoin(broadcast(point))
      .select(col("point"), col("ci_lo"), col("ci_hi"), col("n_days"),
        lit(B.toLong).as("n_reps"))
  }

  /** q304: distinct users per trailing 6-hour window, hourly step — the
    * sliding-cardinality readout a live dashboard keeps. Shape: one
    * distinct pass to (hour, user), a 6-way in-row offset expansion, an
    * equi-join against the observed-hour list (broadcast, bounded), and a
    * keyed distinct count. No range/theta join anywhere.
    */
  private val q304SlidingDistinct: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val he = expr("unix_micros(ts) div 3600000000")
    val pairs = ev.select(he.as("h"), col("user_id")).distinct()
    val hrs = pairs.select(col("h").as("w")).distinct()
    pairs
      .select(col("user_id"), explode(sequence(lit(0L), lit(5L))).as("off"), col("h"))
      .select(col("user_id"), (col("h") + col("off")).as("w"))
      .join(broadcast(hrs), Seq("w"))
      .groupBy("w")
      .agg(count_distinct(col("user_id")).as("u"))
      // (w+1)*3600 is the true EXCLUSIVE end of the trailing 6h window
      // anchored at hour w (r7 advice: w*3600 was the last hour's START
      // mislabeled as the end); oracle emits the same expression
      .select(timestamp_seconds((col("w") + 1) * 3600).as("w_end"), col("u"))
      .orderBy("w_end")
  }

  /** q305: one DoReMi-style mirror-descent reweighting step over sources:
    * excess "loss" proxy = mean words/doc vs the corpus mean, new weight
    * w1 ∝ w0·exp(excess). Word counts are integer-valued doubles (exact
    * under 2^53); the bounded per-source terms go through decimal before
    * the normalizing sum so partial-agg order cannot drift.
    */
  private val q305DoremiStep: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val per = docs.select(col("source"), size(words(col("text"))).cast(LongType).as("nw"))
      .groupBy("source").agg(count(lit(1)).as("nd"), sum(col("nw")).as("sw"))
    val tot = per.agg(sum(col("nd")).as("tnd"), sum(col("sw")).as("tsw"))
    val stepped = per.crossJoin(broadcast(tot))
      .withColumn("loss", col("sw").cast(DoubleType) / col("nd").cast(DoubleType))
      .withColumn("excess",
        col("loss") - col("tsw").cast(DoubleType) / col("tnd").cast(DoubleType))
      .withColumn("w0", col("nd").cast(DoubleType) / col("tnd").cast(DoubleType))
      .withColumn("term", (col("w0") * exp(col("excess") / lit(10.0)))
        .cast(DecimalType(28, 12)))
    val norm = stepped.agg(sum(col("term")).as("tt"))
    stepped.crossJoin(broadcast(norm))
      .select(col("source"), col("nd"), round(col("loss"), 6).as("loss"),
        round(col("excess"), 6).as("excess"), round(col("w0"), 6).as("w0"),
        round(col("term").cast(DoubleType) / col("tt").cast(DoubleType), 6).as("w1"))
      .orderBy("source")
  }

  /** q306: l-diversity audit over quasi-identifier groups (lang x 500-char
    * length bucket), sensitive attribute = source. The k-anonymity
    * companion (q215) counts group sizes; this one checks that no group
    * pins its members to fewer than 3 distinct sources.
    */
  private val q306LDiversity: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    docs.select(col("lang"), floor(col("n_chars") / 500).cast(LongType).as("len_bucket"),
        col("source"))
      .groupBy("lang", "len_bucket")
      .agg(count(lit(1)).as("n"), count_distinct(col("source")).as("l"))
      .withColumn("diverse", col("l") >= 3)
      .orderBy("lang", "len_bucket")
  }

  /** q307: longest consecutive-day activity streak per user (classic
    * gaps-and-islands: day minus per-user row_number is constant within a
    * streak). Windows are user-partitioned — fully parallel; output is
    * the bounded top-20 under a total order.
    */
  private val q307Streak: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val days = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max(col("len")).as("max_streak"))
      .orderBy(col("max_streak").desc, col("user_id"))
      .limit(20)
  }

  /** q308: split-conformal prediction intervals per event_type — train
    * (hash buckets 0-7) fits the mean, calibration (bucket 8) takes the
    * discrete 90th-percentile absolute residual, evaluation (bucket 9)
    * reports empirical coverage. Residuals are floored to integer cents
    * so grouping and the percentile scan are exact in both engines; the
    * percentile itself is the q253 cum/count pattern over the grouped
    * residual domain (no per-row sort).
    */
  private val q308Conformal: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val tagged = ev.select(col("event_type"), col("value"),
      pmod(mdHash(concat_ws("|", lit("cf"), col("event_id"))), lit(10L)).as("bk"))
    val mu = tagged.filter(col("bk") < 8).groupBy("event_type")
      .agg(round(sum(dec2(col("value"))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("mu"))
    val cal = tagged.filter(col("bk") === 8)
      .join(broadcast(mu), Seq("event_type"))
      .select(col("event_type"),
        floor(abs(col("value") - col("mu")) * 100).cast(LongType).as("rc"))
      .groupBy("event_type", "rc").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("rc"))
    val qhat = cal
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .groupBy("event_type")
      .agg(min(when(col("cum") * 10 >= col("n") * 9, col("rc"))).as("qhat_cents"),
        min(col("n")).as("n_cal"))
    val eval_ = tagged.filter(col("bk") === 9)
      .join(broadcast(mu), Seq("event_type"))
      .join(broadcast(qhat), Seq("event_type"))
      .groupBy("event_type")
      .agg(min(col("mu")).as("mu"), min(col("qhat_cents")).as("qhat_cents"),
        min(col("n_cal")).as("n_cal"), count(lit(1)).as("n_eval"),
        round(sum((floor(abs(col("value") - col("mu")) * 100).cast(LongType) <=
          col("qhat_cents")).cast(LongType)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("coverage"))
    eval_.select(col("event_type"), col("mu"), col("qhat_cents"),
      col("n_cal"), col("n_eval"), col("coverage")).orderBy("event_type")
  }

  val queries: Seq[Query] = Seq(
    Query("q301_vocab_coverage", q301VocabCoverage,
      """WITH c AS (SELECT wd, count(*) c FROM (
        |    SELECT unnest(str_split(text, ' ')) wd FROM documents) GROUP BY wd),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, wd) r FROM c)
        |SELECT count(*)::BIGINT AS n_types, sum(c)::BIGINT AS total_tokens,
        |  round(sum(CASE WHEN r <= 10 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE, 6) AS cov_10,
        |  round(sum(CASE WHEN r <= 25 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE, 6) AS cov_25,
        |  round(sum(CASE WHEN r <= 50 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE, 6) AS cov_50,
        |  round(sum(CASE WHEN r <= 100 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE, 6) AS cov_100
        |FROM r""".stripMargin),
    Query("q302_fdr_bh", q302FdrBh,
      """WITH cells AS (SELECT event_type, user_id % 2 = 0 is_a,
        |    count(*) n, sum(CASE WHEN value >= 250.0 THEN 1 ELSE 0 END) x
        |  FROM events GROUP BY 1, 2),
        |wide AS (SELECT event_type,
        |    sum(CASE WHEN is_a THEN n END) n1, sum(CASE WHEN is_a THEN x END) x1,
        |    sum(CASE WHEN NOT is_a THEN n END) n2, sum(CASE WHEN NOT is_a THEN x END) x2
        |  FROM cells GROUP BY event_type),
        |tested AS (SELECT * FROM wide
        |  WHERE x1 + x2 > 0 AND x1 + x2 < n1 + n2),
        |sc AS (SELECT event_type,
        |    (x1::DOUBLE / n1::DOUBLE - x2::DOUBLE / n2::DOUBLE) /
        |      sqrt(((x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE) *
        |           (1.0 - (x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE) *
        |           (1.0 / n1::DOUBLE + 1.0 / n2::DOUBLE)) z
        |  FROM tested),
        |pv AS (SELECT event_type, z,
        |    2.0 / (1.0 + exp(1.5976 * abs(z) + 0.070566 * abs(z) * abs(z) * abs(z))) p
        |  FROM sc),
        |rk AS (SELECT *, row_number() OVER (ORDER BY p, event_type) i,
        |    count(*) OVER () m FROM pv),
        |km AS (SELECT max(CASE WHEN p <= i * 0.1 / m THEN i END) kmax FROM rk)
        |SELECT event_type, round(z, 6) AS z, round(p, 6) AS p, i::BIGINT AS i,
        |  (kmax IS NOT NULL AND i <= kmax) AS rejected
        |FROM rk CROSS JOIN km ORDER BY event_type""".stripMargin),
    Query("q303_bootstrap_ci", q303BootstrapCi,
      s"""WITH daily AS (SELECT CAST(ts AS DATE) dy,
         |    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) dm
         |  FROM events GROUP BY 1),
         |idx AS (SELECT dy, CAST(dm AS DECIMAL(18,6)) dmd,
         |    row_number() OVER (ORDER BY dy) - 1 j FROM daily),
         |nn AS (SELECT count(*) n FROM idx),
         |slots AS (SELECT i.j s, nn.n, b FROM idx i CROSS JOIN nn
         |    CROSS JOIN (SELECT unnest(range(0, 200)) b)),
         |picked AS (SELECT b,
         |    ${mdHashSql("'boot|' || b || '|' || s")} % n pick FROM slots),
         |reps AS (SELECT b, round(CAST(sum(dmd) AS DOUBLE) / count(*), 6) rm
         |  FROM picked JOIN idx ON picked.pick = idx.j GROUP BY b),
         |ordered AS (SELECT rm, row_number() OVER (ORDER BY rm, b) r FROM reps),
         |pt AS (SELECT round(CAST(sum(dmd) AS DOUBLE) / count(*), 6) point,
         |    count(*) n_days FROM idx)
         |SELECT point, min(CASE WHEN r = 5 THEN rm END) AS ci_lo,
         |  min(CASE WHEN r = 195 THEN rm END) AS ci_hi,
         |  n_days::BIGINT AS n_days, 200::BIGINT AS n_reps
         |FROM ordered CROSS JOIN pt GROUP BY point, n_days""".stripMargin),
    Query("q304_sliding_distinct", q304SlidingDistinct,
      """WITH pairs AS (SELECT DISTINCT epoch_us(ts) // 3600000000 h, user_id FROM events),
        |hrs AS (SELECT DISTINCT h w FROM pairs),
        |ex AS (SELECT user_id, h + o w FROM pairs
        |  CROSS JOIN (SELECT unnest(range(0, 6)) o))
        |SELECT make_timestamp((w + 1) * 3600000000) AS w_end, count(DISTINCT user_id)::BIGINT AS u
        |FROM ex JOIN hrs USING (w) GROUP BY w ORDER BY w_end""".stripMargin),
    Query("q305_doremi_step", q305DoremiStep,
      """WITH per AS (SELECT source, count(*) nd,
        |    sum(len(str_split(text, ' '))) sw FROM documents GROUP BY source),
        |tot AS (SELECT sum(nd) tnd, sum(sw) tsw FROM per),
        |st AS (SELECT source, nd, sw::DOUBLE / nd::DOUBLE loss,
        |    sw::DOUBLE / nd::DOUBLE - tsw::DOUBLE / tnd::DOUBLE excess,
        |    nd::DOUBLE / tnd::DOUBLE w0,
        |    CAST(nd::DOUBLE / tnd::DOUBLE *
        |      exp((sw::DOUBLE / nd::DOUBLE - tsw::DOUBLE / tnd::DOUBLE) / 10.0)
        |      AS DECIMAL(28,12)) term
        |  FROM per CROSS JOIN tot),
        |nm AS (SELECT sum(term) tt FROM st)
        |SELECT source, nd::BIGINT AS nd, round(loss, 6) AS loss,
        |  round(excess, 6) AS excess, round(w0, 6) AS w0,
        |  round(CAST(term AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS w1
        |FROM st CROSS JOIN nm ORDER BY source""".stripMargin),
    Query("q306_l_diversity", q306LDiversity,
      """SELECT lang, (n_chars // 500)::BIGINT AS len_bucket, count(*)::BIGINT AS n,
        |  count(DISTINCT source)::BIGINT AS l, count(DISTINCT source) >= 3 AS diverse
        |FROM documents GROUP BY 1, 2 ORDER BY lang, len_bucket""".stripMargin),
    Query("q307_streak", q307Streak,
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) dy FROM events),
        |isl AS (SELECT user_id, dy,
        |    dy - CAST(row_number() OVER (PARTITION BY user_id ORDER BY dy) AS INTEGER) grp
        |  FROM days),
        |st AS (SELECT user_id, grp, count(*) len FROM isl GROUP BY 1, 2)
        |SELECT user_id, max(len)::BIGINT AS max_streak FROM st GROUP BY user_id
        |ORDER BY max_streak DESC, user_id LIMIT 20""".stripMargin),
    Query("q308_conformal", q308Conformal,
      s"""WITH tagged AS (SELECT event_type, value,
         |    ${mdHashSql("'cf|' || event_id")} % 10 bk FROM events),
         |mu AS (SELECT event_type,
         |    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) mu
         |  FROM tagged WHERE bk < 8 GROUP BY event_type),
         |cal AS (SELECT t.event_type, floor(abs(value - mu) * 100)::BIGINT rc, count(*) c
         |  FROM tagged t JOIN mu USING (event_type) WHERE bk = 8 GROUP BY 1, 2),
         |cum AS (SELECT event_type, rc, c,
         |    sum(c) OVER (PARTITION BY event_type ORDER BY rc ROWS UNBOUNDED PRECEDING) cum,
         |    sum(c) OVER (PARTITION BY event_type) n FROM cal),
         |qh AS (SELECT event_type,
         |    min(CASE WHEN cum * 10 >= n * 9 THEN rc END) qhat_cents,
         |    min(n) n_cal FROM cum GROUP BY event_type)
         |SELECT t.event_type, min(mu) AS mu, min(qhat_cents)::BIGINT AS qhat_cents,
         |  min(n_cal)::BIGINT AS n_cal, count(*)::BIGINT AS n_eval,
         |  round(sum(CASE WHEN floor(abs(value - mu) * 100)::BIGINT <= qhat_cents
         |    THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS coverage
         |FROM tagged t JOIN mu USING (event_type) JOIN qh USING (event_type)
         |WHERE bk = 9 GROUP BY t.event_type ORDER BY t.event_type""".stripMargin))
}
