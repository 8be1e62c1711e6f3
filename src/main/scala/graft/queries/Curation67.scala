package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.{D9, jaroWinklerNative}
import graft.functions.TextFunctions.mdHash
import graft.operators.Similarity
import graft.sources.Tables

/** Round-11 wave 36: Jaro-Winkler blocked linkage on the native
  * codegen'd scorer, synthetic-control counterfactual gap, and the
  * Theil-Sen robust trend estimator.
  */
object Curation67 {

  /** q477: Jaro-Winkler blocked record linkage — the fuzzy-name join
    * scored by the native codegen'd [[graft.functions.JaroWinklerExpr]]
    * (no UDF in the hot path; byte-exact DuckDB-equivalent semantics).
    * Names get deterministic md5-channel corruptions (digit swap, last
    * char dropped, char appended), candidate pairs stay bounded at ≈8
    * per block via the fixedCountModulus ladder, and classification at
    * JW ≥ 0.93 reads out as a confusion matrix plus the mean scores of
    * true and false pairs (the separation the threshold exploits).
    */
  private val q477JwLinkage: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val nC = Tables.rowCount(s, d, "customer")
    val blockMod = Similarity.fixedCountModulus(nC, target = 8L)
    val orig = c.select(col("c_custkey").as("id"), col("c_name").as("nm"))
    val corrupted = orig
      .withColumn("nm", when(mdHash(lit("jw1"), col("id")) % 6 === 0,
        concat(substring(col("nm"), 1, 11), substring(col("nm"), 13, 1),
          substring(col("nm"), 12, 1), substring(col("nm"), 14, 99)))
        .otherwise(col("nm")))
      .withColumn("nm", when(mdHash(lit("jw2"), col("id")) % 7 === 1,
        expr("substr(nm, 1, length(nm) - 1)")).otherwise(col("nm")))
      .withColumn("nm", when(mdHash(lit("jw3"), col("id")) % 11 === 2,
        concat(col("nm"), lit("X"))).otherwise(col("nm")))
    val a = orig.select((col("id") % blockMod).as("blk"), col("id").as("ida"),
      col("nm").as("nma"))
    val b = corrupted.select((col("id") % blockMod).as("blk"), col("id").as("idb"),
      col("nm").as("nmb"))
    val scored = a.join(b, Seq("blk"))
      .select((col("ida") === col("idb")).as("is_match"),
        round(jaroWinklerNative(col("nma"), col("nmb")), 9).cast(D9).as("jw"))
      .withColumn("pred", col("jw") >= 0.93)
    scored.agg(count(lit(1)).as("n_pairs"),
      sum(when(col("is_match") && col("pred"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("is_match") && col("pred"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("is_match") && !col("pred"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("is_match") && !col("pred"), 1L).otherwise(0L)).as("tn"),
      round(sum(when(col("is_match"), col("jw"))).cast(DoubleType) /
        sum(when(col("is_match"), 1L).otherwise(0L)), 6).as("mean_jw_true"),
      round(sum(when(!col("is_match"), col("jw"))).cast(DoubleType) /
        sum(when(!col("is_match"), 1L).otherwise(0L)), 6).as("mean_jw_false"))
      .select(col("n_pairs"), col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp").cast(DoubleType) / (col("tp") + col("fp")), 6)
          .as("precision"),
        round(col("tp").cast(DoubleType) / (col("tp") + col("fn")), 6)
          .as("recall"),
        col("mean_jw_true"), col("mean_jw_false"))
  }

  /** q478: synthetic control — nation 0's daily revenue explained by a
    * least-squares blend of nations 1 and 2 fit on the pre-1996
    * period (2×2 normal equations from exact decimal moments of the
    * bounded day domain), then read out as the post-period gap between
    * actual and synthetic (the counterfactual-impact estimate). All
    * series math happens on the ≤~2.4k-row day grid after one keyed
    * aggregate of orders×customer.
    */
  private val q478SyntheticControl: Q = (s, d) => {
    val cutoff = lit("1996-01-01").cast("date")
    val daily = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") <= 2)
      .groupBy(col("o_orderdate").cast("date").as("day"),
        col("c_nationkey").as("nat"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val grid = daily.groupBy("day").agg(
      max(when(col("nat") === 0, col("rev"))).as("y"),
      max(when(col("nat") === 1, col("rev"))).as("x1"),
      max(when(col("nat") === 2, col("rev"))).as("x2"))
      .select(col("day"),
        coalesce(col("y"), lit(0).cast(DecimalType(18, 2))).as("y"),
        coalesce(col("x1"), lit(0).cast(DecimalType(18, 2))).as("x1"),
        coalesce(col("x2"), lit(0).cast(DecimalType(18, 2))).as("x2"))
    val pre = grid.filter(col("day") < cutoff)
    val mom = broadcast(pre.agg(
      sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"), sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"), count(lit(1)).as("n_pre")))
    // every moment goes to DOUBLE before the solve: a decimal×decimal
    // cross term (s2y·s12 ~ 1.2e33 at sf1) overflows DECIMAL(38) under
    // ANSI — the 2×2 algebra is pure double in both engines
    def md(c: String) = col(c).cast(DoubleType)
    val w = broadcast(mom.select(col("n_pre"),
      ((md("s1y") * md("s22") - md("s2y") * md("s12")) /
        (md("s11") * md("s22") - md("s12") * md("s12"))).as("w1"),
      ((md("s2y") * md("s11") - md("s1y") * md("s12")) /
        (md("s11") * md("s22") - md("s12") * md("s12"))).as("w2")))
    grid.crossJoin(w)
      .withColumn("synth", col("w1") * col("x1") + col("w2") * col("x2"))
      .withColumn("gap", col("y").cast(DoubleType) - col("synth"))
      .withColumn("post", col("day") >= cutoff)
      .groupBy("post")
      .agg(max(col("n_pre")).as("n_pre"),
        round(max(col("w1")), 6).as("w1"), round(max(col("w2")), 6).as("w2"),
        count(lit(1)).as("n_days"),
        round(sum(round(col("gap"), 6).cast(D9)).cast(DoubleType) /
          count(lit(1)), 4).as("mean_gap"))
      .orderBy("post")
  }

  /** q479: Theil-Sen robust trend — the median of all pairwise slopes
    * of the daily order-count series (outlier-proof where OLS is not).
    * The day domain is bounded (~2.4k rows at any corpus scale), so
    * the pairwise grid is a bounded self-join (~3M cells, constant in
    * corpus size); the median slope and the median intercept are exact
    * order statistics picked by rank with a (slope, i, j) total order.
    */
  private val q479TheilSen: Q = (s, d) => {
    // spill the day aggregate once: it is consumed three times (both
    // sides of the pair grid + the intercept pass), each otherwise a
    // fresh single-task orders scan+agg
    val daily = graft.operators.Materialize.spillRelease(
      Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
        .select(datediff(col("day"), lit("1992-01-01").cast("date")).as("di"),
          col("y")))
    // The pair grid is a broadcast nested-loop join whose parallelism
    // is the STREAM side's partition count — and `daily` is a coalesced
    // one-partition aggregate, so the first cut ran the ~3M-pair loop
    // (plus the 9-dp rounding and decimal cast per pair) in a single
    // 84 s task, recomputed by every downstream action (round-10 event
    // log, stage 571). Spreading the probe side across the session
    // width parallelizes the loop, and materializing the grid once
    // (spillRelease) feeds the count, the rank, and the median pick
    // from the file instead of re-running the join per action.
    val width = s.sessionState.conf.numShufflePartitions
    val a = daily.repartition(width, col("di")).select(col("di").as("i"), col("y").as("yi"))
    val b = daily.select(col("di").as("j"), col("y").as("yj"))
    val slopes = graft.operators.Materialize.spillRelease(
      a.join(broadcast(b), col("j") > col("i"))
        .select(col("i"), col("j"),
          round((col("yj") - col("yi")).cast(DoubleType) / (col("j") - col("i")), 9)
            .cast(D9).as("sl")))
    // the median rank comes off the bucketed global-rank machinery —
    // a bare Window.orderBy over the ~3M-pair grid is a single-task
    // sort (measured as a flat 14 s floor at every SF). The COUNTED
    // variant returns n_pairs from the machinery's own bucket metadata,
    // saving the full count pass over the spilled grid.
    val (ranked, nPairs) = graft.operators.Ranking.globalRankCounted(slopes, "rn",
      col("sl").asc, col("i").asc, col("j").asc)
    val medSlope = broadcast(ranked
      .filter(col("rn") === lit((nPairs + 1L) / 2L))
      .select(col("sl").as("slope"), lit(nPairs).as("n_pairs")))
    val nd = broadcast(daily.agg(count(lit(1)).as("n_days")))
    daily.crossJoin(medSlope)
      .select(col("slope"), col("n_pairs"),
        (col("y") - col("slope") * col("di")).cast(D9).as("ic"), col("di"))
      .crossJoin(nd)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("ic").asc, col("di").asc)))
      .filter(col("rn") === ((col("n_days") + 1) / 2).cast(LongType))
      .select(round(col("slope").cast(DoubleType), 6).as("slope"),
        round(col("ic").cast(DoubleType), 6).as("intercept"),
        col("n_pairs"), col("n_days"))
  }

  val queries: Seq[Query] = Seq(
    Query("q477_jw_linkage", q477JwLinkage, {
      s"""WITH orig AS (SELECT c_custkey id, c_name nm FROM customer),
        |bm AS (SELECT ${Similarity.fixedCountModulusLadderSql("c", target = 8L)} b_m
        |  FROM (SELECT count(*) c FROM orig)),
        |cor0 AS (SELECT id,
        |    CASE WHEN ('0x' || substr(md5('jw1|' || id::VARCHAR), 1, 15))::BIGINT
        |      % 6 = 0 THEN substr(nm, 1, 11) || substr(nm, 13, 1)
        |        || substr(nm, 12, 1) || substr(nm, 14, 99)
        |      ELSE nm END nm FROM orig),
        |cor1 AS (SELECT id,
        |    CASE WHEN ('0x' || substr(md5('jw2|' || id::VARCHAR), 1, 15))::BIGINT
        |      % 7 = 1 THEN substr(nm, 1, length(nm) - 1) ELSE nm END nm
        |  FROM cor0),
        |cor AS (SELECT id,
        |    CASE WHEN ('0x' || substr(md5('jw3|' || id::VARCHAR), 1, 15))::BIGINT
        |      % 11 = 2 THEN nm || 'X' ELSE nm END nm FROM cor1),
        |pairs AS (SELECT a.id = b.id is_match,
        |    CAST(round(jaro_winkler_similarity(a.nm, b.nm), 9) AS DECIMAL(24,9)) jw
        |  FROM orig a JOIN cor b
        |    ON a.id % (SELECT b_m FROM bm) = b.id % (SELECT b_m FROM bm)),
        |cls AS (SELECT is_match, jw, jw >= 0.93 pred FROM pairs)
        |SELECT count(*) AS n_pairs,
        |  sum(CASE WHEN is_match AND pred THEN 1 ELSE 0 END)::BIGINT AS tp,
        |  sum(CASE WHEN NOT is_match AND pred THEN 1 ELSE 0 END)::BIGINT AS fp,
        |  sum(CASE WHEN is_match AND NOT pred THEN 1 ELSE 0 END)::BIGINT AS fn,
        |  sum(CASE WHEN NOT is_match AND NOT pred THEN 1 ELSE 0 END)::BIGINT AS tn,
        |  round(sum(CASE WHEN is_match AND pred THEN 1 ELSE 0 END)::DOUBLE
        |    / (sum(CASE WHEN is_match AND pred THEN 1 ELSE 0 END)
        |      + sum(CASE WHEN NOT is_match AND pred THEN 1 ELSE 0 END)), 6)
        |    AS precision,
        |  round(sum(CASE WHEN is_match AND pred THEN 1 ELSE 0 END)::DOUBLE
        |    / (sum(CASE WHEN is_match AND pred THEN 1 ELSE 0 END)
        |      + sum(CASE WHEN is_match AND NOT pred THEN 1 ELSE 0 END)), 6)
        |    AS recall,
        |  round(CAST(sum(CASE WHEN is_match THEN jw END) AS DOUBLE)
        |    / sum(CASE WHEN is_match THEN 1 ELSE 0 END), 6) AS mean_jw_true,
        |  round(CAST(sum(CASE WHEN NOT is_match THEN jw END) AS DOUBLE)
        |    / sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END), 6) AS mean_jw_false
        |FROM cls""".stripMargin
    }),
    Query("q478_synthetic_control", q478SyntheticControl,
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) dt, c_nationkey nat,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey <= 2 GROUP BY 1, 2),
        |grid AS (SELECT dt,
        |    coalesce(max(CASE WHEN nat = 0 THEN rev END), 0::DECIMAL(18,2)) y,
        |    coalesce(max(CASE WHEN nat = 1 THEN rev END), 0::DECIMAL(18,2)) x1,
        |    coalesce(max(CASE WHEN nat = 2 THEN rev END), 0::DECIMAL(18,2)) x2
        |  FROM daily GROUP BY dt),
        |mom AS (SELECT sum(x1 * x1) s11, sum(x1 * x2) s12, sum(x2 * x2) s22,
        |    sum(x1 * y) s1y, sum(x2 * y) s2y, count(*) n_pre
        |  FROM grid WHERE dt < DATE '1996-01-01'),
        |w AS (SELECT n_pre,
        |    (s1y::DOUBLE * s22::DOUBLE - s2y::DOUBLE * s12::DOUBLE)
        |      / (s11::DOUBLE * s22::DOUBLE - s12::DOUBLE * s12::DOUBLE) w1,
        |    (s2y::DOUBLE * s11::DOUBLE - s1y::DOUBLE * s12::DOUBLE)
        |      / (s11::DOUBLE * s22::DOUBLE - s12::DOUBLE * s12::DOUBLE) w2
        |  FROM mom)
        |SELECT dt >= DATE '1996-01-01' post, max(n_pre)::BIGINT AS n_pre,
        |  round(max(w1), 6) AS w1, round(max(w2), 6) AS w2,
        |  count(*) AS n_days,
        |  round(CAST(sum(CAST(round(y::DOUBLE - (w1 * x1 + w2 * x2), 6)
        |    AS DECIMAL(24,9))) AS DOUBLE) / count(*), 4) AS mean_gap
        |FROM grid, w GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q479_theil_sen", q479TheilSen,
      """WITH daily AS (SELECT datediff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) di, count(*) y
        |  FROM orders GROUP BY 1),
        |slopes AS (SELECT a.di i, b.di j,
        |    CAST(round((b.y - a.y)::DOUBLE / (b.di - a.di), 9) AS DECIMAL(24,9)) sl
        |  FROM daily a JOIN daily b ON b.di > a.di),
        |np AS (SELECT count(*) n_pairs FROM slopes),
        |med AS (SELECT sl slope, n_pairs FROM (SELECT sl, i, j,
        |      row_number() OVER (ORDER BY sl ASC, i ASC, j ASC) rn FROM slopes), np
        |  WHERE rn = (n_pairs + 1) // 2),
        |nd AS (SELECT count(*) n_days FROM daily),
        |ic AS (SELECT slope, n_pairs,
        |      CAST(y - slope * di AS DECIMAL(24,9)) ic, di
        |  FROM daily, med)
        |SELECT round(slope::DOUBLE, 6) AS slope, round(ic::DOUBLE, 6) AS intercept,
        |  n_pairs, n_days
        |FROM (SELECT slope, n_pairs, ic, di,
        |    row_number() OVER (ORDER BY ic ASC, di ASC) rn FROM ic), nd
        |WHERE rn = (n_days + 1) // 2""".stripMargin))
}
