package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec2
import graft.sources.Tables

/** Round-6 wave: time-grid resampling with LOCF gap fill, SCD2
  * point-in-time lookup, Mann-Whitney U, chi-squared independence,
  * Benford first-digit audit, two-sample KS drift, PSI drift, and
  * market-basket association rules.
  */
object Curation14 {

  /** Hourly resampling with last-observation-carried-forward gap fill —
    * the standard time-series regularization before feature windows.
    * Grid = sequence(min hour, max hour) PER USER (generated, never a
    * cross join), filled by an ignore-nulls running last over the
    * user-partitioned hour order; per-user output keeps the result
    * bounded by |users|. Hourly sums are decimal-exact so the LOCF sum
    * is partitioning-independent. At scale everything is keyed by
    * user_id: the grid explode, the gap join, and the window all
    * colocate on one shuffle.
    */
  private val q230ResampleLocf: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(col("user_id"), expr("unix_millis(ts) DIV 3600000").as("h"), col("value"))
      .groupBy("user_id", "h")
      .agg(sum(dec2(col("value"))).as("hv"))
    // Closed form instead of materializing the grid: the LOCF value only
    // changes at observed hours, so each observation contributes
    // hv × (next observed hour − its hour) to the filled sum (the last
    // one contributes once). Same exact decimal total as explode-join-
    // window over the full grid — the oracle computes it THAT way for
    // independent validation — but this side never materializes
    // users × span rows: one keyed window over observed hours only.
    val w = Window.partitionBy("user_id").orderBy("h")
    hourly
      .withColumn("nxt", lead(col("h"), 1).over(w))
      .withColumn("reps", coalesce(col("nxt") - col("h"), lit(1L)))
      .groupBy("user_id")
      .agg((max(col("h")) - min(col("h")) + 1).as("n_hours"),
        count(lit(1)).as("n_observed"),
        round(sum(col("hv") * col("reps")).cast(DoubleType), 2).as("locf_sum"))
      .orderBy("user_id")
  }

  /** Point-in-time (AS OF) lookup against SCD2 validity intervals: the
    * dimension is the per-user attribute segment history (same
    * construction as q229), the probe is the purchase stream, and each
    * probe joins the interval containing its timestamp. The join is
    * EQUI on user_id with the interval predicate as a residual — at
    * scale both sides shuffle once on the entity key and interval
    * counts per entity stay small, so no range-join machinery is
    * needed.
    */
  private val q231Scd2Lookup: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts"),
      col("event_type"), floor(col("value") / 100).cast(LongType).as("attr"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segs = ev
      .withColumn("is_start", when(lag(col("attr"), 1).over(w).isNull ||
        lag(col("attr"), 1).over(w) =!= col("attr"), 1).otherwise(0))
      .withColumn("seg_id", sum(col("is_start")).over(wr))
      .groupBy(col("user_id").as("d_user"), col("seg_id"), col("attr"))
      .agg(min(col("ts")).as("vfrom"))
    val iv = segs.withColumn("vto",
      lead(col("vfrom"), 1).over(Window.partitionBy("d_user").orderBy("seg_id")))
    val probe = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    probe.join(iv, col("user_id") === col("d_user") &&
        col("ts") >= col("vfrom") && (col("vto").isNull || col("ts") < col("vto")))
      .groupBy("attr")
      .agg(count(lit(1)).as("n_lookups"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("checksum"))
      .orderBy("attr")
  }

  /** Mann-Whitney U (rank-sum) test comparing the value distribution of
    * clicks vs purchases — the nonparametric A/B workhorse. Ranks are
    * computed per DISTINCT value (average-rank tie handling) so the
    * window runs over ≤ |distinct values| rows — the value domain is
    * cent-quantized, so that stays ~50k regardless of row count. All
    * rank arithmetic is exact (integer cumulatives + .5 halves); only
    * the final z divides.
    */
  private val q232MannWhitney: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("value"), when(col("event_type") === "click", 1L).otherwise(0L).as("is1"))
    val byv = ev.groupBy("value")
      .agg(sum(col("is1")).as("n1v"), count(lit(1)).as("tv"))
      .withColumn("n2v", col("tv") - col("n1v"))
    val wb = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byv
      .withColumn("cum_before", coalesce(sum(col("tv")).over(wb), lit(0L)))
      .withColumn("avg_rank",
        col("cum_before").cast(DoubleType) + (col("tv").cast(DoubleType) + 1.0) / 2.0)
    val agg = ranked.agg(
      sum(col("n1v")).as("n1"), sum(col("n2v")).as("n2"),
      sum(col("n1v").cast(DoubleType) * col("avg_rank")).as("r1"),
      // decimal before cubing: tv³ overflows Long past tv ≈ 2.09M (one
      // popular distinct value in a 100 TB stream), silently in non-ANSI
      // while the DuckDB oracle promotes to HUGEINT; the term only feeds
      // the z denominator, so an exact wide sum cast to double suffices
      sum(col("tv").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
        col("tv") * col("tv") - col("tv")).as("ties"))
    agg.select(col("n1"), col("n2"),
        (col("r1") - col("n1").cast(DoubleType) * (col("n1").cast(DoubleType) + 1.0) / 2.0).as("u1"),
        ((col("n1") + col("n2")).cast(DoubleType)).as("nn"),
        col("ties").cast(DoubleType).as("tt"))
      .select(col("n1"), col("n2"), round(col("u1"), 4).as("u1"),
        round((col("u1") - col("n1").cast(DoubleType) * col("n2").cast(DoubleType) / 2.0) /
          sqrt(col("n1").cast(DoubleType) * col("n2").cast(DoubleType) / 12.0 *
            ((col("nn") + 1.0) - col("tt") / (col("nn") * (col("nn") - 1.0)))), 6).as("z"))
  }

  /** Chi-squared independence audit: event_type × value-bucket
    * contingency with per-cell expected counts and contributions.
    * Margins are two keyed aggregates broadcast back onto the cells;
    * per-cell output avoids any cross-cell float summation, so every
    * number is reproducible bit-for-bit from integer counts.
    */
  private val q233Chi2Independence: Q = (s, d) => {
    val cells = Tables.events(s, d)
      .select(col("event_type"), least(floor(col("value") / 50), lit(9)).cast(LongType).as("b"))
      .groupBy("event_type", "b").agg(count(lit(1)).as("o"))
    val rowt = cells.groupBy(col("event_type").as("rt_et")).agg(sum(col("o")).as("rt"))
    val colt = cells.groupBy(col("b").as("ct_b")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"))
    cells
      .join(broadcast(rowt), col("event_type") === col("rt_et"))
      .join(broadcast(colt), col("b") === col("ct_b"))
      .crossJoin(broadcast(tot))
      .withColumn("e", col("rt").cast(DoubleType) * col("ct").cast(DoubleType) /
        col("n").cast(DoubleType))
      .select(col("event_type"), col("b"), col("o"), round(col("e"), 6).as("expected"),
        round((col("o").cast(DoubleType) - col("e")) * (col("o").cast(DoubleType) - col("e")) /
          col("e"), 6).as("contrib"))
      .orderBy("event_type", "b")
  }

  /** Benford first-digit audit over order quantities — the classic
    * data-quality screen for fabricated or truncated numeric columns.
    * One keyed aggregate over 9 possible digits; expected shares are
    * log10(1 + 1/d).
    */
  private val q234BenfordAudit: Q = (s, d) => {
    val digits = Tables.lineitem(s, d)
      .select(substring(col("l_quantity").cast(LongType).cast("string"), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("total"))
    digits.crossJoin(broadcast(tot))
      .withColumn("obs_pct", col("n").cast(DoubleType) / col("total").cast(DoubleType))
      .withColumn("benford_pct", log10(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType)))
      .select(col("digit"), col("n"), round(col("obs_pct"), 6).as("obs_pct"),
        round(col("benford_pct"), 6).as("benford_pct"),
        round(abs(col("obs_pct") - col("benford_pct")), 6).as("deviation"))
      .orderBy("digit")
  }

  /** Two-sample Kolmogorov-Smirnov drift statistic between the first
    * and second half of the event stream — distribution-shift
    * detection for pipeline monitoring. ECDFs are cumulative sums over
    * DISTINCT values (cent-quantized domain, ~50k rows max), D is the
    * max absolute ECDF gap, reported with the smallest value attaining
    * it.
    */
  private val q235KsDrift: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("value"),
      when(col("ts") < to_timestamp(lit("2024-01-16 00:00:00")), 1L).otherwise(0L).as("is1"))
    val byv = ev.groupBy("value")
      .agg(sum(col("is1")).as("av"), count(lit(1)).as("tv"))
      .withColumn("bv", col("tv") - col("av"))
    val wc = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val diffs = byv
      .withColumn("ca", sum(col("av")).over(wc))
      .withColumn("cb", sum(col("bv")).over(wc))
      .withColumn("n1", sum(col("av")).over(wall))
      .withColumn("n2", sum(col("bv")).over(wall))
      .withColumn("diff", abs(col("ca").cast(DoubleType) / col("n1").cast(DoubleType) -
        col("cb").cast(DoubleType) / col("n2").cast(DoubleType)))
    val dmax = diffs.agg(max(col("diff")).as("dm"))
    diffs.crossJoin(broadcast(dmax))
      .filter(col("diff") === col("dm"))
      .agg(min(col("n1")).as("n1"), min(col("n2")).as("n2"),
        round(min(col("dm")), 6).as("ks_d"), min(col("value")).as("at_value"))
  }

  /** Population Stability Index between the two stream halves over
    * fixed equal-width value bins — the standard feature-drift score.
    * Per-bin output (share before/after + PSI contribution); bins with
    * a zero side report a null contribution rather than an epsilon
    * fudge.
    */
  private val q236PsiDrift: Q = (s, d) => {
    val ev = Tables.events(s, d).select(
      least(floor(col("value") / 50), lit(9)).cast(LongType).as("b"),
      when(col("ts") < to_timestamp(lit("2024-01-16 00:00:00")), 1L).otherwise(0L).as("is1"))
    val bins = ev.groupBy("b")
      .agg(sum(col("is1")).as("pn"), (count(lit(1)) - sum(col("is1"))).as("qn"))
    val tot = bins.agg(sum(col("pn")).as("n1"), sum(col("qn")).as("n2"))
    bins.crossJoin(broadcast(tot))
      .withColumn("p", col("pn").cast(DoubleType) / col("n1").cast(DoubleType))
      .withColumn("q", col("qn").cast(DoubleType) / col("n2").cast(DoubleType))
      .select(col("b"), col("pn"), col("qn"), round(col("p"), 6).as("p_share"),
        round(col("q"), 6).as("q_share"),
        round(when(col("pn") > 0 && col("qn") > 0,
          (col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi_contrib"))
      .orderBy("b")
  }

  /** Market-basket association rules over order line items: support,
    * confidence, and lift for the top co-occurring part pairs. The
    * pair generation is an equi self-join on the order key — quadratic
    * only in ITEMS PER BASKET (≤ ~13 here, never in the catalog or
    * order count) — and item/order totals arrive via broadcast, so the
    * whole rule table is one keyed shuffle plus a bounded top-k.
    */
  private val q237AssociationRules: Q = (s, d) => {
    // Baskets first (one keyed aggregate), then pairs GENERATED IN-ROW
    // from the sorted item array — quadratic only in basket size and
    // never a self-join shuffle of the item table. The basket frame is
    // reused for pair, item, and order totals.
    val baskets = Tables.lineitem(s, d).groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
    val pairs = baskets.select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))")).as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("pair_n"))
    val itemn = baskets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("item_n"))
    val no = baskets.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(itemn.select(col("l_partkey").as("pa"), col("item_n").as("na"))), Seq("pa"))
      .join(broadcast(itemn.select(col("l_partkey").as("pb"), col("item_n").as("nb"))), Seq("pb"))
      .crossJoin(broadcast(no))
      .select(col("pa"), col("pb"), col("pair_n"),
        round(col("pair_n").cast(DoubleType) / col("n_orders").cast(DoubleType), 6).as("support"),
        round(col("pair_n").cast(DoubleType) / col("na").cast(DoubleType), 6).as("confidence"),
        round(col("pair_n").cast(DoubleType) * col("n_orders").cast(DoubleType) /
          (col("na").cast(DoubleType) * col("nb").cast(DoubleType)), 6).as("lift"))
      .orderBy(col("pair_n").desc, col("pa"), col("pb"))
      .limit(20)
  }

  val queries: Seq[Query] = Seq(
    Query("q230_resample_locf", q230ResampleLocf,
      """WITH hourly AS (SELECT user_id, epoch_ms(ts) // 3600000 AS h,
        |    sum(CAST(value AS DECIMAL(18,2))) AS hv
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(h) h0, max(h) h1 FROM hourly GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM span),
        |f AS (SELECT g.user_id, g.h, hv,
        |    last_value(hv IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.h) fv
        |  FROM grid g LEFT JOIN hourly USING (user_id, h))
        |SELECT user_id, count(*)::BIGINT AS n_hours,
        |  sum(CASE WHEN hv IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_observed,
        |  round(CAST(sum(fv) AS DOUBLE), 2) AS locf_sum
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q231_scd2_lookup", q231Scd2Lookup,
      """WITH ev AS (SELECT user_id, event_id, ts, event_type,
        |    CAST(floor(value / 100) AS BIGINT) AS attr FROM events),
        |marked AS (SELECT *, CASE WHEN lag(attr) OVER w IS NULL
        |      OR lag(attr) OVER w <> attr THEN 1 ELSE 0 END AS is_start
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |seg AS (SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS seg_id FROM marked),
        |segs AS (SELECT user_id AS d_user, seg_id, attr, min(ts) AS vfrom
        |  FROM seg GROUP BY 1, 2, 3),
        |iv AS (SELECT *, lead(vfrom) OVER (PARTITION BY d_user ORDER BY seg_id) AS vto
        |  FROM segs)
        |SELECT attr, count(*)::BIGINT AS n_lookups,
        |  count(DISTINCT p.user_id)::BIGINT AS n_users, sum(p.event_id)::BIGINT AS checksum
        |FROM (SELECT user_id, event_id, ts FROM ev WHERE event_type = 'purchase') p
        |JOIN iv ON p.user_id = iv.d_user AND p.ts >= iv.vfrom
        |  AND (iv.vto IS NULL OR p.ts < iv.vto)
        |GROUP BY attr ORDER BY attr""".stripMargin),
    Query("q232_mann_whitney", q232MannWhitney,
      """WITH ev AS (SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END is1
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |byv AS (SELECT value, sum(is1) n1v, count(*) tv, count(*) - sum(is1) n2v
        |  FROM ev GROUP BY value),
        |ranked AS (SELECT *, coalesce(sum(tv) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cum_before
        |  FROM byv),
        |ag AS (SELECT sum(n1v) n1, sum(n2v) n2,
        |    sum(n1v * (cum_before + (tv + 1.0) / 2.0)) r1,
        |    sum(tv * tv * tv - tv) tie_sum FROM ranked),
        |u AS (SELECT n1, n2, r1 - n1 * (n1 + 1.0) / 2.0 u1,
        |    (n1 + n2)::DOUBLE nn, tie_sum::DOUBLE tt FROM ag)
        |SELECT n1::BIGINT AS n1, n2::BIGINT AS n2, round(u1, 4) AS u1,
        |  round((u1 - n1 * n2 / 2.0) / sqrt(n1 * n2 / 12.0 *
        |    ((nn + 1.0) - tt / (nn * (nn - 1.0)))), 6) AS z
        |FROM u""".stripMargin),
    Query("q233_chi2_independence", q233Chi2Independence,
      """WITH cells AS (SELECT event_type,
        |    least(CAST(floor(value / 50) AS BIGINT), 9) AS b, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rowt AS (SELECT event_type, sum(o) rt FROM cells GROUP BY 1),
        |colt AS (SELECT b, sum(o) ct FROM cells GROUP BY 1),
        |tot AS (SELECT sum(o) n FROM cells)
        |SELECT c.event_type, c.b, c.o::BIGINT AS o,
        |  round(rt::DOUBLE * ct::DOUBLE / n::DOUBLE, 6) AS expected,
        |  round((c.o::DOUBLE - rt::DOUBLE * ct::DOUBLE / n::DOUBLE) *
        |    (c.o::DOUBLE - rt::DOUBLE * ct::DOUBLE / n::DOUBLE) /
        |    (rt::DOUBLE * ct::DOUBLE / n::DOUBLE), 6) AS contrib
        |FROM cells c JOIN rowt USING (event_type) JOIN colt USING (b), tot
        |ORDER BY event_type, b""".stripMargin),
    Query("q234_benford_audit", q234BenfordAudit,
      """WITH digits AS (SELECT substr(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), 1, 1) digit,
        |    count(*) n FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(n) total FROM digits)
        |SELECT digit, n::BIGINT AS n,
        |  round(n::DOUBLE / total::DOUBLE, 6) AS obs_pct,
        |  round(log10(1.0 + 1.0 / digit::DOUBLE), 6) AS benford_pct,
        |  round(abs(n::DOUBLE / total::DOUBLE - log10(1.0 + 1.0 / digit::DOUBLE)), 6) AS deviation
        |FROM digits, tot ORDER BY digit""".stripMargin),
    Query("q235_ks_drift", q235KsDrift,
      """WITH ev AS (SELECT value,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END is1
        |  FROM events),
        |byv AS (SELECT value, sum(is1) av, count(*) tv, count(*) - sum(is1) bv
        |  FROM ev GROUP BY value),
        |diffs AS (SELECT value,
        |    sum(av) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) ca,
        |    sum(bv) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) cb,
        |    sum(av) OVER () n1, sum(bv) OVER () n2
        |  FROM byv),
        |d2 AS (SELECT *, abs(ca::DOUBLE / n1::DOUBLE - cb::DOUBLE / n2::DOUBLE) diff
        |  FROM diffs),
        |dm AS (SELECT max(diff) dmx FROM d2)
        |SELECT min(n1)::BIGINT AS n1, min(n2)::BIGINT AS n2,
        |  round(min(dmx), 6) AS ks_d, min(value) AS at_value
        |FROM d2, dm WHERE diff = dmx""".stripMargin),
    Query("q236_psi_drift", q236PsiDrift,
      """WITH ev AS (SELECT least(CAST(floor(value / 50) AS BIGINT), 9) b,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END is1
        |  FROM events),
        |bins AS (SELECT b, sum(is1) pn, count(*) - sum(is1) qn FROM ev GROUP BY b),
        |tot AS (SELECT sum(pn) n1, sum(qn) n2 FROM bins)
        |SELECT b, pn::BIGINT AS pn, qn::BIGINT AS qn,
        |  round(pn::DOUBLE / n1::DOUBLE, 6) AS p_share,
        |  round(qn::DOUBLE / n2::DOUBLE, 6) AS q_share,
        |  round(CASE WHEN pn > 0 AND qn > 0 THEN
        |    (pn::DOUBLE / n1::DOUBLE - qn::DOUBLE / n2::DOUBLE) *
        |    ln((pn::DOUBLE / n1::DOUBLE) / (qn::DOUBLE / n2::DOUBLE)) END, 6) AS psi_contrib
        |FROM bins, tot ORDER BY b""".stripMargin),
    Query("q237_association_rules", q237AssociationRules,
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (SELECT a.l_partkey pa, b.l_partkey pb, count(*) pair_n
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |itemn AS (SELECT l_partkey, count(*) item_n FROM items GROUP BY 1),
        |no AS (SELECT count(DISTINCT l_orderkey) n_orders FROM items)
        |SELECT pa, pb, pair_n::BIGINT AS pair_n,
        |  round(pair_n::DOUBLE / n_orders::DOUBLE, 6) AS support,
        |  round(pair_n::DOUBLE / na.item_n::DOUBLE, 6) AS confidence,
        |  round(pair_n::DOUBLE * n_orders::DOUBLE /
        |    (na.item_n::DOUBLE * nb.item_n::DOUBLE), 6) AS lift
        |FROM pairs JOIN itemn na ON na.l_partkey = pa
        |  JOIN itemn nb ON nb.l_partkey = pb, no
        |ORDER BY pair_n DESC, pa, pb LIMIT 20""".stripMargin))
}
