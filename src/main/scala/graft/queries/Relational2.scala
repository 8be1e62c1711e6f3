package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions._
import graft.sources.Tables

/** Second relational batch: approximate aggregates, exact percentiles,
  * correlation, pivot, grouping sets, analytic window functions, range
  * frames, forward as-of join.
  */
object Relational2 {

  /** HLL approximate count-distinct, made oracle-checkable: output the
    * exact count plus a boolean asserting the approximation is within
    * 15% of it (= 3× the default 5% relative stddev — observed error
    * peaks at ~6-7%; a tighter rsd sketch costs ~10× the agg time and
    * GC-pressures neighboring queries), so the oracle can assert
    * `TRUE` without reproducing engine-specific sketch values.
    */
  private val q07ApproxDistinct: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        approx_count_distinct(col("o_custkey")).as("approx_cust"),
        countDistinct(col("o_custkey")).as("exact_cust"))
      .select(
        col("o_orderpriority"), col("exact_cust"),
        (abs(col("approx_cust") - col("exact_cust")) <=
          lit(0.15) * col("exact_cust")).as("within_15pct"))
      .orderBy("o_orderpriority")
  }

  /** Exact interpolated percentiles + correlation/covariance. */
  private val q08PercentileCorr: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"))
      .orderBy("l_returnflag")
  }

  /** Pivot (wide aggregation): return-flag columns per line status. */
  private val q09Pivot: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity").cast("long")))
      .orderBy("l_linestatus")
  }

  /** Explicit grouping sets (beyond rollup/cube): ((rf, ls), (rf), ()).
    *
    * Two-phase: pre-aggregate to the finest grouping first, then expand
    * the pre-aggregate. Spark's Expand multiplies its input by the
    * number of grouping sets BEFORE the shuffle — at 100 TB that
    * triples scan output flowing into the exchange, while the finest
    * grouping here is ≤ |rf|·|ls| ≈ 6 rows. Sound because both keys
    * are non-null in lineitem (grouping-set NULLs stay unambiguous)
    * and count/sum re-aggregate losslessly (sum of per-group counts =
    * count; sum of exact long partials = sum).
    */
  private val q44GroupingSets: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("pn"), sum(col("l_quantity").cast("long")).as("pq"))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("pn")).as("n"), sum(col("pq")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Analytic window battery: percent_rank, cume_dist, nth_value,
    * first/last over a running frame.
    */
  private val q25WindowAnalytics: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_custkey"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        first(col("c_custkey")).over(w).as("richest"),
        nth_value(col("c_custkey"), 3).over(w).as("third"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 10)
      .orderBy("c_mktsegment", "rn")
  }

  /** RANGE frame: sum of orders within a 5000-wide price band below
    * each order (value-based frame, not row-based).
    */
  private val q26WindowRangeFrame: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").asc)
      .rangeBetween(-5000, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_band"))
      .orderBy("o_orderkey")
  }

  /** Forward as-of join: each purchase matched to the EARLIEST click at
    * or after it (same union-tag + reversed-order window shape as the
    * backward variant — one shuffle, no pairwise blowup).
    */
  private val q19JoinAsOfForward: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"),
        lit(null).cast("long").as("purchase_id"), lit(0).as("is_p"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        lit(null).cast("long").as("click_id"),
        col("event_id").as("purchase_id"), lit(1).as("is_p"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("is_p").asc, col("click_id").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("matched_click", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("is_p") === 1)
      .select(col("purchase_id"), col("user_id"), col("matched_click"))
      .orderBy("purchase_id")
  }

  /** Pure inequality (no equi-key) range join via bin-equi rewrite:
    * price points against ±1000 price bands. Without the binning this
    * plans as an interpreted BroadcastNestedLoopJoin — with it, a hash
    * join on the bin id (asserted in PlanQualitySpec).
    */
  private val q39RangeBinJoin: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val points = o.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey").as("p_key"), col("o_totalprice").as("price"))
    val bands = o.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey").as("b_key"),
        (col("o_totalprice") - 1000.0).as("lo"),
        (col("o_totalprice") + 1000.0).as("hi"))
    graft.operators.Joins.binnedRangeJoin(points, "price", bands, "lo", "hi", 1000.0)
      .groupBy("b_key")
      .agg(count(lit(1)).as("n_in_band"), min(col("p_key")).as("first_point"))
      .orderBy("b_key")
  }

  /** Native per-group top-k (custom LogicalPlan + Strategy + SparkPlan,
    * see [[graft.plans.TopKPerGroupPlan]]): top-3 lineitems per return
    * flag by price, total order via (price desc, orderkey, linenumber).
    * The window formulation this replaces shuffles and sorts every row;
    * the native operator shuffles only ≤ k·|groups| survivors per
    * input partition.
    */
  private val q27TopKNative: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
    graft.operators.TopK.perGroup(li, Seq("l_returnflag"),
        Seq(("l_extendedprice", true), ("l_orderkey", false), ("l_linenumber", false)),
        k = 3)
      .orderBy("l_returnflag", "rank")
  }

  // DuckDB `sum(<integer>)` yields HUGEINT, which pandas renders as
  // float/object and the driver's canonicalized hash then mismatches
  // Spark's long — every integer sum below is therefore wrapped
  // `::BIGINT` on the oracle side.
  val queries: Seq[Query] = Seq(
    Query("q27_topk_native", q27TopKNative,
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rank FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC)::INT AS rank
        |  FROM lineitem)
        |WHERE rank <= 3 ORDER BY l_returnflag, rank""".stripMargin),
    Query("q07_agg_approx_distinct", q07ApproxDistinct,
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_cust,
        |  TRUE AS within_15pct
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q39_range_bin_join", q39RangeBinJoin,
      """WITH p AS (SELECT o_orderkey AS p_key, o_totalprice AS price
        |    FROM orders WHERE o_orderkey % 11 = 0),
        |b AS (SELECT o_orderkey AS b_key, o_totalprice - 1000.0 AS lo,
        |    o_totalprice + 1000.0 AS hi
        |  FROM orders WHERE o_orderkey % 13 = 0)
        |SELECT b_key, count(*) AS n_in_band, min(p_key) AS first_point
        |FROM b JOIN p ON price >= lo AND price <= hi
        |GROUP BY b_key ORDER BY b_key""".stripMargin),
    Query("q08_agg_percentile_corr", q08PercentileCorr,
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q09_agg_pivot", q09Pivot,
      """SELECT l_linestatus,
        |  sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT) END)::BIGINT AS A,
        |  sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS BIGINT) END)::BIGINT AS N,
        |  sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) END)::BIGINT AS R
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    Query("q44_grouping_sets", q44GroupingSets,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Query("q25_window_analytics", q25WindowAnalytics,
      """SELECT c_mktsegment, c_custkey, pr, cd, richest, third, rn FROM (
        |  SELECT c_mktsegment, c_custkey,
        |    round(percent_rank() OVER w, 6) AS pr,
        |    round(cume_dist() OVER w, 6) AS cd,
        |    first_value(c_custkey) OVER w AS richest,
        |    nth_value(c_custkey, 3) OVER w AS third,
        |    row_number() OVER w AS rn
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC))
        |WHERE rn <= 10 ORDER BY c_mktsegment, rn""".stripMargin),
    Query("q26_window_range_frame", q26WindowRangeFrame,
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC
        |    RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS n_band
        |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin),
    Query("q19_join_asof_forward", q19JoinAsOfForward,
      """WITH u AS (
        |  SELECT user_id, ts, event_id AS click_id, NULL::BIGINT AS purchase_id, 0 AS is_p
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, NULL::BIGINT, event_id, 1 FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT *,
        |    last_value(click_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY ts DESC, is_p ASC, click_id DESC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_click
        |  FROM u)
        |SELECT purchase_id, user_id, matched_click FROM m WHERE is_p = 1
        |ORDER BY purchase_id""".stripMargin))
}
