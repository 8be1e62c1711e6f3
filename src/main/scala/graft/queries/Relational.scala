package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions._
import graft.sources.Tables

/** Relational core: aggregation, joins (all variants incl. as-of/range),
  * window functions, sort/limit, set operations. Every query is fully
  * deterministic (exact decimal aggregation of money columns, total
  * ordering with unique tie-breakers) so it hash-matches the DuckDB
  * oracle next to it in `queries`.
  *
  * Scale notes: all joins are key-equi (shuffle- or broadcast-planned by
  * Catalyst + AQE); dimension tables (region/nation/supplier/customer at
  * dim-scale) broadcast; no operator collects to the driver.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: hash agg w/ map-side partials. */
  private val q01PricingSummary: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(Money) - dec2(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        (sum(col("l_quantity").cast("long")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q02CountDistinct: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Rollup over region→nation customer balances. */
  private val q03Rollup: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    // `.as("t")` + qualified refs: Spark 4's rollup/cube resolve by-name
    // grouping columns against the pre-join lineage and report them as
    // ambiguous; a subquery alias gives them a unique qualifier.
    // Two-phase rollup: aggregate to the finest (r_name, n_name) level
    // first (≤ 25 rows — nation cardinality), then roll up the
    // pre-aggregate. Expand then multiplies ~25 rows, not the full
    // customer table; sound because the dimension names are non-null
    // and the decimal partial sums re-aggregate exactly.
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(dec2(col("c_acctbal"))).as("pb"), count(lit(1)).as("pn")).as("t")
      .rollup(col("t.r_name").as("r_name"), col("t.n_name").as("n_name"))
      .agg(sum(col("pb")).cast("double").as("sum_bal"), sum(col("pn")).as("n"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  private val q04Cube: Q = (s, d) => {
    // Two-phase cube (see q03/q44): finest-level pre-aggregate (≈ 6
    // rows) feeds the Expand instead of the full lineitem scan. Keys
    // are non-null; decimal partials re-aggregate exactly.
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("pn"), sum(dec2(col("l_quantity"))).as("pq")).as("t")
      .cube(col("t.l_returnflag").as("l_returnflag"),
        col("t.l_linestatus").as("l_linestatus"))
      .agg(sum(col("pn")).as("n"), sum(col("pq")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Variance/stddev via exact integer power sums: the double arithmetic
    * happens once per GROUP on exact inputs, so the result is
    * bit-identical regardless of partitioning (safe at any scale).
    */
  private val q05Stats: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val qLong = col("l_quantity").cast("long")
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        sum(qLong).as("s1"),
        sum(qLong * qLong).as("s2"))
      .select(
        col("l_returnflag"), col("n"), col("min_qty"), col("max_qty"),
        (col("s1").cast(DoubleType) / col("n").cast(DoubleType)).as("avg_qty"),
        ((col("s2").cast(DoubleType) -
          col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / col("n").cast(DoubleType)) /
          (col("n").cast(DoubleType) - 1)).as("var_qty"),
        sqrt((col("s2").cast(DoubleType) -
          col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / col("n").cast(DoubleType)) /
          (col("n").cast(DoubleType) - 1)).as("stddev_qty"))
      .orderBy("l_returnflag")
  }

  /** Sorted per-group collect: collect_set + sort_array (small groups). */
  private val q06CollectList: Q = (s, d) => {
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      // serialized to CSV: array-typed output cells crash the driver's
      // pandas row-sort canonicalizer (unhashable ndarray)
      .agg(concat_ws(",", sort_array(collect_set(col("n_name")))).as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy("r_name")
  }

  // ---------------------------------------------------------------- joins

  private val q10JoinInner: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(Money) - dec2(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q5-style multiway join; dims broadcast, facts shuffle once. */
  private val q11JoinMultiway: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(Money) - dec2(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** TPC-H Q13-style left join + double aggregation. */
  private val q12JoinLeftHistogram: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val q13JoinSemi: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 49)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val q14JoinAnti: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** Full-outer join of two aggregates with partially disjoint keys. */
  private val q15JoinFullOuter: Q = (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_cust"))
    val sup = Tables.supplier(s, d)
      .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
    c.join(sup, c("ck") === sup("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nationkey"),
        col("n_cust"), col("n_supp"))
      .orderBy("nationkey")
  }

  private val q16JoinCross: Q = (s, d) => {
    val r = Tables.region(s, d).select("r_name")
    val seg = Tables.customer(s, d).select("c_mktsegment").distinct()
    r.crossJoin(seg)
      .select(col("r_name"), col("c_mktsegment"),
        concat_ws("/", col("r_name"), col("c_mktsegment")).as("combo"))
      .orderBy("r_name", "c_mktsegment")
  }

  /** Equi + range residual join (band join): p_size±2 quantity band. */
  private val q17JoinRange: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    li.join(broadcast(p),
        li("l_partkey") === p("p_partkey") &&
          li("l_quantity") >= p("p_size") - 2 &&
          li("l_quantity") <= p("p_size") + 2)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("p_brand")
  }

  /** As-of join (nearest prior event), Spark-native formulation:
    * union-tag both sides, single shuffle on the key, running
    * `last(ignoreNulls)` window — no pairwise blowup, scales linearly.
    * Each purchase matches the latest click of the same user at or
    * before its timestamp.
    */
  private val q18JoinAsOf: Q = (s, d) => {
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
      .orderBy(col("ts").asc, col("is_p").asc, col("click_id").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("matched_click", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("is_p") === 1)
      .select(col("purchase_id"), col("user_id"), col("matched_click"))
      .orderBy("purchase_id")
  }

  // -------------------------------------------------------------- windows

  /** Per-group top-k via row_number (per-partition top-k pushdown). */
  private val q20WindowTopK: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rn")
  }

  /** Running sum per key: cumulative frame, deterministic order. */
  private val q21WindowRunning: Q = (s, d) => {
    val ev = Tables.events(s, d).filter(col("user_id") < 10)
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("running_value", round(sum(col("value")).over(w), 4))
      .select("event_id", "user_id", "running_value")
      .orderBy("event_id")
  }

  private val q22WindowLagLead: Q = (s, d) => {
    val ev = Tables.events(s, d).filter(col("user_id") < 10)
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    ev.select(col("event_id"), col("user_id"),
        round(col("value") - lag(col("value"), 1).over(w), 4).as("delta_prev"),
        round(lead(col("value"), 1).over(w) - col("value"), 4).as("delta_next"))
      .orderBy("event_id")
  }

  /** Moving average over a bounded rows frame. */
  private val q23WindowMovingAvg: Q = (s, d) => {
    val ev = Tables.events(s, d).filter(col("user_id") < 10)
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-2, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
        round(avg(col("value")).over(w), 4).as("mavg3"))
      .orderBy("event_id")
  }

  /** rank / dense_rank (tie-aware) + ntile over a total order. */
  private val q24WindowRank: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val wTies = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
    val wTotal = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    c.select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        rank().over(wTies).as("rnk"),
        dense_rank().over(wTies).as("drnk"),
        ntile(4).over(wTotal).as("quartile"),
        row_number().over(wTotal).as("rn"))
      .filter(col("rn") <= 20)
      .orderBy("c_mktsegment", "rn")
  }

  // ----------------------------------------------------------- sort/limit

  private val q30SortLimit: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)
  }

  private val q31OffsetLimit: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .offset(100).limit(50)
  }

  // -------------------------------------------------------------- set ops

  private val q40Union: Q = (s, d) => {
    val c = Tables.customer(s, d).select(col("c_nationkey").as("k"))
    val sup = Tables.supplier(s, d).select(col("s_nationkey").as("k"))
    c.union(sup).distinct().orderBy("k")
  }

  private val q41Intersect: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val a = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
    val b = o.filter(year(col("o_orderdate")) === 1997).select("o_custkey")
    a.intersect(b).orderBy("o_custkey")
  }

  private val q42Except: Q = (s, d) => {
    val c = Tables.customer(s, d).select("c_custkey")
    val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    c.except(o).orderBy("c_custkey")
  }

  private val q43Distinct: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ------------------------------------------------------------- registry

  val queries: Seq[Query] = Seq(
    Query("q01_agg_pricing_summary", q01PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q02_agg_count_distinct", q02CountDistinct,
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q03_agg_rollup", q03Rollup,
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),
    Query("q04_agg_cube", q04Cube,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    Query("q05_agg_stats", q05Stats,
      """SELECT l_returnflag, count(*) AS n, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
        |  (CAST(sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    - CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)*CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)/CAST(count(*) AS DOUBLE))
        |    / (CAST(count(*) AS DOUBLE) - 1) AS var_qty,
        |  sqrt((CAST(sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    - CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)*CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)/CAST(count(*) AS DOUBLE))
        |    / (CAST(count(*) AS DOUBLE) - 1)) AS stddev_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q06_agg_collect", q06CollectList,
      """SELECT r_name, array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations, count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    Query("q10_join_inner", q10JoinInner,
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q11_join_multiway", q11JoinMultiway,
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    Query("q12_join_left_histogram", q12JoinLeftHistogram,
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Query("q13_join_semi", q13JoinSemi,
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("q14_join_anti", q14JoinAnti,
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q15_join_full_outer", q15JoinFullOuter,
      """WITH c AS (SELECT c_nationkey AS ck, count(*) AS n_cust
        |    FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
        |  s AS (SELECT s_nationkey AS sk, count(*) AS n_supp
        |    FROM supplier GROUP BY s_nationkey)
        |SELECT coalesce(ck, sk) AS nationkey, n_cust, n_supp
        |FROM c FULL OUTER JOIN s ON ck = sk ORDER BY nationkey""".stripMargin),
    Query("q16_join_cross", q16JoinCross,
      """SELECT r_name, c_mktsegment, r_name || '/' || c_mktsegment AS combo
        |FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)
        |ORDER BY r_name, c_mktsegment""".stripMargin),
    Query("q17_join_range", q17JoinRange,
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  AND l_quantity >= p_size - 2 AND l_quantity <= p_size + 2
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    Query("q18_join_asof", q18JoinAsOf,
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS matched_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin),
    Query("q20_window_topk", q20WindowTopK,
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin),
    Query("q21_window_running", q21WindowRunning,
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events WHERE user_id < 10 ORDER BY event_id""".stripMargin),
    Query("q22_window_lag_lead", q22WindowLagLead,
      """SELECT event_id, user_id,
        |  round(value - lag(value, 1) OVER w, 4) AS delta_prev,
        |  round(lead(value, 1) OVER w - value, 4) AS delta_next
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY event_id""".stripMargin),
    Query("q23_window_moving_avg", q23WindowMovingAvg,
      """SELECT event_id, user_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg3
        |FROM events WHERE user_id < 10 ORDER BY event_id""".stripMargin),
    Query("q24_window_rank", q24WindowRank,
      """SELECT c_mktsegment, c_custkey, c_acctbal, rnk, drnk, quartile, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    rank() OVER wt AS rnk, dense_rank() OVER wt AS drnk,
        |    ntile(4) OVER wu AS quartile, row_number() OVER wu AS rn
        |  FROM customer
        |  WINDOW wt AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC),
        |    wu AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC))
        |WHERE rn <= 20 ORDER BY c_mktsegment, rn""".stripMargin),
    Query("q30_sort_limit", q30SortLimit,
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin),
    Query("q31_offset_limit", q31OffsetLimit,
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 50 OFFSET 100""".stripMargin),
    Query("q40_union", q40Union,
      """SELECT c_nationkey AS k FROM customer
        |UNION SELECT s_nationkey AS k FROM supplier ORDER BY k""".stripMargin),
    Query("q41_intersect", q41Intersect,
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY o_custkey""".stripMargin),
    Query("q42_except", q42Except,
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey FROM orders ORDER BY c_custkey""".stripMargin),
    Query("q43_distinct", q43Distinct,
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))
}
