package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Q, Query}
import graft.sources.Tables

/** SQL-text surface (spark.sql over registered views) and non-parquet
  * source formats (CSV/JSON round-trips through explicit schemas).
  */
object SqlAndSources {

  /** Full SQL text through the parser/analyzer/optimizer — TPC-H Q3
    * shape (3-way join, filter, agg, top-k).
    */
  private val q90SqlTpchQ3: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin)
  }

  /** TPC-H Q7 shape: two-nation volume shipping — supp/cust nation
    * pair revenue by year with the cross-pair OR predicate.
    */
  private val q106SqlQ7Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(volume) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN customer ON c_custkey = o_custkey
        |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  /** TPC-H Q10 shape: returned-item revenue per customer, top 20. */
  private val q107SqlQ10Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin)
  }

  /** CSV sink + source round-trip: nation → CSV (header) → typed read
    * with explicit schema → join/agg. Values are integers/strings, so
    * the trip is lossless and the oracle can use the original parquet.
    */
  /** Arrow IPC round-trip through the DSv2 connector
    * ([[graft.sources.ArrowSource]]): distributed write of the
    * documents table to .arrow files, parallel pruned read back,
    * aggregate — proving the interop surface a torch-dataloader
    * handoff would use.
    */
  private val q32ArrowRoundtrip: Q = (s, d) => {
    val fmt = classOf[graft.sources.ArrowSource].getName
    val tmp = graft.operators.Materialize.jvmScratch(s"graft_arrow_docs_${d.replaceAll("[^a-zA-Z0-9]", "_")}")
    Tables.documents(s, d).select("doc_id", "lang", "n_chars", "text")
      .write.format(fmt).mode("overwrite").save(tmp)
    s.read.format(fmt).load(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("lang")
  }

  private val q91CsvRoundtrip: Q = (s, d) => {
    val tmp = graft.operators.Materialize.jvmScratch(s"graft_csv_nation_${d.replaceAll("[^a-zA-Z0-9]", "_")}")
    Tables.nation(s, d).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val back = s.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("header", "true").csv(tmp)
    back.join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
      .orderBy("r_name")
  }

  /** JSON lines sink + source round-trip over supplier. */
  private val q92JsonRoundtrip: Q = (s, d) => {
    val tmp = graft.operators.Materialize.jvmScratch(s"graft_json_supplier_${d.replaceAll("[^a-zA-Z0-9]", "_")}")
    Tables.supplier(s, d).coalesce(1).write.mode("overwrite").json(tmp)
    s.read
      .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
      .json(tmp)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        graft.functions.GraftFunctions.dsum(col("s_acctbal")).as("sum_bal"))
      .orderBy("s_nationkey")
  }

  /** from_json struct extraction + regexp_extract_all arrays. */
  private val q49JsonRegex: Q = (s, d) => {
    Tables.events(s, d)
      .filter(col("event_id") < 500)
      .select(
        col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").cast(LongType).as("k"),
        // serialized to CSV: array-typed output cells crash the driver's
        // pandas row-sort canonicalizer (unhashable ndarray)
        concat_ws(",", regexp_extract_all(col("props"), lit("[0-9]+"), lit(0))).as("digits"))
      .orderBy("event_id")
  }

  /** Correlated scalar subquery — Catalyst decorrelates it into an
    * aggregate + join (no per-row re-execution, unlike the naive plan).
    */
  private val q93SqlCorrelated: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.8 * (
        |  SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** TPC-H Q22 shape: uncorrelated scalar subquery + NOT EXISTS anti
    * join + aggregation.
    */
  private val q94SqlQ22Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  /** TPC-H Q4 shape: correlated EXISTS (incl. a non-equi conjunct on
    * the outer row) + count by priority. The synthetic lineitem has no
    * commit/receipt dates; "late line" is approximated as a line
    * shipped >60 days after the order date.
    */
  private val q45SqlQ4Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q12 shape: join + conditional (CASE) aggregation. */
  private val q46SqlQ12Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT l_linestatus,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
  }

  /** TPC-H Q14 shape: conditional revenue ratio (promo share). */
  private val q47SqlQ14Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT round(100.00 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-07-01'
        |  AND l_shipdate < TIMESTAMP '1996-08-01'""".stripMargin)
  }

  /** TPC-H Q16 shape: NOT IN subquery + grouped count distinct. */
  private val q48SqlQ16Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT p_brand, count(DISTINCT s_suppkey) AS supplier_cnt
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size IN (5, 15, 25, 35)
        |  AND s_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand ORDER BY supplier_cnt DESC, p_brand""".stripMargin)
  }

  /** TPC-H Q19 shape: OR-of-ANDs predicate — Catalyst extracts the
    * common l_partkey = p_partkey conjunct so the join stays an
    * equi-join with a residual filter (not a nested loop).
    */
  private val q38SqlQ19Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 20 AND 40)""".stripMargin)
  }

  /** ORC sink + source round-trip over part (built-in columnar format
    * beyond parquet; values integer/string/double — lossless trip).
    */
  private val q96OrcRoundtrip: Q = (s, d) => {
    val tmp = graft.operators.Materialize.jvmScratch(s"graft_orc_part_${d.replaceAll("[^a-zA-Z0-9]", "_")}")
    Tables.part(s, d).write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        max(col("p_size")).as("max_size"),
        graft.functions.GraftFunctions.dsum(col("p_retailprice")).as("sum_price"))
      .orderBy("p_brand")
  }

  /** Line-oriented text sink + source round-trip: document texts out as
    * UTF-8 lines, read back with the `text` source (one `value` row per
    * line), word histogram on top. Filter keeps single-line docs so the
    * trip is bijective.
    */
  private val q97TextRoundtrip: Q = (s, d) => {
    val tmp = graft.operators.Materialize.jvmScratch(s"graft_text_docs_${d.replaceAll("[^a-zA-Z0-9]", "_")}")
    Tables.documents(s, d)
      .filter(col("doc_id") < 200 && !col("text").contains("\n"))
      .select(col("text"))
      .write.mode("overwrite").text(tmp)
    s.read.text(tmp)
      .select(explode(split(col("value"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(15)
  }

  /** TPC-H Q15 shape: CTE revenue view + top-revenue supplier(s).
    *
    * The textbook form filters on a `(SELECT max(total) FROM revenue)`
    * scalar subquery, which Spark plans as a SECOND full lineitem
    * scan+agg branch (no exchange reuse between the join side and the
    * subquery side). Rewritten as `max(total) OVER ()` on the aggregated
    * revenue rows: revenue is computed once, and the window runs over
    * |suppliers| rows (already one row per supplier), not lineitem.
    * Same result set incl. ties; the oracle keeps the textbook form.
    */
  private val q95SqlQ15Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """WITH revenue AS (
        |  SELECT l_suppkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  GROUP BY l_suppkey),
        |ranked AS (
        |  SELECT l_suppkey, total, max(total) OVER () AS mx FROM revenue)
        |SELECT s_suppkey, s_name, total
        |FROM supplier JOIN ranked ON s_suppkey = l_suppkey
        |WHERE total = mx
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** SQL-surface top-k per group: the plain `row_number() <= k` idiom,
    * planned through the native TopKPerGroup operator by
    * [[graft.plans.WindowTopKRule]] — SQL users get partial heaps +
    * survivor-only shuffle, not WindowExec's full shuffle + sort
    * (PlanQualitySpec pins the physical plan).
    */
  private val q108SqlTopK: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin)
  }

  /** TPC-H Q5 shape: region-gated 6-way join, revenue per nation. */
  private val q116SqlQ5Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q5_SQL)
  }

  /** TPC-H Q13 shape: customer order-count distribution — LEFT JOIN
    * with a join-side filter, then a group-of-groups.
    */
  private val q117SqlQ13Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q13_SQL)
  }

  /** TPC-H Q17 shape: correlated scalar AVG subquery per part
    * (small-quantity revenue); exact decimal output sum.
    */
  private val q118SqlQ17Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q17_SQL)
  }

  /** TPC-H Q18 shape: IN over a grouped-HAVING subquery (large-volume
    * orders), re-aggregated with the customer.
    */
  private val q119SqlQ18Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q18_SQL)
  }

  /** TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact table
    * with outer references from two tables (suppliers who were the
    * sole late shipper on a finished order).
    */
  private val q120SqlQ21Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q21_SQL)
  }

  private val Q5_SQL =
    """SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND o_orderdate >= DATE '1996-01-01'
      |  AND o_orderdate < DATE '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  private val Q13_SQL =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |    AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY c.c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  private val Q17_SQL =
    """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
      |  AS DOUBLE) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#1'
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)""".stripMargin

  private val Q18_SQL =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  private val Q21_SQL =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |  JOIN orders ON o_orderkey = l1.l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
      |    AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey
      |    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |  AND n_name = 'NATION_3'
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin

  /** TPC-H Q2 shape: minimum-cost supplier — region-gated 5-way join
    * with a correlated scalar MIN subquery over the same join tree.
    * The synthetic schema has no partsupp, so lineitem serves as the
    * part↔supplier bridge (hence DISTINCT) and s_acctbal stands in
    * for ps_supplycost.
    */
  private val q127SqlQ2Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q2_SQL)
  }

  /** TPC-H Q9 shape: product-line profit by nation and year — 5-way
    * join, LIKE filter, per-row profit expression aggregated per
    * (nation, year). p_retailprice stands in for ps_supplycost in the
    * cost term (no partsupp in the synthetic schema).
    */
  private val q128SqlQ9Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q9_SQL)
  }

  /** TPC-H Q11 shape: important-stock identification — grouped sum
    * with a HAVING threshold against an uncorrelated scalar subquery
    * that re-aggregates the same join (fraction-of-total gate).
    */
  private val q129SqlQ11Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q11_SQL)
  }

  private val Q2_SQL =
    """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_brand
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE p_size BETWEEN 10 AND 15 AND p_type = 'ECONOMY' AND r_name = 'EUROPE'
      |  AND s_acctbal = (SELECT min(s2.s_acctbal)
      |     FROM supplier s2 JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey
      |       JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |       JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |     WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin

  private val Q9_SQL =
    """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) -
      |      CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) *
      |      CAST(0.05 AS DECIMAL(3,2)) AS amount
      |  FROM part JOIN lineitem ON p_partkey = l_partkey
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN orders ON o_orderkey = l_orderkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%widget%'
      |) profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  private val Q11_SQL =
    """SELECT l_partkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY l_partkey
      |HAVING sum(CAST(l_extendedprice AS DECIMAL(18,2))) > (
      |  SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) * 0.0012
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |    JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA')
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** TPC-H Q1 shape: the full pricing summary (multi-expression
    * decimal aggregate block) through the SQL surface.
    */
  private val q121SqlQ1Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q1_SQL)
  }

  /** TPC-H Q6 shape: tight filter conjunction into a single decimal
    * sum (the canonical pushdown-everything query).
    */
  private val q122SqlQ6Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q6_SQL)
  }

  /** TPC-H Q8 shape: 8-way join with a conditional market-share
    * ratio per year.
    */
  private val q123SqlQ8Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q8_SQL)
  }

  /** TPC-H Q20 shape: nested IN chains (suppliers of promoted parts
    * above a shipped-quantity threshold; partsupp-free adaptation).
    */
  private val q124SqlQ20Shape: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(Q20_SQL)
  }

  private val Q1_SQL =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |    AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) *
      |    (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
      |    AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= DATE '2000-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private val Q6_SQL =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |  CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  private val Q8_SQL =
    """SELECT o_year,
      |  CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END) AS DOUBLE) /
      |    CAST(sum(volume) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT year(o_orderdate) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume,
      |    n2.n_name AS nation
      |  FROM part JOIN lineitem ON p_partkey = l_partkey
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |    JOIN region ON n1.n_regionkey = r_regionkey
      |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'EUROPE' AND p_size <= 20) allnations
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  private val Q20_SQL =
    """SELECT s_name, s_suppkey
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name IN ('NATION_7', 'NATION_8', 'NATION_9') AND s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
      |  GROUP BY l_suppkey HAVING sum(l_quantity) > 1500)
      |ORDER BY s_name""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q127_sql_q2_shape", q127SqlQ2Shape, Q2_SQL),
    Query("q128_sql_q9_shape", q128SqlQ9Shape, Q9_SQL),
    Query("q129_sql_q11_shape", q129SqlQ11Shape, Q11_SQL),
    Query("q121_sql_q1_shape", q121SqlQ1Shape, Q1_SQL),
    Query("q122_sql_q6_shape", q122SqlQ6Shape, Q6_SQL),
    Query("q123_sql_q8_shape", q123SqlQ8Shape, Q8_SQL),
    Query("q124_sql_q20_shape", q124SqlQ20Shape, Q20_SQL),
    Query("q116_sql_q5_shape", q116SqlQ5Shape, Q5_SQL),
    Query("q117_sql_q13_shape", q117SqlQ13Shape, Q13_SQL),
    Query("q118_sql_q17_shape", q118SqlQ17Shape, Q17_SQL),
    Query("q119_sql_q18_shape", q119SqlQ18Shape, Q18_SQL),
    Query("q120_sql_q21_shape", q120SqlQ21Shape, Q21_SQL),
    Query("q108_sql_topk", q108SqlTopK,
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC)::INT AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin),
    Query("q94_sql_q22_shape", q94SqlQ22Shape,
      """SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q95_sql_q15_shape", q95SqlQ15Shape,
      """WITH revenue AS (
        |  SELECT l_suppkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total = (SELECT max(total) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),
    Query("q93_sql_correlated_subquery", q93SqlCorrelated,
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.8 * (
        |  SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),
    Query("q90_sql_tpch_q3", q90SqlTpchQ3,
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    Query("q106_sql_q7_shape", q106SqlQ7Shape,
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(volume) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN customer ON c_custkey = o_custkey
        |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    Query("q107_sql_q10_shape", q107SqlQ10Shape,
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin),
    Query("q32_arrow_roundtrip", q32ArrowRoundtrip,
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS first_doc
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q91_csv_roundtrip", q91CsvRoundtrip,
      """SELECT r_name, count(*) AS n_nations, min(n_name) AS first_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    Query("q92_json_roundtrip", q92JsonRoundtrip,
      """SELECT s_nationkey, count(*) AS n,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),
    Query("q45_sql_q4_shape", q45SqlQ4Shape,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q46_sql_q12_shape", q46SqlQ12Shape,
      """SELECT l_linestatus,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END)::BIGINT AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    Query("q47_sql_q14_shape", q47SqlQ14Shape,
      """SELECT round(100.00 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-07-01'
        |  AND l_shipdate < TIMESTAMP '1996-08-01'""".stripMargin),
    Query("q48_sql_q16_shape", q48SqlQ16Shape,
      """SELECT p_brand, count(DISTINCT s_suppkey) AS supplier_cnt
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size IN (5, 15, 25, 35)
        |  AND s_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand ORDER BY supplier_cnt DESC, p_brand""".stripMargin),
    Query("q38_sql_q19_shape", q38SqlQ19Shape,
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
    Query("q96_orc_roundtrip", q96OrcRoundtrip,
      """SELECT p_brand, count(*) AS n, max(p_size) AS max_size,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    Query("q97_text_roundtrip", q97TextRoundtrip,
      """WITH w AS (SELECT unnest(str_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 200 AND NOT contains(text, chr(10)))
        |SELECT word, count(*) AS n FROM w
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 15""".stripMargin),
    Query("q49_json_regex", q49JsonRegex,
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  array_to_string(regexp_extract_all(props, '[0-9]+'), ',') AS digits
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin))
}
