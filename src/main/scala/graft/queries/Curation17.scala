package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.sources.Tables

/** Round-6 wave 5: 2D skyline (Pareto front) and Spearman rank
  * correlation.
  */
object Curation17 {

  /** 2D skyline / Pareto front over documents maximizing (length,
    * vocabulary): a doc survives iff no other doc dominates it
    * (≥ in both dimensions, > in one). With integer dimensions the
    * dominance test is two window aggregates — max(y) over STRICTLY
    * larger x (integer RANGE frame) and max(y) within the same x —
    * so the whole operator is one sort, no self-join, no quadratic
    * pair scan. At cluster scale the standard two-phase variant
    * applies: per-partition skyline first (the skyline operator is
    * idempotent and distributive), then this pass over the small
    * union of survivors.
    */
  private val q248Skyline2d: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      col("n_chars").as("x"),
      size(array_distinct(split(col("text"), " "))).cast(LongType).as("y"))
    // Two-phase distributive skyline (operators.Skyline): partition-
    // local fronts in a JVM kernel, then an incremental-window global
    // pass over the survivors. (The direct one-shot formulation —
    // max(y) OVER (RANGE 1 FOLLOWING..UNBOUNDED) — is a shrinking
    // frame Spark rescans per row: measured O(n²), 8.7 s at sf1 vs
    // sub-second for this shape.)
    graft.operators.Skyline.skyline2d(docs, "x", "y")
      .select(col("doc_id"), col("x"), col("y"))
      .orderBy(col("x").desc, col("doc_id"))
  }

  /** Spearman rank correlation between document length and vocabulary
    * size. Average-rank ties are computed over DISTINCT values (the
    * Mann-Whitney machinery), joined back, and all five moment sums
    * accumulate as DECIMAL over exact half-integer ranks — the
    * coefficient is engine-exact up to the final division. One keyed
    * aggregate + two bounded distinct-value windows.
    */
  private val q249Spearman: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      col("n_chars").cast(LongType).as("xv"),
      size(array_distinct(split(col("text"), " "))).cast(LongType).as("yv"))
    def avgRanks(colName: String, out: String): org.apache.spark.sql.DataFrame = {
      val byv = docs.groupBy(col(colName)).agg(count(lit(1)).as("tv"))
      val wb = Window.orderBy(colName).rowsBetween(Window.unboundedPreceding, -1)
      byv.withColumn("cum", coalesce(sum(col("tv")).over(wb), lit(0L)))
        .select(col(colName),
          (col("cum").cast(DoubleType) + (col("tv").cast(DoubleType) + 1.0) / 2.0)
            .cast(DecimalType(20, 1)).as(out))
    }
    val ranked = docs
      .join(avgRanks("xv", "rx"), Seq("xv"))
      .join(avgRanks("yv", "ry"), Seq("yv"))
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
      sum(col("rx") * col("rx")).as("sxx"), sum(col("ry") * col("ry")).as("syy"),
      sum(col("rx") * col("ry")).as("sxy"))
    m.select(col("n"),
      round((col("n").cast(DoubleType) * col("sxy").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
        sqrt((col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
          (col("n").cast(DoubleType) * col("syy").cast(DoubleType) -
            col("sy").cast(DoubleType) * col("sy").cast(DoubleType))), 6).as("spearman"))
  }

  /** Cohort LTV curves: users cohorted by first-event week, cumulative
    * value per user tracked by cohort age. Decimal value sums keep the
    * curve exact; everything is keyed by (cohort, age) after one
    * per-user first-touch aggregate, so the whole curve is two keyed
    * shuffles at any scale.
    */
  private val q252CohortLtv: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"), col("value"))
    val first = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), to_date(date_trunc("week", col("first_ts"))).as("cohort"))
    val sizes = first.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    val weekly = ev.join(first, Seq("user_id"))
      .select(col("cohort"),
        expr("datediff(to_date(ts), cohort) DIV 7").cast(LongType).as("age_week"),
        col("value"))
      .groupBy("cohort", "age_week")
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("wv"))
    val wc = Window.partitionBy("cohort").orderBy("age_week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("cum", sum(col("wv")).over(wc))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("age_week"), col("n_users"),
        round(col("wv").cast(DoubleType), 2).as("week_value"),
        round(col("cum").cast(DoubleType) / col("n_users").cast(DoubleType), 6)
          .as("ltv_per_user"))
      .orderBy("cohort", "age_week")
  }

  /** Click-to-purchase time-to-convert distribution: each purchase is
    * paired with the user's most recent prior click by an ignore-nulls
    * running last over the user timeline (the as-of shape, no pairwise
    * join), then the delay distribution reduces to exact-rank p50/p90
    * over integer seconds — engine-exact, no approximate percentiles.
    */
  private val q253TimeToConvert: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val delays = Tables.events(s, d)
      .withColumn("last_click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("last_click_ts").isNotNull)
      .select(((expr("unix_micros(ts)") - expr("unix_micros(last_click_ts)")) / lit(1000000L))
        .cast(LongType).as("delay_s"))
    val byd = delays.groupBy("delay_s").agg(count(lit(1)).as("c"))
    val wc = Window.orderBy("delay_s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = byd
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(wall))
    ranked.agg(min(col("n")).as("n_conversions"),
      min(when(col("cum") * 2 >= col("n"), col("delay_s"))).as("p50_s"),
      min(when(col("cum") * 10 >= col("n") * 9, col("delay_s"))).as("p90_s"),
      round(sum(col("delay_s") * col("c")).cast(DoubleType) /
        min(col("n")).cast(DoubleType), 6).as("avg_s"))
  }

  /** Expectations-style data-quality audit over lineitem: declared
    * range/domain/null checks evaluated as one conditional aggregate
    * pass (map-side partial, one tiny reduce) with a per-check
    * violation count — the contract gate a pipeline runs before
    * promoting a snapshot.
    */
  private val q254ExpectationsAudit: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val checks: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("l_quantity_in_1_50", col("l_quantity") >= 1 && col("l_quantity") <= 50),
      ("l_discount_in_0_to_10pct", col("l_discount") >= 0 && col("l_discount") <= 0.1),
      ("l_extendedprice_positive", col("l_extendedprice") > 0),
      ("l_shipdate_not_null", col("l_shipdate").isNotNull),
      ("l_returnflag_in_domain", col("l_returnflag").isin("A", "N", "R")),
      ("l_orderkey_positive", col("l_orderkey") > 0))
    val agg = li.agg(count(lit(1)).as("n"),
      checks.map { case (name, pred) =>
        sum(when(!pred, 1L).otherwise(0L)).as(s"v_$name")
      }: _*)
    val rows = checks.map { case (name, _) =>
      agg.select(lit(name).as("check_name"), col("n").as("n_checked"),
        col(s"v_$name").as("n_violations"), (col(s"v_$name") === 0).as("pass"))
    }
    rows.reduce(_.unionByName(_)).orderBy("check_name")
  }

  val queries: Seq[Query] = Seq(
    Query("q252_cohort_ltv", q252CohortLtv,
      """WITH first AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) cohort
        |  FROM events GROUP BY user_id),
        |sizes AS (SELECT cohort, count(*) n_users FROM first GROUP BY cohort),
        |weekly AS (SELECT cohort,
        |    datediff('day', cohort, CAST(ts AS DATE)) // 7 age_week,
        |    sum(CAST(value AS DECIMAL(18,2))) wv
        |  FROM events e JOIN first USING (user_id) GROUP BY 1, 2),
        |cumw AS (SELECT cohort, age_week, wv,
        |    sum(wv) OVER (PARTITION BY cohort ORDER BY age_week
        |      ROWS UNBOUNDED PRECEDING) cum
        |  FROM weekly)
        |SELECT cohort, age_week::BIGINT AS age_week, n_users::BIGINT AS n_users,
        |  round(CAST(wv AS DOUBLE), 2) AS week_value,
        |  round(CAST(cum AS DOUBLE) / n_users::DOUBLE, 6) AS ltv_per_user
        |FROM cumw JOIN sizes USING (cohort)
        |ORDER BY cohort, age_week""".stripMargin),
    Query("q253_time_to_convert", q253TimeToConvert,
      """WITH marked AS (SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) last_click_ts
        |  FROM events),
        |delays AS (SELECT (epoch_us(ts) - epoch_us(last_click_ts)) // 1000000 delay_s
        |  FROM marked WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL),
        |byd AS (SELECT delay_s, count(*) c FROM delays GROUP BY delay_s),
        |ranked AS (SELECT delay_s, c,
        |    sum(c) OVER (ORDER BY delay_s ROWS UNBOUNDED PRECEDING) cum,
        |    sum(c) OVER () n FROM byd)
        |SELECT min(n)::BIGINT AS n_conversions,
        |  min(CASE WHEN cum * 2 >= n THEN delay_s END)::BIGINT AS p50_s,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN delay_s END)::BIGINT AS p90_s,
        |  round(sum(delay_s * c)::DOUBLE / min(n)::DOUBLE, 6) AS avg_s
        |FROM ranked""".stripMargin),
    Query("q254_expectations_audit", q254ExpectationsAudit,
      """WITH agg AS (SELECT count(*) n,
        |  sum(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50) THEN 1 ELSE 0 END) v1,
        |  sum(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 0.1) THEN 1 ELSE 0 END) v2,
        |  sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) v3,
        |  sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) v4,
        |  sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) v5,
        |  sum(CASE WHEN NOT (l_orderkey > 0) THEN 1 ELSE 0 END) v6
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'l_quantity_in_1_50' AS check_name, n::BIGINT n_checked, v1::BIGINT n_violations, v1 = 0 AS pass FROM agg
        |  UNION ALL SELECT 'l_discount_in_0_to_10pct', n::BIGINT, v2::BIGINT, v2 = 0 FROM agg
        |  UNION ALL SELECT 'l_extendedprice_positive', n::BIGINT, v3::BIGINT, v3 = 0 FROM agg
        |  UNION ALL SELECT 'l_shipdate_not_null', n::BIGINT, v4::BIGINT, v4 = 0 FROM agg
        |  UNION ALL SELECT 'l_returnflag_in_domain', n::BIGINT, v5::BIGINT, v5 = 0 FROM agg
        |  UNION ALL SELECT 'l_orderkey_positive', n::BIGINT, v6::BIGINT, v6 = 0 FROM agg)
        |ORDER BY check_name""".stripMargin),
    Query("q248_skyline_2d", q248Skyline2d,
      """WITH docs AS (SELECT doc_id, n_chars x,
        |    len(list_distinct(str_split(text, ' '))) y FROM documents),
        |marked AS (SELECT *,
        |    max(y) OVER (ORDER BY x RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) maxy_gt,
        |    max(y) OVER (PARTITION BY x) maxy_eq
        |  FROM docs)
        |SELECT doc_id, x::BIGINT AS x, y::BIGINT AS y FROM marked
        |WHERE (maxy_gt IS NULL OR maxy_gt < y) AND maxy_eq = y
        |ORDER BY x DESC, doc_id""".stripMargin),
    Query("q249_spearman", q249Spearman,
      """WITH docs AS (SELECT doc_id, n_chars xv,
        |    len(list_distinct(str_split(text, ' '))) yv FROM documents),
        |rxs AS (SELECT xv, CAST(coalesce(sum(tv) OVER (ORDER BY xv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
        |    + (tv::DOUBLE + 1.0) / 2.0 AS DECIMAL(20,1)) rx
        |  FROM (SELECT xv, count(*) tv FROM docs GROUP BY xv)),
        |rys AS (SELECT yv, CAST(coalesce(sum(tv) OVER (ORDER BY yv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
        |    + (tv::DOUBLE + 1.0) / 2.0 AS DECIMAL(20,1)) ry
        |  FROM (SELECT yv, count(*) tv FROM docs GROUP BY yv)),
        |ranked AS (SELECT rx, ry FROM docs JOIN rxs USING (xv) JOIN rys USING (yv)),
        |m AS (SELECT count(*) n, sum(rx) sx, sum(ry) sy,
        |    sum(rx * rx) sxx, sum(ry * ry) syy, sum(rx * ry) sxy FROM ranked)
        |SELECT n::BIGINT AS n,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |    sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
        |      (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS spearman
        |FROM m""".stripMargin))
}
