package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.sources.Tables

/** Round-11 wave 29: newsvendor order quantities, a cross-table data
  * contract audit, two-way variance decomposition, and streaming
  * token-bucket admission (per-key quota state with a recursive-CTE
  * oracle).
  */
object Curation60 {

  /** q451: newsvendor critical-quantile ordering — the inventory
    * decision rule: with underage cost 8 and overage cost 2 the
    * optimal order is the 0.8-quantile of daily demand (critical ratio
    * cu/(cu+co)), taken per brand as an EXACT order statistic
    * (deterministic rank, no interpolation). The readout prices both
    * that order and the naive mean-demand order against realized
    * demand — integer cost sums, so the "quantile beats mean" claim is
    * engine-exact. Brand-keyed windows; the ≤|brands| decision frame
    * broadcasts back.
    */
  private val q451Newsvendor: Q = (s, d) => {
    val dem = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("l_shipdate").as("ship_day"))
      .agg(sum(col("l_quantity").cast(LongType)).as("dd"))
    val wB = Window.partitionBy("brand")
    val ranked = dem
      .withColumn("rn", row_number().over(wB.orderBy(col("dd").asc, col("ship_day").asc)))
      .withColumn("nb", count(lit(1)).over(wB))
    val qstar = ranked
      .filter(col("rn") === ((lit(8) * col("nb") + lit(9)) / lit(10)).cast(LongType))
      .select(col("brand"), col("dd").as("q_star"), col("nb").as("n_days"))
    val qmean = dem.groupBy("brand")
      .agg(floor(sum(col("dd")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("q_mean"))
    val decisions = broadcast(qstar.join(qmean, Seq("brand")))
    dem.join(decisions, Seq("brand"))
      .groupBy("brand")
      .agg(max(col("n_days")).as("n_days"),
        max(col("q_star")).as("q_star"), max(col("q_mean")).as("q_mean"),
        sum(lit(2) * greatest(col("q_star") - col("dd"), lit(0L)) +
          lit(8) * greatest(col("dd") - col("q_star"), lit(0L))).as("cost_at_qstar"),
        sum(lit(2) * greatest(col("q_mean") - col("dd"), lit(0L)) +
          lit(8) * greatest(col("dd") - col("q_mean"), lit(0L))).as("cost_at_qmean"))
      .orderBy("brand")
  }

  /** q452: data-contract audit — the pre-training-run gate as ONE
    * query: referential orphans (anti joins on the fact keys),
    * duplicate primary keys, domain-range violations, and null/empty
    * field rates, each a named check row. The query twin of the
    * runtime `sources.DataContract` canary: that one diagnoses harness
    * regenerations, this one is the production data-quality readout a
    * pipeline blocks on.
    */
  private val q452ContractAudit: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val ev = Tables.events(s, d)
    val docs = Tables.documents(s, d)
    def check(name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).cast(LongType).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    check("docs_empty_text", docs.filter(length(col("text")) === 0))
      .unionByName(check("events_null_user", ev.filter(col("user_id").isNull)))
      .unionByName(check("lineitem_orphan_orders",
        li.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")))
      .unionByName(check("lineitem_pk_dup",
        li.groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1)))
      .unionByName(check("orders_orphan_customer",
        o.select(col("o_custkey"))
          .join(c.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")))
      .unionByName(check("orders_pk_dup",
        o.groupBy("o_orderkey").agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)))
      .unionByName(check("price_nonpositive", li.filter(col("l_extendedprice") <= 0)))
      .unionByName(check("qty_range",
        li.filter(col("l_quantity") < 1 || col("l_quantity") > 50)))
      .orderBy("check_name")
  }

  /** q453: two-way variance decomposition (η² shares) of the reward
    * over event-type × user-cohort — the fANOVA-style answer to "which
    * factor actually moves the metric": SS_A, SS_B, the interaction
    * (SS_cells − SS_A − SS_B), and the residual, each as a share of
    * total variance. One map-side keyed aggregate folds the corpus
    * into the bounded cell grid; every sum of squares derives from
    * exact decimal (n, Σy, Σy²) moments with the identical double
    * expression on both engines.
    */
  private val q453VarianceDecomp: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type").as("a"),
      (col("user_id") % 4).as("b"),
      round(col("value"), 2).cast(DecimalType(18, 2)).as("y"))
    val cells = ev.groupBy("a", "b")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum((col("y") * col("y")).cast(DecimalType(38, 4))).as("syy"))
    // bounded |a|x|b| grid from here on
    val grand = cells.agg(sum(col("n")).as("nn"),
      sum(col("sy")).cast(DecimalType(38, 2)).as("ss"),
      sum(col("syy")).cast(DecimalType(38, 4)).as("sss"))
    val corr = grand.select(col("nn"), col("ss"), col("sss"),
      (col("ss").cast(DoubleType) * col("ss").cast(DoubleType) /
        col("nn").cast(DoubleType)).as("cf"))
    def margin(k: String, alias: String) = cells.groupBy(k)
      .agg((sum(col("sy")).cast(DoubleType) * sum(col("sy")).cast(DoubleType) /
        sum(col("n")).cast(DoubleType)).as("t"))
      .agg(sum(col("t")).as(alias))
    val cellTerm = cells
      .select((col("sy").cast(DoubleType) * col("sy").cast(DoubleType) /
        col("n").cast(DoubleType)).as("t"))
      .agg(sum(col("t")).as("tc"))
    corr.crossJoin(margin("a", "ta")).crossJoin(margin("b", "tb"))
      .crossJoin(cellTerm)
      .select(col("nn").as("n"),
        round(col("sss").cast(DoubleType) - col("cf"), 6).as("ss_total"),
        round((col("ta") - col("cf")) /
          (col("sss").cast(DoubleType) - col("cf")), 6).as("eta2_a"),
        round((col("tb") - col("cf")) /
          (col("sss").cast(DoubleType) - col("cf")), 6).as("eta2_b"),
        round((col("tc") - col("ta") - col("tb") + col("cf")) /
          (col("sss").cast(DoubleType) - col("cf")), 6).as("eta2_ab"),
        round((col("sss").cast(DoubleType) - col("tc")) /
          (col("sss").cast(DoubleType) - col("cf")), 6).as("eta2_resid"))
  }

  /** q454: streaming token-bucket admission — per-user quota state
    * (capacity 3, one token per 2 event-time days) folded through the
    * REAL streaming engine across two time-half micro-batches, so the
    * bucket state provably survives the batch boundary. The oracle
    * replays the integer-exact recurrence with a recursive CTE —
    * whole-period refills, remainder time carried in the anchor, a
    * clamped bucket re-anchoring at the event — so an engine that
    * loses state at the boundary, refills fractionally, or processes
    * out of order breaks the row-exact admit/deny counts.
    */
  private val q454StreamTokenBucket: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"))
    val r = ev.agg(min(col("ts")).as("a"), max(col("ts")).as("b")).head()
    val midMs = (r.getTimestamp(0).getTime + r.getTimestamp(1).getTime) / 2
    val mid = lit(new java.sql.Timestamp(midMs))
    val root = graft.operators.Materialize.jvmScratch(
      "bucket-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
    Curation50.addBatchFile(ev.filter(col("ts") <= mid), root, "01_batch.parquet", 2)
    Curation50.addBatchFile(ev.filter(col("ts") > mid), root, "02_batch.parquet", 1)
    def admitted = {
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/input")
      graft.streaming.StreamingOps.tokenBucket(src, 3L, 172800000000L).toDF()
    }
    Curation50.runRestartable(admitted, ckpt, outDir, "update")
    Curation50.readSink(s, outDir)
      .groupBy("user_id")
      .agg(sum(col("n_adm")).as("adm"), sum(col("n_den")).as("den"))
      .groupBy((col("user_id") % 4).as("cohort"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("adm")).cast(LongType).as("n_admitted"),
        sum(col("den")).cast(LongType).as("n_denied"),
        round(sum(col("den")).cast(DoubleType) /
          (sum(col("adm")) + sum(col("den"))), 6).as("deny_rate"))
      .orderBy("cohort")
  }

  /** q454's bucket-refill expression, interpolated once so the three
    * uses inside the recursive step cannot drift from each other. */
  private val fillExpr =
    "least(3, s.tokens + CASE WHEN e.us > s.lastus " +
      "THEN (e.us - s.lastus) // 172800000000 ELSE 0 END)"

  val queries: Seq[Query] = Seq(
    Query("q451_newsvendor", q451Newsvendor,
      """WITH dem AS (SELECT p_brand brand, l_shipdate ship_day,
        |    sum(CAST(l_quantity AS BIGINT)) dd
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, l_shipdate),
        |ranked AS (SELECT brand, dd,
        |    row_number() OVER (PARTITION BY brand ORDER BY dd ASC, ship_day ASC) rn,
        |    count(*) OVER (PARTITION BY brand) nb FROM dem),
        |qstar AS (SELECT brand, dd q_star, nb n_days FROM ranked
        |  WHERE rn = (8 * nb + 9) // 10),
        |qmean AS (SELECT brand,
        |    CAST(floor(CAST(sum(dd) AS DOUBLE) / count(*)) AS BIGINT) q_mean
        |  FROM dem GROUP BY brand),
        |dec_ AS (SELECT * FROM qstar JOIN qmean USING (brand))
        |SELECT brand, max(n_days)::BIGINT AS n_days, max(q_star)::BIGINT AS q_star,
        |  max(q_mean)::BIGINT AS q_mean,
        |  sum(2 * greatest(q_star - dd, 0) + 8 * greatest(dd - q_star, 0))::BIGINT
        |    AS cost_at_qstar,
        |  sum(2 * greatest(q_mean - dd, 0) + 8 * greatest(dd - q_mean, 0))::BIGINT
        |    AS cost_at_qmean
        |FROM dem JOIN dec_ USING (brand)
        |GROUP BY brand ORDER BY brand""".stripMargin),
    Query("q452_contract_audit", q452ContractAudit,
      """SELECT check_name, n_violations FROM (
        |  SELECT 'docs_empty_text' check_name,
        |    (SELECT count(*) FROM documents WHERE length(text) = 0) n_violations
        |  UNION ALL SELECT 'events_null_user',
        |    (SELECT count(*) FROM events WHERE user_id IS NULL)
        |  UNION ALL SELECT 'lineitem_orphan_orders',
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |      (SELECT o_orderkey FROM orders))
        |  UNION ALL SELECT 'lineitem_pk_dup',
        |    (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
        |  UNION ALL SELECT 'orders_orphan_customer',
        |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |      (SELECT c_custkey FROM customer))
        |  UNION ALL SELECT 'orders_pk_dup',
        |    (SELECT count(*) FROM (SELECT o_orderkey FROM orders
        |      GROUP BY o_orderkey HAVING count(*) > 1))
        |  UNION ALL SELECT 'price_nonpositive',
        |    (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0)
        |  UNION ALL SELECT 'qty_range',
        |    (SELECT count(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50))
        |ORDER BY check_name""".stripMargin),
    Query("q453_variance_decomp", q453VarianceDecomp,
      """WITH ev AS (SELECT event_type a, user_id % 4 b,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) y FROM events),
        |cells AS (SELECT a, b, count(*) n, sum(y) sy,
        |    sum(CAST(y * y AS DECIMAL(38,4))) syy FROM ev GROUP BY a, b),
        |grand AS (SELECT sum(n) nn, CAST(sum(sy) AS DECIMAL(38,2)) ss,
        |    CAST(sum(syy) AS DECIMAL(38,4)) sss FROM cells),
        |corr AS (SELECT nn, ss, sss,
        |    CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) cf
        |  FROM grand),
        |ma AS (SELECT sum(t) ta FROM (SELECT
        |    CAST(sum(sy) AS DOUBLE) * CAST(sum(sy) AS DOUBLE)
        |      / CAST(sum(n) AS DOUBLE) t FROM cells GROUP BY a)),
        |mb AS (SELECT sum(t) tb FROM (SELECT
        |    CAST(sum(sy) AS DOUBLE) * CAST(sum(sy) AS DOUBLE)
        |      / CAST(sum(n) AS DOUBLE) t FROM cells GROUP BY b)),
        |mc AS (SELECT sum(CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |    / CAST(n AS DOUBLE)) tc FROM cells)
        |SELECT nn::BIGINT AS n,
        |  round(CAST(sss AS DOUBLE) - cf, 6) AS ss_total,
        |  round((ta - cf) / (CAST(sss AS DOUBLE) - cf), 6) AS eta2_a,
        |  round((tb - cf) / (CAST(sss AS DOUBLE) - cf), 6) AS eta2_b,
        |  round((tc - ta - tb + cf) / (CAST(sss AS DOUBLE) - cf), 6) AS eta2_ab,
        |  round((CAST(sss AS DOUBLE) - tc) / (CAST(sss AS DOUBLE) - cf), 6)
        |    AS eta2_resid
        |FROM corr, ma, mb, mc""".stripMargin),
    Query("q454_stream_token_bucket", q454StreamTokenBucket,
      s"""WITH RECURSIVE ev AS (SELECT user_id, epoch_us(ts) us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) i
        |  FROM events),
        |sim AS (
        |  SELECT user_id, CAST(0 AS BIGINT) i, CAST(3 AS BIGINT) tokens,
        |      CAST(0 AS BIGINT) lastus, CAST(0 AS BIGINT) adm, CAST(0 AS BIGINT) den
        |    FROM (SELECT DISTINCT user_id FROM ev)
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |    CASE WHEN $fillExpr >= 1 THEN $fillExpr - 1 ELSE $fillExpr END,
        |    CASE WHEN $fillExpr = 3 THEN e.us
        |      ELSE s.lastus + (CASE WHEN e.us > s.lastus
        |        THEN (e.us - s.lastus) // 172800000000 ELSE 0 END) * 172800000000 END,
        |    s.adm + CASE WHEN $fillExpr >= 1 THEN 1 ELSE 0 END,
        |    s.den + CASE WHEN $fillExpr >= 1 THEN 0 ELSE 1 END
        |  FROM sim s JOIN ev e ON e.user_id = s.user_id AND e.i = s.i + 1),
        |fin AS (SELECT user_id, adm, den FROM (SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY i DESC) rr FROM sim)
        |  WHERE rr = 1)
        |SELECT user_id % 4 AS cohort, count(*) AS n_users,
        |  sum(adm)::BIGINT AS n_admitted, sum(den)::BIGINT AS n_denied,
        |  round(sum(den)::DOUBLE / (sum(adm) + sum(den)), 6) AS deny_rate
        |FROM fin GROUP BY cohort ORDER BY cohort""".stripMargin))
}
