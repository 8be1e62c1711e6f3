package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 16: systems capacity modeling and experiment hygiene —
  * cache-TTL hit-rate curves, zone-map (min/max rowgroup) skipping
  * estimates, Western-Electric SPC control charts, consistent-hash
  * ring migration cost, and A/B bucket-reuse carryover audits.
  */
object Curation46 {

  /** q391: cache-TTL planning — replay the event stream as accesses to
    * a per-(user, type) cache and measure the hit rate a TTL would
    * have achieved, for five candidate TTLs in ONE pass: inter-access
    * gaps from a per-key lag window (microsecond-exact integers), then
    * a broadcast TTL frame × conditional integer sums. The curve is
    * what picks the TTL/memory tradeoff.
    */
  private val q391CacheTtlCurve: Q = (s, d) => {
    import s.implicits._
    val wKey = Window.partitionBy("user_id", "event_type").orderBy("tus", "event_id")
    val gaps = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("tus"))
      .select((col("tus") - lag(col("tus"), 1).over(wKey)).as("gap"))
    val ttls = Seq(60L, 300L, 900L, 3600L, 21600L).toDF("ttl_s")
    gaps.crossJoin(broadcast(ttls))
      .groupBy("ttl_s")
      .agg(count(lit(1)).as("n_accesses"),
        sum(when(col("gap").isNotNull && col("gap") <= col("ttl_s") * 1000000L, 1L)
          .otherwise(0L)).as("n_hits"))
      .select(col("ttl_s"), col("n_accesses"), col("n_hits"),
        round(col("n_hits").cast(DoubleType) / col("n_accesses").cast(DoubleType), 6)
          .as("hit_rate"))
      .orderBy("ttl_s")
  }

  /** q392: zone-map skipping model — the min/max rowgroup pruning this
    * engine's own parquet scans rely on, estimated from data: group
    * lineitem into 8192-key rowgroups (the physical-order proxy),
    * compute per-group shipdate fences in one keyed pass, and count
    * how many groups three candidate predicates would scan. The skip
    * fraction is the I/O the layout saves; a fraction near 0 says the
    * column needs Z-order (q126).
    */
  private val q392ZonemapSkipping: Q = (s, d) => {
    import s.implicits._
    val rg = Tables.lineitem(s, d)
      .select((col("l_orderkey") / 8192L).cast("long").as("rg"),
        to_date(col("l_shipdate")).as("sd"))
      .groupBy("rg").agg(min(col("sd")).as("lo"), max(col("sd")).as("hi"))
      .persist()
    val preds = Seq(
      (1, "1996-01-01", "1996-03-31"),
      (2, "1998-06-01", "1998-06-30"),
      (3, "1995-01-01", "2001-12-31")).toDF("pid", "plo", "phi")
      .select(col("pid"), to_date(col("plo")).as("plo"), to_date(col("phi")).as("phi"))
    val out = rg.crossJoin(broadcast(preds))
      .groupBy("pid")
      .agg(count(lit(1)).as("n_rowgroups"),
        sum(when(col("lo") <= col("phi") && col("hi") >= col("plo"), 1L)
          .otherwise(0L)).as("n_scanned"))
      .select(col("pid"), col("n_rowgroups"), col("n_scanned"),
        round(lit(1.0) - col("n_scanned").cast(DoubleType) /
          col("n_rowgroups").cast(DoubleType), 6).as("skip_frac"))
      .orderBy("pid")
    graft.operators.Materialize.spillRelease(out, rg)
  }

  /** q393: SPC control chart with Western-Electric runs rules over the
    * daily mean purchase value — rule 1 (one point beyond 3σ), rule 2
    * (two of three beyond 2σ, same side), rule 4 (eight successive on
    * one side of center). Center/σ from decimal moments of the bounded
    * daily series; every rule is integer window algebra over trailing
    * frames on that bounded domain. Output: the chart table (complete-window days with flags).
    */
  private val q393SpcControlChart: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg((sum(dec(col("value"))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("m"))
    val cs = daily.agg(count(lit(1)).as("n"),
      sum(dec(col("m"))).cast(DoubleType).as("sm"),
      sum(dec(col("m") * col("m"))).cast(DoubleType).as("smm"))
      .select((col("sm") / col("n").cast(DoubleType)).as("c"),
        sqrt((col("smm") - col("sm") * col("sm") / col("n").cast(DoubleType)) /
          col("n").cast(DoubleType)).as("sd"))
    val z = daily.crossJoin(broadcast(cs))
      .select(col("day"), ((col("m") - col("c")) / col("sd")).as("z"))
    val w3 = Window.orderBy("day").rowsBetween(-2, 0)  // bounded day domain
    val w8 = Window.orderBy("day").rowsBetween(-7, 0)
    val rules = z.select(col("day"), col("z"),
      when(abs(col("z")) > 3.0, 1L).otherwise(0L).as("r1"),
      when(sum(when(col("z") > 2.0, 1L).otherwise(0L)).over(w3) >= 2 ||
        sum(when(col("z") < -2.0, 1L).otherwise(0L)).over(w3) >= 2, 1L)
        .otherwise(0L).as("r2"),
      when(sum(when(col("z") > 0.0, 1L).otherwise(0L)).over(w8) === 8 ||
        sum(when(col("z") < 0.0, 1L).otherwise(0L)).over(w8) === 8, 1L)
        .otherwise(0L).as("r8"),
      row_number().over(Window.orderBy("day")).as("rn"))
    rules.filter(col("rn") >= 8)
      .select(col("day"), round(col("z"), 6).as("z"), col("r1"), col("r2"), col("r8"))
      .orderBy("day")
  }

  /** q394: consistent-hash ring migration cost — an 8-node, 16-vnode
    * ring over the customer keyspace, then node 9 joins: how many keys
    * move, vs the 1/9 ideal? The ring is a bounded literal array (128
    * and 144 hashed vnode positions), each key's owner is an in-row
    * successor lookup (filter + array_min — no join at all), and moved
    * keys are exactly those the new node captures. The gap between
    * measured and ideal is the vnode-count adequacy check.
    */
  private val q394ConsistentHashMigration: Q = (s, d) => {
    val ringExpr = (nodes: Int) =>
      s"""array(${(for (n <- 1 to nodes; v <- 1 to 16) yield
        s"named_struct('h', cast(conv(substring(md5('ring|$n|$v'), 1, 15), 16, 10) " +
          s"as bigint), 'node', $n)").mkString(", ")})"""
    def owner(ring: String, h: String) =
      s"""coalesce(
         |  array_min(filter($ring, p -> p.h >= $h)).node,
         |  array_min($ring).node)""".stripMargin
    val keys = Tables.customer(s, d)
      .select(col("c_custkey"),
        mdHash(concat_ws("|", lit("key"), col("c_custkey"))).as("h"))
    val assigned = keys.select(col("c_custkey"),
      expr(owner(ringExpr(8), "h")).as("n8"),
      expr(owner(ringExpr(9), "h")).as("n9"))
    assigned.agg(count(lit(1)).as("n_keys"),
        sum(when(col("n8") =!= col("n9"), 1L).otherwise(0L)).as("n_moved"))
      .select(col("n_keys"), col("n_moved"),
        round(col("n_moved").cast(DoubleType) / col("n_keys").cast(DoubleType), 6)
          .as("moved_frac"),
        round(lit(1.0) / 9.0, 6).as("ideal_frac"))
  }

  /** q395: bucket-reuse carryover audit — when a new experiment reuses
    * the user population of an old one, leftover treatment effects
    * show up as an interaction between the OLD assignment and the new
    * one. Two independent seeded-hash assignments, the 2×2 conversion
    * grid in one keyed pass, and the interaction contrast
    * (r₁₁−r₁₀)−(r₀₁−r₀₀) that should be 0 under clean re-randomization.
    */
  private val q395BucketCarryover: Q = (s, d) => {
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .select((mdHash(concat_ws("|", lit("exp1"), col("user_id"))) % 2).as("a1"),
        (mdHash(concat_ws("|", lit("exp2"), col("user_id"))) % 2).as("a2"), col("y"))
    val cells = u.groupBy("a1", "a2").agg(count(lit(1)).as("n"), sum(col("y")).as("cv"))
      .select(col("a1"), col("a2"), col("n"),
        (col("cv").cast(DoubleType) / col("n").cast(DoubleType)).as("r"))
    val piv = cells.agg(
      max(when(col("a1") === 0 && col("a2") === 0, col("r"))).as("r00"),
      max(when(col("a1") === 0 && col("a2") === 1, col("r"))).as("r01"),
      max(when(col("a1") === 1 && col("a2") === 0, col("r"))).as("r10"),
      max(when(col("a1") === 1 && col("a2") === 1, col("r"))).as("r11"),
      sum(col("n")).as("n_users"))
    piv.select(col("n_users"), round(col("r00"), 6).as("r00"),
      round(col("r01"), 6).as("r01"), round(col("r10"), 6).as("r10"),
      round(col("r11"), 6).as("r11"),
      round((col("r11") - col("r10")) - (col("r01") - col("r00")), 6)
        .as("carryover_interaction"))
  }

  val queries: Seq[Query] = Seq(
    Query("q391_cache_ttl_curve", q391CacheTtlCurve,
      """WITH gaps AS (SELECT epoch_us(ts) -
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) gap
        |  FROM events),
        |ttls AS (SELECT unnest([60, 300, 900, 3600, 21600]) ttl_s)
        |SELECT ttl_s::BIGINT AS ttl_s, count(*)::BIGINT AS n_accesses,
        |  sum(CASE WHEN gap IS NOT NULL AND gap <= ttl_s::BIGINT * 1000000
        |    THEN 1 ELSE 0 END)::BIGINT AS n_hits,
        |  round(sum(CASE WHEN gap IS NOT NULL AND gap <= ttl_s::BIGINT * 1000000
        |    THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS hit_rate
        |FROM gaps CROSS JOIN ttls GROUP BY ttl_s ORDER BY ttl_s""".stripMargin),
    Query("q392_zonemap_skipping", q392ZonemapSkipping,
      """WITH rg AS (SELECT l_orderkey // 8192 rg,
        |    min(CAST(l_shipdate AS DATE)) lo, max(CAST(l_shipdate AS DATE)) hi
        |  FROM lineitem GROUP BY 1),
        |preds AS (SELECT * FROM (VALUES
        |    (1, DATE '1996-01-01', DATE '1996-03-31'),
        |    (2, DATE '1998-06-01', DATE '1998-06-30'),
        |    (3, DATE '1995-01-01', DATE '2001-12-31')) t(pid, plo, phi))
        |SELECT pid, count(*)::BIGINT AS n_rowgroups,
        |  sum(CASE WHEN lo <= phi AND hi >= plo THEN 1 ELSE 0 END)::BIGINT
        |    AS n_scanned,
        |  round(1.0 - sum(CASE WHEN lo <= phi AND hi >= plo THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS skip_frac
        |FROM rg CROSS JOIN preds GROUP BY pid ORDER BY pid""".stripMargin),
    Query("q393_spc_control_chart", q393SpcControlChart,
      """WITH daily AS (SELECT CAST(ts AS DATE) dy,
        |    CAST(sum(CAST(value AS DECIMAL(38,15))) AS DOUBLE)
        |      / count(*)::DOUBLE m
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |cs AS (SELECT count(*) n,
        |    CAST(sum(CAST(m AS DECIMAL(38,15))) AS DOUBLE) sm,
        |    CAST(sum(CAST(m * m AS DECIMAL(38,15))) AS DOUBLE) smm
        |  FROM daily),
        |cz AS (SELECT sm / n::DOUBLE c,
        |    sqrt((smm - sm * sm / n::DOUBLE) / n::DOUBLE) sd FROM cs),
        |z AS (SELECT dy, (m - c) / sd z FROM daily CROSS JOIN cz),
        |rules AS (SELECT dy, z,
        |    CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END r1,
        |    CASE WHEN sum(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 OR
        |      sum(CASE WHEN z < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2
        |      THEN 1 ELSE 0 END r2,
        |    CASE WHEN sum(CASE WHEN z > 0.0 THEN 1 ELSE 0 END) OVER w8 = 8 OR
        |      sum(CASE WHEN z < 0.0 THEN 1 ELSE 0 END) OVER w8 = 8
        |      THEN 1 ELSE 0 END r8,
        |    row_number() OVER (ORDER BY dy) rn
        |  FROM z
        |  WINDOW w3 AS (ORDER BY dy ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |    w8 AS (ORDER BY dy ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT dy AS day, round(z, 6) AS z, r1::BIGINT AS r1, r2::BIGINT AS r2,
        |  r8::BIGINT AS r8
        |FROM rules WHERE rn >= 8 ORDER BY day""".stripMargin),
    Query("q394_consistent_hash_migration", q394ConsistentHashMigration, {
      def ring(nodes: Int) =
        "[" + (for (n <- 1 to nodes; v <- 1 to 16) yield
          s"struct_pack(h := ('0x' || substr(md5('ring|$n|$v'), 1, 15))::BIGINT, " +
            s"node := $n)").mkString(", ") + "]"
      def owner(r: String) =
        s"""coalesce(list_min(list_filter($r, p -> p.h >= h)).node,
           |    list_min($r).node)""".stripMargin
      s"""WITH keys AS (SELECT c_custkey,
         |    ${mdHashSql("'key|' || c_custkey")} h FROM customer),
         |assigned AS (SELECT c_custkey,
         |    ${owner(ring(8))} n8,
         |    ${owner(ring(9))} n9
         |  FROM keys)
         |SELECT count(*)::BIGINT AS n_keys,
         |  sum(CASE WHEN n8 <> n9 THEN 1 ELSE 0 END)::BIGINT AS n_moved,
         |  round(sum(CASE WHEN n8 <> n9 THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 6) AS moved_frac,
         |  round(1.0 / 9.0, 6) AS ideal_frac
         |FROM assigned""".stripMargin
    }),
    Query("q395_bucket_carryover", q395BucketCarryover,
      s"""WITH u AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) y
         |  FROM events GROUP BY user_id),
         |asg AS (SELECT
         |    ${mdHashSql("'exp1|' || user_id")} % 2 a1,
         |    ${mdHashSql("'exp2|' || user_id")} % 2 a2, y
         |  FROM u),
         |cells AS (SELECT a1, a2, count(*) n, sum(y) cv FROM asg GROUP BY 1, 2),
         |rr AS (SELECT a1, a2, n, cv::DOUBLE / n::DOUBLE r FROM cells),
         |piv AS (SELECT
         |    max(CASE WHEN a1 = 0 AND a2 = 0 THEN r END) r00,
         |    max(CASE WHEN a1 = 0 AND a2 = 1 THEN r END) r01,
         |    max(CASE WHEN a1 = 1 AND a2 = 0 THEN r END) r10,
         |    max(CASE WHEN a1 = 1 AND a2 = 1 THEN r END) r11,
         |    sum(n) n_users
         |  FROM rr)
         |SELECT n_users::BIGINT AS n_users, round(r00, 6) AS r00,
         |  round(r01, 6) AS r01, round(r10, 6) AS r10, round(r11, 6) AS r11,
         |  round((r11 - r10) - (r01 - r00), 6) AS carryover_interaction
         |FROM piv""".stripMargin))
}
