package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.D9
import graft.functions.TextFunctions.mdHash
import graft.sources.Tables

/** Round-11 wave 33: entropic optimal transport (Sinkhorn), mutual-
  * information feature ranking, AMS F2 sketch audit, and a
  * confident-learning label-noise matrix.
  */
object Curation64 {

  /** q465: two Sinkhorn iterations of entropic optimal transport
    * between the doc-length histograms of two deterministic corpus
    * halves (hash-parity split), on a bounded 8-bucket grid with cost
    * |i-j| and eps = 1. The whole solve is bounded-grid math: ONE
    * corpus aggregation builds both marginals; every u/v update is a
    * join between <=8-row frames (the RDP-accountant convention).
    * The iteration runs in scaled-integer space (×10^9, exact decimal
    * products, floor division), so the fixed-point iterates are
    * bit-identical across engines and partitionings. Readout
    * per bucket: both marginals, the second-iteration scalings, the
    * transport-plan row mass (marginal-violation witness: rows are
    * exactly r after a u-update), and the total transport cost.
    */
  private val q465SinkhornOt: Q = (s, d) => {
    // The whole fixed-point runs in SCALED-INTEGER space (×10^9,
    // DECIMAL(38,0) products, floor division): a first cut quantized
    // each u/v rung through round(double, 9), and one rung landing on a
    // half-boundary (Spark rounds the shortest decimal repr, DuckDB the
    // binary double) amplified through the iteration into a 3e-6
    // total-cost mismatch. Integer floor-division is engine-exact, so
    // the iterates are bit-identical by construction. Readout values
    // come back to DECIMAL(24,9) by dividing the exact scaled integer
    // by 1e9 — a 9-digit lattice point, safe to round.
    val S = 1000000000L
    val D38 = DecimalType(38, 0)
    val hist = Tables.documents(s, d)
      .select(least(lit(7), (col("n_chars") / 64).cast(LongType)).as("b"),
        (mdHash(lit("ot"), col("doc_id")) % 2).as("side"))
      .groupBy("b", "side").agg(count(lit(1)).as("n"))
    // bounded 8-bucket axis so empty buckets still carry mass 0
    val axis = s.range(0, 8).select(col("id").as("b"))
    def marginal(side: Int, out: String): DataFrame = {
      val h = hist.filter(col("side") === side).select(col("b"), col("n"))
      val tot = h.agg(sum(col("n")).as("tot"))
      axis.join(h, Seq("b"), "left").na.fill(0L, Seq("n")).crossJoin(broadcast(tot))
        .withColumn(out, expr(s"(n * ${S}L) div tot"))
        .select(col("b"), col(out))
    }
    val r = marginal(0, "rs")
    val c = marginal(1, "cs")
    // kernel K_ij = round(exp(-|i-j|) * 1e9): the one transcendental,
    // quantized once; the 8 distinct values sit far from .5 fractional
    // parts (checked 0..7), so both engines produce the same integers
    val grid = axis.select(col("b").as("i"))
      .crossJoin(axis.select(col("b").as("j")))
      .withColumn("ks",
        round(exp(-abs(col("i") - col("j")).cast(DoubleType)) * S).cast(LongType))
    // floor division via (num - num % den) / den: decimal %, subtract,
    // and remainder-free divide are all exact in both engines (spark's
    // `div` and duckdb's `//` disagree on decimal operand support)
    def floorDiv(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      ((num - num % den) / den).cast(LongType)
    def uUpdate(v: DataFrame, vCol: String, out: String): DataFrame =
      grid.join(v, col("j") === v("b")).drop("b")
        .groupBy("i").agg(sum(col("ks").cast(D38) * col(vCol)).as("kv"))
        .join(r, col("i") === r("b")).drop("b")
        .select(col("i"), floorDiv(col("rs").cast(D38) * S * S, col("kv")).as(out))
    def vUpdate(u: DataFrame, uCol: String, out: String): DataFrame =
      grid.join(u, col("i") === u("b")).drop("b")
        .groupBy("j").agg(sum(col("ks").cast(D38) * col(uCol)).as("ku"))
        .join(c, col("j") === c("b")).drop("b")
        .select(col("j"), floorDiv(col("cs").cast(D38) * S * S, col("ku")).as(out))
    val v0 = axis.select(col("b"), lit(S).as("v0"))
    val u1 = uUpdate(v0, "v0", "u1").withColumnRenamed("i", "b")
    val v1 = vUpdate(u1, "u1", "v1").withColumnRenamed("j", "b")
    val u2 = uUpdate(v1, "v1", "u2").withColumnRenamed("i", "b")
    val v2 = vUpdate(u2, "u2", "v2").withColumnRenamed("j", "b")
    // P_ij = u2_i K_ij v2_j at scale 1e27; row mass and cost from the
    // exact integer sums, converted to double once at the readout
    val plan = grid
      .join(u2.withColumnRenamed("b", "i"), Seq("i"))
      .join(v2.withColumnRenamed("b", "j"), Seq("j"))
      .withColumn("p", col("u2").cast(D38) * col("ks") * col("v2"))
    val s3 = 1e27
    val cost = plan.agg(
      round(sum(col("p") * abs(col("i") - col("j"))).cast(DoubleType) / s3, 6)
        .as("total_cost"))
    val rowMass = plan.groupBy(col("i").as("b"))
      .agg(round(sum(col("p")).cast(DoubleType) / s3, 6).as("row_mass"))
    // readouts stay DOUBLE (the house output convention): the scaled
    // integer is exact, so /1e9 + round(9) is engine-identical
    def toD9(c: org.apache.spark.sql.Column) =
      round(c.cast(DoubleType) / S, 9)
    r.join(c, Seq("b")).join(u2, Seq("b")).join(v2, Seq("b"))
      .join(rowMass, Seq("b")).crossJoin(broadcast(cost))
      .select(col("b"), toD9(col("rs")).as("r_m"), toD9(col("cs")).as("c_m"),
        toD9(col("u2")).as("u2"), toD9(col("v2")).as("v2"),
        col("row_mass"), col("total_cost"))
      .orderBy("b")
  }

  /** q466: mutual-information feature ranking — the feature-selection
    * readout over five candidate features (two lineitem flags, two
    * bucketized numerics, one joined order priority) against a binary
    * revenue label. All five features melt into ONE (feature, value,
    * label) keyed aggregate (a single shuffle for the whole ranking);
    * MI terms are ln of exact integer-count ratios, quantized to 9
    * decimals and summed as DECIMAL so the score is order-independent.
    */
  private val q466MiRanking: Q = (s, d) => {
    // two-stage joint counting, no wide join: (1) the four
    // lineitem-only features collapse to their bounded grid in ONE
    // map-side-combinable scan (a first cut melted 5 copies of the
    // table — 204 s at sf10; a second cut still joined 75M wide rows
    // against orders just to fetch o_orderpriority — 142 s at sf10);
    // (2) the priority feature pre-aggregates lineitem to narrow
    // (orderkey, y, cnt) rows, joins orders' 16-byte projection, and
    // collapses to (priority, y) — the only shuffle that scales with
    // the corpus ships ~16-byte rows
    val li = Tables.lineitem(s, d)
    val y = (col("l_extendedprice") * (lit(1.0) - col("l_discount")) > 30000.0)
      .cast(IntegerType).as("y")
    val liGrid = li.select(y,
        col("l_returnflag"), col("l_linestatus"),
        floor(col("l_quantity") / 10).cast(LongType).cast("string").as("qty_b"),
        round(col("l_discount") * 100).cast(LongType).cast("string").as("disc_b"))
      .groupBy("y", "l_returnflag", "l_linestatus", "qty_b", "disc_b")
      .agg(count(lit(1)).as("cnt"))
    val liMelted = liGrid.select(col("y"), col("cnt"), explode(map(
      lit("returnflag"), col("l_returnflag"),
      lit("linestatus"), col("l_linestatus"),
      lit("qty_bucket"), col("qty_b"),
      lit("disc_bucket"), col("disc_b"))).as(Seq("feature", "v")))
    val perOrder = li.select(col("l_orderkey"), y)
      .groupBy("l_orderkey", "y").agg(count(lit(1)).as("cnt"))
    val prioMelted = perOrder
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("y"), col("o_orderpriority").as("v"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("y"), col("cnt"), lit("order_priority").as("feature"), col("v"))
    val melted = liMelted.unionByName(prioMelted)
    val joint = melted.groupBy("feature", "v", "y").agg(sum(col("cnt")).as("nxy"))
    val fx = joint.groupBy("feature", "v").agg(sum(col("nxy")).as("nx"))
    val fy = joint.groupBy("feature", "y").agg(sum(col("nxy")).as("ny"))
    // N off the tiny joint frame (any one feature sums to the corpus
    // count) — reading it off liGrid re-ran the whole lineitem scan
    val n = broadcast(joint.filter(col("feature") === "returnflag")
      .agg(sum(col("nxy")).as("n")))
    joint.join(fx, Seq("feature", "v")).join(fy, Seq("feature", "y")).crossJoin(n)
      .withColumn("term", round(
        (col("nxy").cast(DoubleType) / col("n")) *
          log(col("nxy").cast(DoubleType) * col("n") /
            (col("nx") * col("ny"))), 9).cast(D9))
      .groupBy("feature")
      .agg(round(sum(col("term")).cast(DoubleType), 6).as("mi"),
        countDistinct(col("v")).as("n_levels"))
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("mi").desc, col("feature").asc)))
      .select(col("rank"), col("feature"), col("mi"), col("n_levels"))
      .orderBy("rank")
  }

  /** q467: AMS (Alon-Matias-Szegedy) F2 sketch audit — the exact
    * second frequency moment of l_partkey next to the 16-channel AMS
    * estimate (mean of squared signed sums, ±1 signs from seeded md5
    * channels). One keyed count aggregate feeds both sides; the
    * channel fan-out is a bounded ×16 broadcast over the DISTINCT-key
    * frame, never over raw rows. Relative error is the sketch-quality
    * readout a 100 TB join-size estimator is provisioned by.
    */
  private val q467AmsF2: Q = (s, d) => {
    val counts = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c"))
    val exact = counts.agg(sum(col("c") * col("c")).as("f2_exact"))
    val chans = broadcast(s.range(0, 16).select(col("id").as("ch")))
    val ams = counts.crossJoin(chans)
      .select(col("ch"),
        ((lit(1L) - lit(2L) * (mdHash(concat(lit("ams"), col("ch")), col("k")) % 2))
          * col("c")).as("sc"))
      .groupBy("ch").agg(sum(col("sc")).as("sm"))
      // long sum -> double BEFORE dividing: both engines convert the same
      // exact integer to the same double, so /16.0 is bit-identical
      // (integer-division casts diverge: Spark truncates, DuckDB rounds)
      .agg((sum(col("sm") * col("sm")).cast(DoubleType) / 16.0).as("f2_ams"))
    exact.crossJoin(broadcast(ams))
      .select(col("f2_exact"), col("f2_ams"),
        round(abs(col("f2_ams") - col("f2_exact").cast(DoubleType)) /
          col("f2_exact"), 6).as("rel_err"))
  }

  /** q468: confident-learning label-noise matrix (Northcutt's
    * confident joint) — synthetic noisy labels over orders (two seeded
    * 1-in-20 cyclic-flip channels on o_orderstatus) plus deterministic
    * calibrated-ish class scores; per-class thresholds t_j are the
    * DECIMAL-exact mean predicted prob among examples noisy-labeled j
    * (3-row broadcast), and C[i][j] counts examples whose qualifying
    * argmax class is j. Readout: the estimated noise matrix next to
    * the TRUE flip rates the channels injected — the audit that says
    * whether label cleaning can be trusted before pruning 100 TB of
    * training pairs. Two keyed aggregates, one broadcast, no wide ops.
    */
  private val q468ConfidentLearning: Q = (s, d) => {
    val classes = Seq("F", "O", "P")
    val nxt = map(lit("F"), lit("O"), lit("O"), lit("P"), lit("P"), lit("F"))
    val prv = map(lit("F"), lit("P"), lit("O"), lit("F"), lit("P"), lit("O"))
    // spread the single-row-group orders scan: the md5-prob kernel
    // otherwise runs as three 1-2 s single-task stages (Kernels.fanOut)
    val base0 = graft.operators.Kernels.fanOut(Tables.orders(s, d)
      .select(col("o_orderkey").as("id"), col("o_orderstatus").as("t")))
      .withColumn("h", mdHash(lit("cl1"), col("id")) % 20)
      .withColumn("noisy",
        when(col("h") === 0, element_at(nxt, col("t")))
          .when(col("h") === 1, element_at(prv, col("t")))
          .otherwise(col("t")))
    // deterministic scores: 4 for the true class + 1 base + hash jitter
    val scored = classes.foldLeft(base0) { (df, j) =>
      df.withColumn(s"s_$j",
        (when(col("t") === j, lit(5L)).otherwise(lit(1L)) * 100 +
          mdHash(concat(lit("cl2"), lit(j)), col("id")) % 100).cast(DoubleType))
    }.withColumn("tot", col("s_F") + col("s_O") + col("s_P"))
    val probs = classes.foldLeft(scored) { (df, j) =>
      df.withColumn(s"p_$j", round(col(s"s_$j") / col("tot"), 9).cast(D9))
    }.select(col("id") +: col("t") +: col("noisy") +:
      classes.map(j => col(s"p_$j")): _*)
    // thresholds quantize to the same DECIMAL(24,9) lattice as the probs:
    // decimal-exact sum -> double -> /count -> round(9), identical in both
    // engines (raw decimal/long division takes engine-specific scales)
    val thr = broadcast(probs.groupBy("noisy").agg(
      round(sum(col("p_F")).cast(DoubleType) / count(lit(1)), 9).cast(D9).as("m_F"),
      round(sum(col("p_O")).cast(DoubleType) / count(lit(1)), 9).cast(D9).as("m_O"),
      round(sum(col("p_P")).cast(DoubleType) / count(lit(1)), 9).cast(D9).as("m_P"))
      .groupBy()
      .agg(max(when(col("noisy") === "F", col("m_F"))).as("t_F"),
        max(when(col("noisy") === "O", col("m_O"))).as("t_O"),
        max(when(col("noisy") === "P", col("m_P"))).as("t_P")))
    val chosen = probs.crossJoin(thr)
      .withColumn("qF", col("p_F") >= col("t_F"))
      .withColumn("qO", col("p_O") >= col("t_O"))
      .withColumn("qP", col("p_P") >= col("t_P"))
      .withColumn("j",
        when(col("qF") && (!col("qO") || col("p_F") >= col("p_O")) &&
          (!col("qP") || col("p_F") >= col("p_P")), lit("F"))
          .when(col("qO") && (!col("qP") || col("p_O") >= col("p_P")), lit("O"))
          .when(col("qP"), lit("P")))
      .filter(col("j").isNotNull)
    val cj = chosen.groupBy(col("noisy").as("i"), col("j"))
      .agg(count(lit(1)).as("c_ij"))
    val rowTot = cj.groupBy("i").agg(sum(col("c_ij")).as("ri"))
    val trueRates = base0.groupBy(col("noisy").as("i"), col("t").as("j"))
      .agg(count(lit(1)).as("n_truth"))
    cj.join(rowTot, Seq("i")).join(trueRates, Seq("i", "j"), "left")
      .na.fill(0L, Seq("n_truth"))
      .select(col("i"), col("j"), col("c_ij"),
        round(col("c_ij").cast(DoubleType) / col("ri"), 6).as("est_rate"),
        col("n_truth"))
      .orderBy("i", "j")
  }

  val queries: Seq[Query] = Seq(
    Query("q465_sinkhorn_ot", q465SinkhornOt,
      """WITH hist AS (SELECT least(7, n_chars // 64) b,
        |    ('0x' || substr(md5('ot|' || doc_id::VARCHAR), 1, 15))::BIGINT % 2 side,
        |    count(*) n FROM documents GROUP BY 1, 2),
        |axis AS (SELECT unnest(generate_series(0, 7)) b),
        |r AS (SELECT a.b, (coalesce(h.n, 0)::HUGEINT * 1000000000)
        |    // (SELECT sum(n) FROM hist WHERE side = 0)::HUGEINT rs
        |  FROM axis a LEFT JOIN (SELECT b, n FROM hist WHERE side = 0) h
        |    ON a.b = h.b),
        |c AS (SELECT a.b, (coalesce(h.n, 0)::HUGEINT * 1000000000)
        |    // (SELECT sum(n) FROM hist WHERE side = 1)::HUGEINT cs
        |  FROM axis a LEFT JOIN (SELECT b, n FROM hist WHERE side = 1) h
        |    ON a.b = h.b),
        |grid AS (SELECT i.b i, j.b j,
        |    CAST(round(exp(-abs(i.b - j.b)::DOUBLE) * 1000000000) AS BIGINT) ks
        |  FROM axis i, axis j),
        |u1 AS (SELECT g.i b, (r.rs * 1000000000::HUGEINT * 1000000000)
        |    // sum(g.ks::HUGEINT * 1000000000) u1
        |  FROM grid g JOIN r ON g.i = r.b GROUP BY g.i, r.rs),
        |v1 AS (SELECT g.j b, (c.cs * 1000000000::HUGEINT * 1000000000)
        |    // sum(g.ks::HUGEINT * u1.u1) v1
        |  FROM grid g JOIN u1 ON g.i = u1.b JOIN c ON g.j = c.b
        |  GROUP BY g.j, c.cs),
        |u2 AS (SELECT g.i b, (r.rs * 1000000000::HUGEINT * 1000000000)
        |    // sum(g.ks::HUGEINT * v1.v1) u2
        |  FROM grid g JOIN v1 ON g.j = v1.b JOIN r ON g.i = r.b
        |  GROUP BY g.i, r.rs),
        |v2 AS (SELECT g.j b, (c.cs * 1000000000::HUGEINT * 1000000000)
        |    // sum(g.ks::HUGEINT * u2.u2) v2
        |  FROM grid g JOIN u2 ON g.i = u2.b JOIN c ON g.j = c.b
        |  GROUP BY g.j, c.cs),
        |plan AS (SELECT g.i, g.j, u2.u2 * g.ks::HUGEINT * v2.v2 p
        |  FROM grid g JOIN u2 ON g.i = u2.b JOIN v2 ON g.j = v2.b),
        |cost AS (SELECT round(sum(p * abs(i - j))::DOUBLE / 1e27, 6) total_cost
        |  FROM plan),
        |rm AS (SELECT i b, round(sum(p)::DOUBLE / 1e27, 6) row_mass
        |  FROM plan GROUP BY i)
        |SELECT r.b,
        |  round(r.rs::DOUBLE / 1000000000, 9) r_m,
        |  round(c.cs::DOUBLE / 1000000000, 9) c_m,
        |  round(u2.u2::DOUBLE / 1000000000, 9) u2,
        |  round(v2.v2::DOUBLE / 1000000000, 9) v2,
        |  rm.row_mass, cost.total_cost
        |FROM r JOIN c ON r.b = c.b JOIN u2 ON r.b = u2.b JOIN v2 ON r.b = v2.b
        |  JOIN rm ON r.b = rm.b, cost ORDER BY r.b""".stripMargin),
    Query("q466_mi_ranking", q466MiRanking,
      """WITH base AS (SELECT
        |    CASE WHEN l_extendedprice * (1.0 - l_discount) > 30000.0
        |      THEN 1 ELSE 0 END y,
        |    l_returnflag, l_linestatus,
        |    CAST(CAST(floor(l_quantity / 10) AS BIGINT) AS VARCHAR) qty_b,
        |    CAST(CAST(round(l_discount * 100, 0) AS BIGINT) AS VARCHAR) disc_b,
        |    o_orderpriority
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |melted AS (
        |  SELECT 'returnflag' feature, l_returnflag v, y FROM base UNION ALL
        |  SELECT 'linestatus', l_linestatus, y FROM base UNION ALL
        |  SELECT 'qty_bucket', qty_b, y FROM base UNION ALL
        |  SELECT 'disc_bucket', disc_b, y FROM base UNION ALL
        |  SELECT 'order_priority', o_orderpriority, y FROM base),
        |joint AS (SELECT feature, v, y, count(*) nxy FROM melted
        |  GROUP BY feature, v, y),
        |fx AS (SELECT feature, v, sum(nxy) nx FROM joint GROUP BY feature, v),
        |fy AS (SELECT feature, y, sum(nxy) ny FROM joint GROUP BY feature, y),
        |n AS (SELECT count(*) n FROM base),
        |mi AS (SELECT feature,
        |    round(CAST(sum(CAST(round((nxy::DOUBLE / n.n) *
        |      ln(nxy::DOUBLE * n.n / (nx * ny)), 9) AS DECIMAL(24,9)))
        |      AS DOUBLE), 6) mi,
        |    count(DISTINCT v) n_levels
        |  FROM joint JOIN fx USING (feature, v) JOIN fy USING (feature, y), n
        |  GROUP BY feature)
        |SELECT row_number() OVER (ORDER BY mi DESC, feature ASC) rank,
        |  feature, mi, n_levels
        |FROM mi ORDER BY rank""".stripMargin),
    Query("q467_ams_f2", q467AmsF2,
      """WITH counts AS (SELECT l_partkey k, count(*) c FROM lineitem GROUP BY 1),
        |exact AS (SELECT sum(c * c) f2_exact FROM counts),
        |chans AS (SELECT unnest(generate_series(0, 15)) ch),
        |sums AS (SELECT ch, sum((1 - 2 * (('0x' || substr(md5('ams'
        |      || ch::VARCHAR || '|' || k::VARCHAR), 1, 15))::BIGINT % 2)) * c) sm
        |  FROM counts, chans GROUP BY ch),
        |ams AS (SELECT sum(sm * sm)::DOUBLE / 16.0 f2_ams FROM sums)
        |SELECT f2_exact::BIGINT AS f2_exact, f2_ams,
        |  round(abs(f2_ams - f2_exact::DOUBLE) / f2_exact, 6) AS rel_err
        |FROM exact, ams""".stripMargin),
    Query("q468_confident_learning", q468ConfidentLearning,
      """WITH base0 AS (SELECT o_orderkey id, o_orderstatus t,
        |    ('0x' || substr(md5('cl1|' || o_orderkey::VARCHAR), 1, 15))::BIGINT
        |      % 20 h
        |  FROM orders),
        |noisy AS (SELECT id, t,
        |    CASE WHEN h = 0 THEN CASE t WHEN 'F' THEN 'O' WHEN 'O' THEN 'P'
        |        ELSE 'F' END
        |      WHEN h = 1 THEN CASE t WHEN 'F' THEN 'P' WHEN 'O' THEN 'F'
        |        ELSE 'O' END
        |      ELSE t END noisy
        |  FROM base0),
        |probs AS (SELECT id, t, noisy,
        |    CAST(round(s_f / tot, 9) AS DECIMAL(24,9)) p_f,
        |    CAST(round(s_o / tot, 9) AS DECIMAL(24,9)) p_o,
        |    CAST(round(s_p / tot, 9) AS DECIMAL(24,9)) p_p
        |  FROM (SELECT *, s_f + s_o + s_p tot FROM (SELECT id, t, noisy,
        |    ((CASE WHEN t = 'F' THEN 5 ELSE 1 END) * 100 + ('0x' ||
        |      substr(md5('cl2F|' || id::VARCHAR), 1, 15))::BIGINT % 100)::DOUBLE s_f,
        |    ((CASE WHEN t = 'O' THEN 5 ELSE 1 END) * 100 + ('0x' ||
        |      substr(md5('cl2O|' || id::VARCHAR), 1, 15))::BIGINT % 100)::DOUBLE s_o,
        |    ((CASE WHEN t = 'P' THEN 5 ELSE 1 END) * 100 + ('0x' ||
        |      substr(md5('cl2P|' || id::VARCHAR), 1, 15))::BIGINT % 100)::DOUBLE s_p
        |  FROM noisy))),
        |thr AS (SELECT
        |    max(CASE WHEN noisy = 'F' THEN m_f END) t_f,
        |    max(CASE WHEN noisy = 'O' THEN m_o END) t_o,
        |    max(CASE WHEN noisy = 'P' THEN m_p END) t_p
        |  FROM (SELECT noisy,
        |      CAST(round(sum(p_f)::DOUBLE / count(*), 9) AS DECIMAL(24,9)) m_f,
        |      CAST(round(sum(p_o)::DOUBLE / count(*), 9) AS DECIMAL(24,9)) m_o,
        |      CAST(round(sum(p_p)::DOUBLE / count(*), 9) AS DECIMAL(24,9)) m_p
        |    FROM probs GROUP BY noisy)),
        |chosen AS (SELECT id, t, noisy,
        |    CASE WHEN p_f >= t_f AND (NOT p_o >= t_o OR p_f >= p_o)
        |        AND (NOT p_p >= t_p OR p_f >= p_p) THEN 'F'
        |      WHEN p_o >= t_o AND (NOT p_p >= t_p OR p_o >= p_p) THEN 'O'
        |      WHEN p_p >= t_p THEN 'P' END j
        |  FROM probs, thr),
        |cj AS (SELECT noisy i, j, count(*) c_ij FROM chosen WHERE j IS NOT NULL
        |  GROUP BY noisy, j),
        |rt AS (SELECT i, sum(c_ij) ri FROM cj GROUP BY i),
        |truth AS (SELECT noisy i, t j, count(*) n_truth FROM noisy GROUP BY 1, 2)
        |SELECT cj.i, cj.j, cj.c_ij,
        |  round(cj.c_ij::DOUBLE / rt.ri, 6) AS est_rate,
        |  coalesce(truth.n_truth, 0) AS n_truth
        |FROM cj JOIN rt ON cj.i = rt.i
        |  LEFT JOIN truth ON cj.i = truth.i AND cj.j = truth.j
        |ORDER BY cj.i, cj.j""".stripMargin))
}
