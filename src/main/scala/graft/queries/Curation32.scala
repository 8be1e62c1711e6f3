package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 2: causal-inference and representation-analysis
  * readouts — randomization (permutation) test, difference-in-
  * differences, propensity-score nearest-neighbor matching, the
  * Nelson–Aalen cumulative hazard, and linear CKA between two
  * embedding views.
  */
object Curation32 {

  /** q329: randomization test for the A/B mean difference — the
    * distribution-free companion to q244's t-statistic readout. 200
    * deterministic pseudo-assignments (md5(user:perm) parity — seeded
    * hash, no RNG state, identical in the oracle) re-split users;
    * the p-value is the add-one-smoothed share of permutations whose
    * |mean diff| reaches the observed one. One pass builds the
    * per-user sums; the 200-way explode is over USERS (not events),
    * and every aggregate is keyed by permutation id — map-side
    * combine does the heavy lifting at scale.
    */
  private val q329PermutationTest: Q = (s, d) => {
    val users = Tables.events(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value"), 2).cast(DecimalType(18, 2))).as("sv"))
    def diff(df: DataFrame, side: org.apache.spark.sql.Column, keys: Seq[String]) = {
      val g = if (keys.isEmpty) df.withColumn("side", side).groupBy()
        else df.withColumn("side", side).groupBy(keys.map(col): _*)
      // nullif guards: a degenerate permutation (all users one side —
      // possible at tiny SF) yields a null diff that counts as
      // not-extreme, identically in both engines
      g.agg(
        (sum(when(col("side") === 1, col("sv")).otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast(DoubleType) /
          nullif(sum(when(col("side") === 1, col("n")).otherwise(lit(0L))), lit(0L))
            .cast(DoubleType) -
          sum(when(col("side") === 0, col("sv")).otherwise(lit(0).cast(DecimalType(18, 2))))
            .cast(DoubleType) /
          nullif(sum(when(col("side") === 0, col("n")).otherwise(lit(0L))), lit(0L))
            .cast(DoubleType))
          .as("diff"))
    }
    val obs = diff(users, col("user_id") % 2, Seq.empty)
      .select(col("diff").as("obs"))
    val perms = users.withColumn("p", explode(sequence(lit(0), lit(199))))
    val permDiffs = diff(perms,
      mdHash(concat_ws(":", col("user_id"), col("p"))) % 2, Seq("p"))
    permDiffs.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perms"),
        sum(when(abs(col("diff")) >= abs(col("obs")), 1L).otherwise(0L)).as("n_extreme"),
        round(min(col("obs")), 6).as("obs_diff"))
      .select(col("n_perms"), col("n_extreme"), col("obs_diff"),
        round((col("n_extreme") + lit(1)).cast(DoubleType) /
          (col("n_perms") + lit(1)).cast(DoubleType), 6).as("p_value"))
  }

  /** q330: difference-in-differences — group = user parity, period =
    * the q222 mid-month split; the DiD estimate is (treated post−pre)
    * minus (control post−pre) on per-event means. One conditional-
    * aggregation scan, decimal sums for cross-engine parity.
    */
  private val q330DiffInDiff: Q = (s, d) => {
    val mid = lit("2024-01-16").cast("timestamp")
    def cell(g: Int, post: Boolean) = {
      val m = col("user_id") % 2 === g &&
        (if (post) col("ts") >= mid else col("ts") < mid)
      sum(when(m, round(col("value"), 2).cast(DecimalType(18, 2)))
        .otherwise(lit(0).cast(DecimalType(18, 2)))).cast(DoubleType) /
        sum(when(m, 1L).otherwise(0L)).cast(DoubleType)
    }
    Tables.events(s, d)
      .agg(cell(0, post = false).as("m_c_pre"), cell(0, post = true).as("m_c_post"),
        cell(1, post = false).as("m_t_pre"), cell(1, post = true).as("m_t_post"))
      .select(round(col("m_c_pre"), 6).as("m_c_pre"),
        round(col("m_c_post"), 6).as("m_c_post"),
        round(col("m_t_pre"), 6).as("m_t_pre"),
        round(col("m_t_post"), 6).as("m_t_post"),
        round((col("m_t_post") - col("m_t_pre")) - (col("m_c_post") - col("m_c_pre")), 6)
          .as("did"))
  }

  /** q331: propensity-score 1-NN matching with a caliper — the ATT
    * estimation step of an observational study. Score is a pure-
    * arithmetic softsign link (no exp — bit-identical across engines);
    * outcome is the customer's order total. Nearest control by score
    * is a 1-D as-of problem: controls claim their score bucket ±1
    * (bucket width = caliper, so every in-caliper control is visible),
    * and inside each bucket one ordered window finds the last control
    * at-or-below and first control above each treated unit — the
    * nearest is one of the two. No pairwise join ever materializes;
    * per-bucket sort is the only super-linear term (production knob:
    * shrink the width and widen claims to cap bucket population, as
    * the entity-resolution target-size blocking does).
    */
  private val q331PropensityMatch: Q = (s, d) => {
    val cal = 0.02
    val y = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice"), 2).cast(DecimalType(18, 2))).as("ysum"))
    val cust = Tables.customer(s, d)
      .join(y, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey").as("id"), (col("c_custkey") % 2 === 1).as("treated"),
        coalesce(col("ysum"), lit(0).cast(DecimalType(18, 2))).cast(DoubleType).as("y"),
        ((col("c_acctbal") - lit(5000.0)) / lit(2000.0)).as("b"))
      .withColumn("sc", lit(0.5) + col("b") / (lit(2.0) * (lit(1.0) + abs(col("b")))))
      .withColumn("bkt", floor(col("sc") / lit(cal)).cast(LongType))
    val treatedRows = cust.filter(col("treated"))
      .select(col("bkt"), col("sc"), col("id"), col("y"), lit(false).as("is_ctrl"))
    val ctrlClaims = cust.filter(!col("treated"))
      .withColumn("bkt", explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
      .select(col("bkt"), col("sc"), col("id"), col("y"), lit(true).as("is_ctrl"))
    // controls sort before treated at equal score (is_ctrl DESC) so a
    // zero-distance match is visible as "back"; id breaks exact ties.
    // Both lookups are RUNNING frames: the forward one runs over the
    // exact reverse ordering, because Spark's unbounded-FOLLOWING frame
    // rescans to the partition end per row (O(n²) per bucket — measured
    // 33 s at sf1 before this rewrite, 2 s after).
    val w = Window.partitionBy("bkt")
      .orderBy(col("sc"), col("is_ctrl").desc, col("id"))
    val wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wfRev = Window.partitionBy("bkt")
      .orderBy(col("sc").desc, col("is_ctrl").asc, col("id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = treatedRows.unionByName(ctrlClaims)
      .withColumn("bs", last(when(col("is_ctrl"), col("sc")), ignoreNulls = true).over(wb))
      .withColumn("by", last(when(col("is_ctrl"), col("y")), ignoreNulls = true).over(wb))
      .withColumn("fs", last(when(col("is_ctrl"), col("sc")), ignoreNulls = true).over(wfRev))
      .withColumn("fy", last(when(col("is_ctrl"), col("y")), ignoreNulls = true).over(wfRev))
      .filter(!col("is_ctrl"))
      .withColumn("db", when(col("bs").isNotNull && col("sc") - col("bs") <= cal,
        col("sc") - col("bs")))
      .withColumn("df", when(col("fs").isNotNull && col("fs") - col("sc") <= cal,
        col("fs") - col("sc")))
      .withColumn("dir", when(col("db").isNotNull &&
          col("db") <= coalesce(col("df"), lit(Double.MaxValue)), "back")
        .when(col("df").isNotNull, "fwd"))
      .withColumn("cy", when(col("dir") === "back", col("by"))
        .when(col("dir") === "fwd", col("fy")))
    m.agg(count(lit(1)).as("n_treated"),
      sum(when(col("dir").isNotNull, 1L).otherwise(0L)).as("n_matched"),
      sum(when(col("dir") === "back", 1L).otherwise(0L)).as("n_back"),
      sum(when(col("dir") === "fwd", 1L).otherwise(0L)).as("n_fwd"),
      round(sum(when(col("dir").isNotNull,
          (col("y") - col("cy")).cast(DecimalType(20, 6)))).cast(DoubleType) /
        sum(when(col("dir").isNotNull, 1L).otherwise(0L)).cast(DoubleType), 6).as("att"))
  }

  /** q332: Nelson–Aalen cumulative hazard over the q221 survival frame
    * (signup → first error, right-censored at the corpus horizon):
    * H(t) = Σ_{t_i ≤ t} d_i/n_i — the estimator of choice when the
    * hazard, not the survival curve, is the readout. Same keyed
    * at-risk join as Kaplan–Meier; the cumulative sum runs over the
    * bounded distinct-duration domain.
    */
  private val q332NelsonAalen: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val t0 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("ue"), col("ts").as("te"))
    val firstErr = t0
      .join(err, col("ue") === col("user_id") && col("te") > col("t0"), "left")
      .groupBy(col("user_id"), col("t0")).agg(min(col("te")).as("te"))
    val mx = ev.agg(max(col("ts")).as("tmax"))
    val du = firstErr.crossJoin(broadcast(mx)).select(
      when(col("te").isNotNull, 1).otherwise(0).as("ev"),
      when(col("te").isNotNull, datediff(to_date(col("te")), to_date(col("t0"))))
        .otherwise(datediff(to_date(col("tmax")), to_date(col("t0")))).as("dur"))
    val times = du.filter(col("ev") === 1)
      .groupBy(col("dur").as("t")).agg(count(lit(1)).as("d"))
    val risk = du.join(broadcast(times.select(col("t"))), col("dur") >= col("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    times.join(risk, "t")
      .withColumn("h", round(col("d").cast(DoubleType) / col("n").cast(DoubleType), 9))
      .withColumn("cum_hazard",
        round(sum(col("h").cast(DecimalType(20, 9))).over(w).cast(DoubleType), 6))
      .select(col("t").cast(LongType).as("t"), col("d").as("n_events"),
        col("n").as("n_risk"), col("cum_hazard"))
      .orderBy("t")
  }

  /** q333: linear CKA between the embedding matrix (first 16 coords)
    * and a deterministic second "view" (shifted, sign-flipped, leaky
    * mix) — the does-my-new-embedding-version-preserve-geometry
    * readout. All three Gram Frobenius norms reduce to keyed
    * (i, j)-cell aggregates of per-vector coordinate products — the
    * classic map-side-combine gram computation; nothing pairwise in
    * the vector dimension, nothing on the driver.
    */
  private val q333CkaLinear: Q = (s, d) => {
    val dims = 16
    // spread the single-row-group embedding scan: the in-row 768-product
    // Gram expansion otherwise runs as one task (Kernels.fanOut)
    val e = graft.operators.Kernels.fanOut(Tables.embeddings(s, d).select(col("vec_id"),
      slice(col("embedding").cast("array<double>"), 1, dims).as("v")))
    val withY = e.withColumn("yv", transform(sequence(lit(0), lit(dims - 1)),
      j => when(j % 3 === 0, lit(-1.0)).otherwise(lit(1.0)) *
        element_at(col("v"), ((j + lit(5)) % dims) + 1) +
        lit(0.25) * element_at(col("v"), j + 1)))
    // per-view means are a bounded 2×16-double model contract; the three
    // Gram matrices then come from an IN-ROW 768-product expansion per
    // vector (k = mat·256 + i·16 + j) whose groupBy is map-side combined
    // to 768 rows per partition — no vec_id self-join ever shuffles the
    // exploded coordinates (the join formulation measured 3.1 s at sf1;
    // this one ~1 s)
    val ms = withY.select(posexplode(concat(col("v"), col("yv"))).as(Seq("i", "x")))
      .groupBy("i").agg((sum(col("x").cast(DecimalType(30, 12)))
        .cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("m"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    val mx = array(ms.take(dims).map(lit): _*)
    val my = array(ms.drop(dims).map(lit): _*)
    val cells = withY
      .withColumn("xc", zip_with(col("v"), mx, (x, m) => x - m))
      .withColumn("yc", zip_with(col("yv"), my, (y, m) => y - m))
      .select(posexplode(concat(
        flatten(transform(col("xc"), a => transform(col("xc"), b => a * b))),
        flatten(transform(col("yc"), a => transform(col("yc"), b => a * b))),
        flatten(transform(col("xc"), a => transform(col("yc"), b => a * b)))))
        .as(Seq("k", "p")))
      .groupBy("k")
      .agg(sum(col("p").cast(DecimalType(30, 12))).cast(DoubleType).as("s"))
    val f2 = cells
      .groupBy((col("k") / (dims * dims)).cast("int").as("mat"))
      .agg(sum((col("s") * col("s")).cast(DecimalType(38, 6)))
        .cast(DoubleType).as("f2"))
    f2.agg(
        sum(when(col("mat") === 2, col("f2"))).as("fxy"),
        sum(when(col("mat") === 0, col("f2"))).as("fxx"),
        sum(when(col("mat") === 1, col("f2"))).as("fyy"))
      .select(round(col("fxy") / (sqrt(col("fxx")) * sqrt(col("fyy"))), 6).as("cka"),
        round(col("fxy"), 2).as("hsic_xy"))
  }

  val queries: Seq[Query] = Seq(
    Query("q329_permutation_test", q329PermutationTest,
      s"""WITH u AS (SELECT user_id, count(*) n,
         |    sum(round(value, 2)::DECIMAL(18,2)) sv
         |  FROM events GROUP BY user_id),
         |obs AS (SELECT
         |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN sv ELSE 0::DECIMAL(18,2) END)
         |      AS DOUBLE) /
         |      nullif(sum(CASE WHEN user_id % 2 = 1 THEN n ELSE 0 END), 0)::DOUBLE -
         |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN sv ELSE 0::DECIMAL(18,2) END)
         |      AS DOUBLE) /
         |      nullif(sum(CASE WHEN user_id % 2 = 0 THEN n ELSE 0 END), 0)::DOUBLE obs
         |  FROM u),
         |pm AS (SELECT p, ${mdHashSql("user_id::VARCHAR || ':' || p::VARCHAR")} % 2 side,
         |    n, sv FROM u CROSS JOIN range(0, 200) t(p)),
         |pd AS (SELECT p,
         |    CAST(sum(CASE WHEN side = 1 THEN sv ELSE 0::DECIMAL(18,2) END) AS DOUBLE) /
         |      nullif(sum(CASE WHEN side = 1 THEN n ELSE 0 END), 0)::DOUBLE -
         |    CAST(sum(CASE WHEN side = 0 THEN sv ELSE 0::DECIMAL(18,2) END) AS DOUBLE) /
         |      nullif(sum(CASE WHEN side = 0 THEN n ELSE 0 END), 0)::DOUBLE diff
         |  FROM pm GROUP BY p)
         |SELECT count(*) AS n_perms,
         |  sum(CASE WHEN abs(diff) >= abs(obs) THEN 1 ELSE 0 END)::BIGINT AS n_extreme,
         |  round(min(obs), 6) AS obs_diff,
         |  round((sum(CASE WHEN abs(diff) >= abs(obs) THEN 1 ELSE 0 END) + 1)::DOUBLE /
         |    (count(*) + 1)::DOUBLE, 6) AS p_value
         |FROM pd CROSS JOIN obs""".stripMargin),
    Query("q330_diff_in_diff", q330DiffInDiff,
      """WITH c AS (SELECT
        |  CAST(sum(CASE WHEN user_id % 2 = 0 AND ts < TIMESTAMP '2024-01-16'
        |    THEN round(value, 2)::DECIMAL(18,2) ELSE 0::DECIMAL(18,2) END) AS DOUBLE) /
        |    sum(CASE WHEN user_id % 2 = 0 AND ts < TIMESTAMP '2024-01-16'
        |      THEN 1 ELSE 0 END)::DOUBLE m_c_pre,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 AND ts >= TIMESTAMP '2024-01-16'
        |    THEN round(value, 2)::DECIMAL(18,2) ELSE 0::DECIMAL(18,2) END) AS DOUBLE) /
        |    sum(CASE WHEN user_id % 2 = 0 AND ts >= TIMESTAMP '2024-01-16'
        |      THEN 1 ELSE 0 END)::DOUBLE m_c_post,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 AND ts < TIMESTAMP '2024-01-16'
        |    THEN round(value, 2)::DECIMAL(18,2) ELSE 0::DECIMAL(18,2) END) AS DOUBLE) /
        |    sum(CASE WHEN user_id % 2 = 1 AND ts < TIMESTAMP '2024-01-16'
        |      THEN 1 ELSE 0 END)::DOUBLE m_t_pre,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 AND ts >= TIMESTAMP '2024-01-16'
        |    THEN round(value, 2)::DECIMAL(18,2) ELSE 0::DECIMAL(18,2) END) AS DOUBLE) /
        |    sum(CASE WHEN user_id % 2 = 1 AND ts >= TIMESTAMP '2024-01-16'
        |      THEN 1 ELSE 0 END)::DOUBLE m_t_post
        |  FROM events)
        |SELECT round(m_c_pre, 6) AS m_c_pre, round(m_c_post, 6) AS m_c_post,
        |  round(m_t_pre, 6) AS m_t_pre, round(m_t_post, 6) AS m_t_post,
        |  round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did
        |FROM c""".stripMargin),
    Query("q331_propensity_match", q331PropensityMatch,
      """WITH y AS (SELECT o_custkey, sum(round(o_totalprice, 2)::DECIMAL(18,2)) ysum
        |  FROM orders GROUP BY o_custkey),
        |cust AS (SELECT c_custkey id, c_custkey % 2 = 1 treated,
        |    CAST(coalesce(ysum, 0::DECIMAL(18,2)) AS DOUBLE) y,
        |    0.5 + ((c_acctbal - 5000.0) / 2000.0) /
        |      (2.0 * (1.0 + abs((c_acctbal - 5000.0) / 2000.0))) sc
        |  FROM customer LEFT JOIN y ON c_custkey = o_custkey),
        |cb AS (SELECT *, floor(sc / 0.02)::BIGINT bkt FROM cust),
        |t AS (SELECT bkt, sc, id, y, FALSE is_ctrl FROM cb WHERE treated),
        |c AS (SELECT bkt + o.o bkt, sc, id, y, TRUE is_ctrl
        |  FROM cb CROSS JOIN (SELECT unnest([-1, 0, 1]) o) o WHERE NOT treated),
        |u AS (SELECT * FROM t UNION ALL SELECT * FROM c),
        |win AS (SELECT *,
        |    last_value(CASE WHEN is_ctrl THEN sc END IGNORE NULLS) OVER
        |      (PARTITION BY bkt ORDER BY sc, is_ctrl DESC, id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) bs,
        |    last_value(CASE WHEN is_ctrl THEN y END IGNORE NULLS) OVER
        |      (PARTITION BY bkt ORDER BY sc, is_ctrl DESC, id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) bly,
        |    first_value(CASE WHEN is_ctrl THEN sc END IGNORE NULLS) OVER
        |      (PARTITION BY bkt ORDER BY sc, is_ctrl DESC, id
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) fs,
        |    first_value(CASE WHEN is_ctrl THEN y END IGNORE NULLS) OVER
        |      (PARTITION BY bkt ORDER BY sc, is_ctrl DESC, id
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) fy
        |  FROM u),
        |m AS (SELECT *,
        |    CASE WHEN bs IS NOT NULL AND sc - bs <= 0.02 THEN sc - bs END db,
        |    CASE WHEN fs IS NOT NULL AND fs - sc <= 0.02 THEN fs - sc END df
        |  FROM win WHERE NOT is_ctrl),
        |dird AS (SELECT *,
        |    CASE WHEN db IS NOT NULL AND db <= coalesce(df, 1e308) THEN 'back'
        |         WHEN df IS NOT NULL THEN 'fwd' END dir
        |  FROM m),
        |fin AS (SELECT *,
        |    CASE WHEN dir = 'back' THEN bly WHEN dir = 'fwd' THEN fy END cy
        |  FROM dird)
        |SELECT count(*) AS n_treated,
        |  sum(CASE WHEN dir IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_matched,
        |  sum(CASE WHEN dir = 'back' THEN 1 ELSE 0 END)::BIGINT AS n_back,
        |  sum(CASE WHEN dir = 'fwd' THEN 1 ELSE 0 END)::BIGINT AS n_fwd,
        |  round(CAST(sum(CASE WHEN dir IS NOT NULL
        |      THEN CAST(y - cy AS DECIMAL(20,6)) END) AS DOUBLE) /
        |    sum(CASE WHEN dir IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE, 6) AS att
        |FROM fin""".stripMargin),
    Query("q332_nelson_aalen", q332NelsonAalen,
      """WITH t0 AS (SELECT user_id, min(ts) t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |fe AS (SELECT t0.user_id, t0.t0, min(e.ts) te FROM t0 LEFT JOIN events e
        |  ON e.user_id = t0.user_id AND e.event_type = 'error' AND e.ts > t0.t0
        |  GROUP BY t0.user_id, t0.t0),
        |mx AS (SELECT max(ts) tmax FROM events),
        |du AS (SELECT CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END ev,
        |    CASE WHEN te IS NOT NULL
        |      THEN date_diff('day', CAST(t0 AS DATE), CAST(te AS DATE))
        |      ELSE date_diff('day', CAST(t0 AS DATE), CAST(tmax AS DATE)) END dur
        |  FROM fe, mx),
        |tm AS (SELECT dur t, count(*) d FROM du WHERE ev = 1 GROUP BY dur),
        |rk AS (SELECT tm.t, count(*) n FROM du JOIN tm ON du.dur >= tm.t GROUP BY tm.t),
        |na AS (SELECT tm.t, d, n, round(d::DOUBLE / n::DOUBLE, 9) h
        |  FROM tm JOIN rk USING (t))
        |SELECT CAST(t AS BIGINT) t, CAST(d AS BIGINT) AS n_events,
        |  CAST(n AS BIGINT) AS n_risk,
        |  round(CAST(sum(CAST(h AS DECIMAL(20,9)))
        |    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE), 6) AS cum_hazard
        |FROM na ORDER BY t""".stripMargin),
    Query("q333_cka_linear", q333CkaLinear,
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |wy AS (SELECT vec_id, v,
        |    [CASE WHEN (j - 1) % 3 = 0 THEN -1.0 ELSE 1.0 END *
        |       v[((j - 1 + 5) % 16) + 1] + 0.25 * v[j]
        |     for j in range(1, 17)] yv
        |  FROM e),
        |xs AS (SELECT vec_id, (i - 1)::INT i, v[i] x FROM wy, range(1, 17) t(i)),
        |ys AS (SELECT vec_id, (j - 1)::INT j, yv[j] y FROM wy, range(1, 17) t(j)),
        |mxs AS (SELECT i, CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*) mx
        |  FROM xs GROUP BY i),
        |mys AS (SELECT j, CAST(sum(CAST(y AS DECIMAL(30,12))) AS DOUBLE) / count(*) my
        |  FROM ys GROUP BY j),
        |xc AS (SELECT vec_id, i, x - mx xc FROM xs JOIN mxs USING (i)),
        |yc AS (SELECT vec_id, j, y - my yc FROM ys JOIN mys USING (j)),
        |sxy AS (SELECT i, j, CAST(sum(CAST(xc * yc AS DECIMAL(30,12))) AS DOUBLE) s
        |  FROM xc JOIN yc USING (vec_id) GROUP BY i, j),
        |sxx AS (SELECT a.i i, b.i i2,
        |    CAST(sum(CAST(a.xc * b.xc AS DECIMAL(30,12))) AS DOUBLE) s
        |  FROM xc a JOIN xc b USING (vec_id) GROUP BY a.i, b.i),
        |syy AS (SELECT a.j j, b.j j2,
        |    CAST(sum(CAST(a.yc * b.yc AS DECIMAL(30,12))) AS DOUBLE) s
        |  FROM yc a JOIN yc b USING (vec_id) GROUP BY a.j, b.j),
        |f AS (SELECT
        |    (SELECT CAST(sum(CAST(s * s AS DECIMAL(38,6))) AS DOUBLE) FROM sxy) fxy,
        |    (SELECT CAST(sum(CAST(s * s AS DECIMAL(38,6))) AS DOUBLE) FROM sxx) fxx,
        |    (SELECT CAST(sum(CAST(s * s AS DECIMAL(38,6))) AS DOUBLE) FROM syy) fyy)
        |SELECT round(fxy / (sqrt(fxx) * sqrt(fyy)), 6) AS cka,
        |  round(fxy, 2) AS hsic_xy
        |FROM f""".stripMargin))
}
