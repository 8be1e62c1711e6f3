package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 3: representation- and annotation-quality readouts —
  * centroid silhouette, covariance effective rank (RankMe-style
  * participation ratio), per-source quantile normalization,
  * Krippendorff's alpha, and U-shaped multi-touch attribution.
  */
object Curation33 {

  private val dims = 16

  /** q334: centroid silhouette per label — the cheap-at-scale
    * silhouette variant (a = distance to own-label centroid, b = min
    * distance to any other label's centroid) that clustering pipelines
    * use when the classic all-pairs silhouette is quadratic. Two keyed
    * passes: per-(label, dim) decimal centroid means (bounded 10×16
    * cells), then one broadcast join fans each point's dims against
    * all 10 centroids — 160 product rows per vector, map-side combined
    * back to one row per (vector, candidate label). Nothing pairwise
    * in the vector count.
    */
  private val q334Silhouette: Q = (s, d) => {
    val pts = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(slice(col("embedding").cast("array<double>"), 1, dims))
          .as(Seq("i", "x")))
    val cent = pts.groupBy(col("label").as("l2"), col("i"))
      .agg((sum(col("x").cast(DecimalType(30, 12))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("c"))
    val d2 = pts.join(broadcast(cent), Seq("i"))
      .groupBy(col("vec_id"), col("label"), col("l2"))
      .agg(sum(((col("x") - col("c")) * (col("x") - col("c")))
        .cast(DecimalType(30, 12))).cast(DoubleType).as("d2"))
    val ab = d2.groupBy("vec_id", "label")
      .agg(sqrt(sum(when(col("l2") === col("label"), col("d2")))).as("a"),
        sqrt(min(when(col("l2") =!= col("label"), col("d2")))).as("b"))
      .withColumn("sil", when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
        .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
    ab.groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sum(col("sil").cast(DecimalType(20, 12))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("mean_silhouette"))
      .orderBy("label")
  }

  /** q335: effective rank (participation ratio trace(C)²/‖C‖F², the
    * RankMe-family representation-health statistic — a collapsed
    * embedding space shows er ≪ d) of the 16-dim embedding covariance.
    * Per-dim means are a bounded 16-double model contract collected to
    * the driver; the 256 covariance cells then come from an IN-ROW
    * pair expansion (no self-join: each vector emits its own 16×16
    * centered products) whose groupBy is map-side combined to 256 rows
    * per partition — the shuffle is O(cells), not O(rows).
    */
  private val q335EffectiveRank: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(slice(col("embedding").cast("array<double>"), 1, dims).as("v"))
    val mRows = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i")
      .agg((sum(col("x").cast(DecimalType(30, 12))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("m"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    val means = array(mRows.map(m => lit(m._2)): _*)
    val cells = e
      .withColumn("xc", zip_with(col("v"), means, (x, m) => x - m))
      .select(posexplode(flatten(transform(col("xc"),
        xi => transform(col("xc"), xj => xi * xj)))).as(Seq("k", "p")))
      .groupBy("k")
      .agg(sum(col("p").cast(DecimalType(30, 12))).as("sp"),
        count(lit(1)).as("cnt"))
      .select((col("k") / dims).cast("int").as("i"),
        (col("k") % dims).cast("int").as("j"),
        (col("sp").cast(DoubleType) / col("cnt").cast(DoubleType)).as("c"))
    cells.agg(
        sum(when(col("i") === col("j"), col("c").cast(DecimalType(30, 12)))
          .otherwise(lit(0).cast(DecimalType(30, 12)))).cast(DoubleType).as("tr"),
        sum((col("c") * col("c")).cast(DecimalType(30, 12)))
          .cast(DoubleType).as("f2"))
      .select(round(col("tr"), 6).as("trace"),
        round(col("f2"), 6).as("frob2"),
        round(col("tr") * col("tr") / col("f2"), 4).as("effective_rank"))
  }

  /** q336: quantile normalization of documents.n_chars per source onto
    * the pooled distribution — the batch-effect corrector (map each
    * source's empirical quantiles onto the corpus-wide quantile
    * function). Every cumulative runs over the DISTINCT-VALUE domain
    * (n_chars is bounded by construction, a few hundred values), so
    * the per-source and pooled CDFs are value-level aggregates, and
    * the quantile lookup is a ≤-join against the broadcast pooled
    * value table — rows are never sorted globally.
    */
  private val q336QuantileNormalize: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("source"), col("n_chars").as("v"))
    val srcVals = docs.groupBy("source", "v").agg(count(lit(1)).as("c"))
    val wsrc = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val srcPr = srcVals
      .withColumn("cum", sum(col("c")).over(wsrc))
      .withColumn("n_s", sum(col("c")).over(Window.partitionBy("source")))
      .withColumn("src_pr", (col("cum") - col("c")).cast(DoubleType) /
        (col("n_s") - lit(1)).cast(DoubleType))
    // pooled CDF over the bounded distinct-value domain (unpartitioned
    // window is over ≤ |value domain| rows by construction)
    val poolVals = docs.groupBy("v").agg(count(lit(1)).as("pc"))
    val wp = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pool = poolVals
      .withColumn("pcum", sum(col("pc")).over(wp))
      .withColumn("n_p", sum(col("pc")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("v").as("pv"),
        ((col("pcum") - col("pc")).cast(DoubleType) /
          (col("n_p") - lit(1)).cast(DoubleType)).as("pool_pr"))
    // pool_pr is monotone in pv, so max(pv) IS the value at the largest
    // pooled quantile ≤ the source quantile
    val mapped = srcPr.join(broadcast(pool), col("pool_pr") <= col("src_pr"))
      .groupBy(col("source"), col("v"), col("c"))
      .agg(max(col("pv")).as("norm"))
    mapped.groupBy("source")
      .agg(sum(col("c")).as("n"),
        round(sum((col("norm") * col("c")).cast(DecimalType(30, 6)))
          .cast(DoubleType) / sum(col("c")).cast(DoubleType), 6).as("mean_norm"),
        min(col("norm")).as("min_norm"), max(col("norm")).as("max_norm"))
      .orderBy("source")
  }

  /** q337: Krippendorff's alpha (nominal) over three deterministic
    * pseudo-annotators of the documents' language label (annotator k
    * flips to the sentinel 'zz' when md5(doc:k)%5 = 0 — seeded-hash
    * disagreement, no RNG state). The per-unit label counts n_uc, the
    * coincidence disagreement Σ_u (m² − Σ_c n_uc²)/(m−1), and the
    * marginals are all keyed integer aggregates; alpha = 1 − D_o/D_e
    * is closed-form. Complements q317's Cohen kappa (two raters) with
    * the ≥3-rater reliability statistic.
    */
  private val q337KrippendorffAlpha: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val ratings = docs
      .withColumn("k", explode(sequence(lit(0), lit(2))))
      .select(col("doc_id"),
        when(mdHash(concat_ws(":", col("doc_id"), col("k"))) % 5 === 0, lit("zz"))
          .otherwise(col("lang")).as("r"))
    krippendorffAlpha(ratings)
  }

  /** Nominal Krippendorff's alpha from a (doc_id, r) ratings frame —
    * closed-form keyed aggregates (spec-pinned against a hand-computed
    * example in Curation33Spec).
    */
  def krippendorffAlpha(ratings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nuc = ratings.groupBy("doc_id", "r").agg(count(lit(1)).as("n_uc"))
    val units = nuc.groupBy("doc_id")
      .agg(sum(col("n_uc")).as("m_u"),
        sum(col("n_uc") * col("n_uc")).as("sq"))
    val perUnit = units.agg(
      sum(col("m_u")).as("n_tot"),
      count(lit(1)).as("n_units"),
      sum(((col("m_u") * col("m_u") - col("sq")).cast(DoubleType) /
        (col("m_u") - lit(1)).cast(DoubleType)).cast(DecimalType(30, 12)))
        .cast(DoubleType).as("d_o_num"))
    val marg = nuc.groupBy("r").agg(sum(col("n_uc")).as("n_c"))
      .agg(sum(col("n_c") * col("n_c")).as("sq_marg"))
    perUnit.crossJoin(broadcast(marg))
      .select(col("n_units"), col("n_tot"),
        round(lit(1.0) -
          (col("d_o_num") / col("n_tot").cast(DoubleType)) /
            ((col("n_tot") * col("n_tot") - col("sq_marg")).cast(DoubleType) /
              (col("n_tot") * (col("n_tot") - lit(1))).cast(DoubleType)),
          6).as("alpha"))
  }

  /** q338: U-shaped (position-based) multi-touch attribution — first
    * and last touchpoint get 40% of the purchase value each, interior
    * touches share the remaining 20%; a single touch gets 100%.
    * Complements q201's last-touch rule with the credit-splitting
    * variant. Candidates come from a user-keyed equi-join with a 7-day
    * band predicate (the standard band-join shape — never cross-user),
    * positions from a per-purchase window (bounded by one user's
    * 7-day activity).
    */
  private val q338UShapedAttribution: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), round(col("value"), 2).as("p_value"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
        col("ts").as("t_ts"), col("event_type").as("t_type"))
    uShapedCredits(purchases, touches).groupBy(col("t_type").as("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("rn") === col("cnt"), 1L).otherwise(0L)).as("n_last"),
        round(sum(col("credit")).cast(DoubleType), 4).as("total_credit"))
      .orderBy("touch_type")
  }

  /** Per-touch U-shaped credit rows (p_id, t_type, rn, cnt, wt,
    * credit) — the weight law (Σ wt per purchase = 1) is spec-pinned
    * in Curation33Spec.
    */
  def uShapedCredits(purchases: org.apache.spark.sql.DataFrame,
      touches: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cand = purchases.join(touches,
      col("t_user") === col("p_user") && col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    val w = Window.partitionBy("p_id").orderBy(col("t_ts"), col("t_id"))
    cand
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("p_id")))
      .withColumn("wt",
        when(col("cnt") === 1, lit(1.0))
          .when(col("cnt") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("cnt"), lit(0.4))
          .otherwise(lit(0.2) / (col("cnt") - lit(2)).cast(DoubleType)))
      .withColumn("credit", (col("wt") * col("p_value")).cast(DecimalType(24, 8)))
  }

  val queries: Seq[Query] = Seq(
    Query("q334_silhouette", q334Silhouette,
      """WITH pts AS (SELECT vec_id, label, (i - 1)::INT i,
        |    CAST(embedding[i] AS DOUBLE) x
        |  FROM embeddings, range(1, 17) t(i)),
        |cent AS (SELECT label l2, i,
        |    CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*) c
        |  FROM pts GROUP BY label, i),
        |d2 AS (SELECT vec_id, label, l2,
        |    CAST(sum(CAST((x - c) * (x - c) AS DECIMAL(30,12))) AS DOUBLE) d2
        |  FROM pts JOIN cent USING (i) GROUP BY vec_id, label, l2),
        |ab AS (SELECT vec_id, label,
        |    sqrt(sum(CASE WHEN l2 = label THEN d2 END)) a,
        |    sqrt(min(CASE WHEN l2 <> label THEN d2 END)) b
        |  FROM d2 GROUP BY vec_id, label),
        |sil AS (SELECT label,
        |    CASE WHEN greatest(a, b) = 0 THEN 0.0
        |         ELSE (b - a) / greatest(a, b) END s
        |  FROM ab)
        |SELECT label, count(*) n,
        |  round(CAST(sum(CAST(s AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6)
        |    AS mean_silhouette
        |FROM sil GROUP BY label ORDER BY label""".stripMargin),
    Query("q335_effective_rank", q335EffectiveRank,
      """WITH xs AS (SELECT vec_id, (i - 1)::INT i, CAST(embedding[i] AS DOUBLE) x
        |  FROM embeddings, range(1, 17) t(i)),
        |mx AS (SELECT i, CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*) m
        |  FROM xs GROUP BY i),
        |xc AS (SELECT vec_id, i, x - m xc FROM xs JOIN mx USING (i)),
        |cells AS (SELECT a.i i, b.i j,
        |    CAST(sum(CAST(a.xc * b.xc AS DECIMAL(30,12))) AS DOUBLE) / count(*) c
        |  FROM xc a JOIN xc b USING (vec_id) GROUP BY a.i, b.i),
        |f AS (SELECT
        |    CAST(sum(CASE WHEN i = j THEN CAST(c AS DECIMAL(30,12))
        |      ELSE 0::DECIMAL(30,12) END) AS DOUBLE) tr,
        |    CAST(sum(CAST(c * c AS DECIMAL(30,12))) AS DOUBLE) f2
        |  FROM cells)
        |SELECT round(tr, 6) AS trace, round(f2, 6) AS frob2,
        |  round(tr * tr / f2, 4) AS effective_rank
        |FROM f""".stripMargin),
    Query("q336_quantile_normalize", q336QuantileNormalize,
      """WITH docs AS (SELECT source, n_chars v FROM documents),
        |sv AS (SELECT source, v, count(*) c FROM docs GROUP BY source, v),
        |sp AS (SELECT source, v, c,
        |    (sum(c) OVER (PARTITION BY source ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)::DOUBLE /
        |    (sum(c) OVER (PARTITION BY source) - 1)::DOUBLE src_pr
        |  FROM sv),
        |pv AS (SELECT v, count(*) pc FROM docs GROUP BY v),
        |pool AS (SELECT v pv,
        |    (sum(pc) OVER (ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - pc)::DOUBLE /
        |    (sum(pc) OVER () - 1)::DOUBLE pool_pr
        |  FROM pv),
        |mapped AS (SELECT source, v, c, max(pv) norm
        |  FROM sp JOIN pool ON pool_pr <= src_pr
        |  GROUP BY source, v, c)
        |SELECT source, sum(c)::BIGINT n,
        |  round(CAST(sum(CAST(norm * c AS DECIMAL(30,6))) AS DOUBLE) /
        |    sum(c)::DOUBLE, 6) AS mean_norm,
        |  min(norm) AS min_norm, max(norm) AS max_norm
        |FROM mapped GROUP BY source ORDER BY source""".stripMargin),
    Query("q337_krippendorff_alpha", q337KrippendorffAlpha,
      s"""WITH ratings AS (SELECT doc_id,
         |    CASE WHEN ${mdHashSql("doc_id::VARCHAR || ':' || k::VARCHAR")} % 5 = 0
         |      THEN 'zz' ELSE lang END r
         |  FROM documents, range(0, 3) t(k)),
         |nuc AS (SELECT doc_id, r, count(*) n_uc FROM ratings GROUP BY doc_id, r),
         |units AS (SELECT doc_id, sum(n_uc) m_u, sum(n_uc * n_uc) sq
         |  FROM nuc GROUP BY doc_id),
         |pu AS (SELECT sum(m_u)::BIGINT n_tot, count(*) n_units,
         |    CAST(sum(CAST((m_u * m_u - sq)::DOUBLE / (m_u - 1)::DOUBLE
         |      AS DECIMAL(30,12))) AS DOUBLE) d_o_num
         |  FROM units),
         |marg AS (SELECT sum(n_c * n_c) sq_marg
         |  FROM (SELECT r, sum(n_uc) n_c FROM nuc GROUP BY r))
         |SELECT n_units, n_tot,
         |  round(1.0 - (d_o_num / n_tot::DOUBLE) /
         |    ((n_tot * n_tot - sq_marg)::DOUBLE /
         |     (n_tot * (n_tot - 1))::DOUBLE), 6) AS alpha
         |FROM pu CROSS JOIN marg""".stripMargin),
    Query("q338_ushaped_attribution", q338UShapedAttribution,
      """WITH p AS (SELECT event_id p_id, user_id p_user, ts p_ts,
        |    round(value, 2) p_value FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT event_id t_id, user_id t_user, ts t_ts, event_type t_type
        |  FROM events WHERE event_type IN ('click', 'view')),
        |cand AS (SELECT * FROM p JOIN t ON t_user = p_user
        |  AND t_ts < p_ts AND t_ts >= p_ts - INTERVAL 7 DAY),
        |win AS (SELECT *,
        |    row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) rn,
        |    count(*) OVER (PARTITION BY p_id) cnt
        |  FROM cand),
        |cr AS (SELECT t_type, rn, cnt,
        |    CAST((CASE WHEN cnt = 1 THEN 1.0
        |          WHEN cnt = 2 THEN 0.5
        |          WHEN rn = 1 OR rn = cnt THEN 0.4
        |          ELSE 0.2 / (cnt - 2)::DOUBLE END) * p_value
        |      AS DECIMAL(24,8)) credit
        |  FROM win)
        |SELECT t_type AS touch_type, count(*) n_touches,
        |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_first,
        |  sum(CASE WHEN rn = cnt THEN 1 ELSE 0 END)::BIGINT AS n_last,
        |  round(CAST(sum(credit) AS DOUBLE), 4) AS total_credit
        |FROM cr GROUP BY t_type ORDER BY touch_type""".stripMargin))
}
