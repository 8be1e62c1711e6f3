package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.sources.Tables

/** Round-7 wave 12: robust geometry and distribution-shift metrics —
  * Weiszfeld geometric median, dedup-cluster label purity, 1-D earth
  * mover's distance between sources, Brier score decomposition, and a
  * linear-time RBF MMD estimator.
  */
object Curation30 {

  private def cells(e: DataFrame) = e.select(col("label"), col("vec_id"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))

  /** q323: one Weiszfeld step of the per-label geometric median from the
    * per-label mean: distances to the mean are decimal-exact per-vector
    * sums, weights 1/max(dist, 1e-9) re-weight the coordinate sums, and
    * the step movement ||c1 − c0|| is the robustness signal (how far
    * outliers pulled the mean). Everything is keyed aggregates over
    * (label, pos) — no driver math, no pairwise work.
    */
  private val q323GeometricMedian: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val cl = cells(e)
    val c0 = cl.groupBy("label", "pos")
      .agg((round(sum(col("x").cast(DecimalType(30, 12))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 9)).as("c0"))
    val dist = cl.join(broadcast(c0), Seq("label", "pos"))
      .select(col("label"), col("vec_id"),
        ((col("x") - col("c0")) * (col("x") - col("c0")))
          .cast(DecimalType(30, 15)).as("sq"))
      .groupBy("label", "vec_id")
      .agg(sqrt(sum(col("sq")).cast(DoubleType)).as("dist"))
      .select(col("label"), col("vec_id"),
        col("dist"), (lit(1.0) / greatest(col("dist"), lit(1e-9))).as("w"))
    val wsum = dist.groupBy("label")
      .agg(sum(col("w").cast(DecimalType(30, 12))).cast(DoubleType).as("sw"),
        round(sum(col("dist").cast(DecimalType(30, 12))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("mean_dist"))
    // per-vector weight join stays a keyed shuffle join (the vector
    // population is corpus-scale; only per-label/per-pos frames broadcast)
    val c1 = cl.join(dist.select("label", "vec_id", "w"),
        Seq("label", "vec_id"))
      .select(col("label"), col("pos"),
        (col("w") * col("x")).cast(DecimalType(30, 12)).as("wx"))
      .groupBy("label", "pos")
      .agg(sum(col("wx")).cast(DoubleType).as("swx"))
    c1.join(broadcast(wsum), Seq("label"))
      .join(broadcast(c0), Seq("label", "pos"))
      .select(col("label"), col("mean_dist"),
        ((col("swx") / col("sw") - col("c0")) * (col("swx") / col("sw") - col("c0")))
          .cast(DecimalType(30, 15)).as("msq"))
      .groupBy("label")
      .agg(min(col("mean_dist")).as("mean_dist"),
        round(sqrt(sum(col("msq")).cast(DoubleType)), 6).as("step_move"))
      .orderBy("label")
  }

  /** q324: label purity of the MinHash-LSH near-dup clusters — for each
    * multi-doc cluster the share of its majority language; the "are my
    * dup clusters accidentally gluing languages together" QA readout.
    * Clusters come from the shared LSH machinery (banded join, pointer
    * doubling); purity is a keyed count-max over the bounded cluster
    * domain.
    */
  private val q324ClusterPurity: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
      threshold = 0.8, numHashes = 48, bands = 12)
    val comp = graft.operators.Dedup.nearDupClusters(pairs)
    val byLang = comp.join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .groupBy("cluster_id", "lang").agg(count(lit(1)).as("k"))
    val per = byLang.groupBy("cluster_id")
      .agg(sum(col("k")).as("n"), max(col("k")).as("kmax"))
      .withColumn("purity", round(col("kmax").cast(DoubleType) /
        col("n").cast(DoubleType), 6))
    per.agg(count(lit(1)).as("n_clusters"), sum(col("n")).as("n_docs"),
      round(sum((col("purity") * col("n").cast(DoubleType))
        .cast(DecimalType(20, 8))).cast(DoubleType) /
        sum(col("n")).cast(DoubleType), 6).as("weighted_purity"),
      sum((col("purity") === 1.0).cast(LongType)).as("n_pure"))
  }

  /** q325: 1-D earth mover's distance between source length
    * distributions — EMD over a bucketed value domain is the area
    * between CDFs, computed on a (bucket × source) grid that is bounded
    * by construction; pairwise distances live on the |sources|² domain.
    * The mass-transport companion to q285's JS divergence.
    */
  private val q325Emd1d: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("source"), floor(col("n_chars") / 100).cast(LongType).as("b"))
    val counts = docs.groupBy("source", "b").agg(count(lit(1)).as("k"))
    val totals = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val buckets = docs.select("b").distinct()
    val grid = buckets.crossJoin(totals.select("source"))
      .join(counts, Seq("source", "b"), "left")
      .join(broadcast(totals), Seq("source"))
      .select(col("source"), col("b"),
        (coalesce(col("k"), lit(0L)).cast(DoubleType) /
          col("n").cast(DoubleType)).as("pmf"))
    val wc = Window.partitionBy(col("source")).orderBy(col("b"))
    val cdf = grid.withColumn("cdf", sum(col("pmf")).over(wc))
    val a = cdf.select(col("b"), col("source").as("s1"), col("cdf").as("ca"))
    val b = cdf.select(col("b"), col("source").as("s2"), col("cdf").as("cb"))
    a.join(b, Seq("b")).filter(col("s1") < col("s2"))
      .select(col("s1"), col("s2"),
        abs(col("ca") - col("cb")).cast(DecimalType(20, 12)).as("t"))
      .groupBy("s1", "s2")
      .agg(round(sum(col("t")).cast(DoubleType), 6).as("emd_buckets"))
      .orderBy(col("emd_buckets").desc, col("s1"), col("s2"))
      .limit(10)
  }

  /** q326: Brier score decomposition (Murphy): reliability − resolution
    * + uncertainty over 10 probability bins, for the q158 length-based
    * en-probability forecast. One scan to the binned aggregate; the
    * identity brier = rel − res + unc is emitted as a checked column.
    */
  private val q326BrierDecomposition: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val z = (col("n_chars").cast(DoubleType) - lit(300.0)) / lit(200.0)
    val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    val base = docs.select((col("lang") === "en").cast(LongType).as("y"), p.as("p"))
      .withColumn("bin", least(floor(col("p") * 10).cast(LongType), lit(9L)))
    val bins = base.groupBy("bin").agg(count(lit(1)).as("nb"),
      sum(col("p").cast(DecimalType(20, 12))).as("sp"),
      sum(col("y")).as("sy"),
      sum(((col("p") - col("y").cast(DoubleType)) *
        (col("p") - col("y").cast(DoubleType))).cast(DecimalType(20, 12))).as("sbr"))
    val tot = bins.agg(sum(col("nb")).as("n"), sum(col("sy")).as("ny"),
      sum(col("sbr")).cast(DoubleType).as("brier_sum"))
    bins.crossJoin(broadcast(tot))
      .select(col("n"), col("brier_sum"), col("ny"),
        ((col("sp").cast(DoubleType) / col("nb").cast(DoubleType) -
          col("sy").cast(DoubleType) / col("nb").cast(DoubleType)) *
          (col("sp").cast(DoubleType) / col("nb").cast(DoubleType) -
            col("sy").cast(DoubleType) / col("nb").cast(DoubleType)) *
          col("nb").cast(DoubleType)).cast(DecimalType(20, 10)).as("relb"),
        ((col("sy").cast(DoubleType) / col("nb").cast(DoubleType) -
          col("ny").cast(DoubleType) / col("n").cast(DoubleType)) *
          (col("sy").cast(DoubleType) / col("nb").cast(DoubleType) -
            col("ny").cast(DoubleType) / col("n").cast(DoubleType)) *
          col("nb").cast(DoubleType)).cast(DecimalType(20, 10)).as("resb"))
      .groupBy("n", "brier_sum", "ny")
      .agg(sum(col("relb")).cast(DoubleType).as("rel_sum"),
        sum(col("resb")).cast(DoubleType).as("res_sum"))
      .select(col("n"),
        round(col("brier_sum") / col("n").cast(DoubleType), 6).as("brier"),
        round(col("rel_sum") / col("n").cast(DoubleType), 6).as("reliability"),
        round(col("res_sum") / col("n").cast(DoubleType), 6).as("resolution"),
        round((col("ny").cast(DoubleType) / col("n").cast(DoubleType)) *
          (lit(1.0) - col("ny").cast(DoubleType) / col("n").cast(DoubleType)), 6)
          .as("uncertainty"))
  }

  /** q327: linear-time MMD² estimator (RBF kernel, σ²=64) between the
    * label<5 and label≥5 embedding populations — the distribution-shift
    * statistic in embedding space. Vectors pair consecutively under the
    * distributed global rank (never an all-pairs kernel matrix); each
    * quadruple contributes one h-term, summed as decimals.
    */
  private val q327MmdLinear: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), (col("label") < 5).as("isx"),
        col("embedding").cast("array<double>").as("v"))
    def ranked(df: DataFrame) = graft.operators.Ranking
      .globalRank(df, "r", col("vec_id"))
      .select(col("v"), ((col("r") - 1) / 2).cast(LongType).as("j"),
        pmod(col("r") - 1, lit(2L)).as("slot"))
    val xs = ranked(e.filter(col("isx")).select("vec_id", "v"))
    val ys = ranked(e.filter(!col("isx")).select("vec_id", "v"))
    def side(df: DataFrame, s0: String, s1: String) = df
      .groupBy("j")
      .agg(min(when(col("slot") === 0, col("v"))).as(s0),
        max(when(col("slot") === 1, col("v"))).as(s1))
      .filter(col(s0).isNotNull && col(s1).isNotNull)
    val xp = side(xs, "x0", "x1")
    val yp = side(ys, "y0", "y1")
    def rbf(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      exp(-aggregate(zip_with(a, b, (u, w) => (u - w) * (u - w)),
        lit(0.0), (acc, t) => acc + t) / lit(128.0))
    xp.join(yp, Seq("j"))
      .select((rbf(col("x0"), col("x1")) + rbf(col("y0"), col("y1")) -
        rbf(col("x0"), col("y1")) - rbf(col("x1"), col("y0")))
        .cast(DecimalType(24, 15)).as("h"))
      .agg(count(lit(1)).as("n_quads"),
        round(sum(col("h")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("mmd2"))
  }

  val queries: Seq[Query] = Seq(
    Query("q323_geometric_median", q323GeometricMedian,
      """WITH e AS (SELECT label, vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |cl AS (SELECT label, vec_id, (i - 1)::INT pos, v[i] x
        |  FROM e, range(1, 65) t(i)),
        |c0 AS (SELECT label, pos,
        |    round(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*), 9) c0
        |  FROM cl GROUP BY label, pos),
        |dist AS (SELECT label, vec_id,
        |    sqrt(CAST(sum(CAST((x - c0) * (x - c0) AS DECIMAL(30,15))) AS DOUBLE)) dist
        |  FROM cl JOIN c0 USING (label, pos) GROUP BY label, vec_id),
        |wts AS (SELECT label, vec_id, dist,
        |    1.0 / greatest(dist, 1e-9) w FROM dist),
        |ws AS (SELECT label,
        |    CAST(sum(CAST(w AS DECIMAL(30,12))) AS DOUBLE) sw,
        |    round(CAST(sum(CAST(dist AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) mean_dist
        |  FROM wts GROUP BY label),
        |c1 AS (SELECT label, pos,
        |    CAST(sum(CAST(w * x AS DECIMAL(30,12))) AS DOUBLE) swx
        |  FROM cl JOIN wts USING (label, vec_id) GROUP BY label, pos)
        |SELECT label, min(mean_dist) AS mean_dist,
        |  round(sqrt(CAST(sum(CAST((swx / sw - c0) * (swx / sw - c0)
        |    AS DECIMAL(30,15))) AS DOUBLE)), 6) AS step_move
        |FROM c1 JOIN ws USING (label) JOIN c0 USING (label, pos)
        |GROUP BY label ORDER BY label""".stripMargin),
    Query("q324_cluster_purity", q324ClusterPurity,
      s"""${DedupSim.lshClusterCtes},
         |bl AS (SELECT cluster_id, lang, count(*) k
         |  FROM comp JOIN documents ON comp.id = documents.doc_id
         |  GROUP BY cluster_id, lang),
         |per AS (SELECT cluster_id, sum(k) n, max(k) kmax,
         |    round(max(k)::DOUBLE / sum(k)::DOUBLE, 6) purity
         |  FROM bl GROUP BY cluster_id)
         |SELECT count(*)::BIGINT AS n_clusters, sum(n)::BIGINT AS n_docs,
         |  round(CAST(sum(CAST(purity * n::DOUBLE AS DECIMAL(20,8))) AS DOUBLE) /
         |    sum(n)::DOUBLE, 6) AS weighted_purity,
         |  sum(CASE WHEN purity = 1.0 THEN 1 ELSE 0 END)::BIGINT AS n_pure
         |FROM per""".stripMargin),
    Query("q325_emd_1d", q325Emd1d,
      """WITH d AS (SELECT source, (n_chars // 100)::BIGINT b FROM documents),
        |counts AS (SELECT source, b, count(*) k FROM d GROUP BY 1, 2),
        |totals AS (SELECT source, count(*) n FROM d GROUP BY source),
        |buckets AS (SELECT DISTINCT b FROM d),
        |grid AS (SELECT t.source, bk.b,
        |    coalesce(k, 0)::DOUBLE / n::DOUBLE pmf
        |  FROM buckets bk CROSS JOIN totals t
        |  LEFT JOIN counts c ON c.source = t.source AND c.b = bk.b),
        |cdf AS (SELECT source, b,
        |    sum(pmf) OVER (PARTITION BY source ORDER BY b
        |      ROWS UNBOUNDED PRECEDING) cdf FROM grid)
        |SELECT a.source AS s1, b2.source AS s2,
        |  round(CAST(sum(CAST(abs(a.cdf - b2.cdf) AS DECIMAL(20,12)))
        |    AS DOUBLE), 6) AS emd_buckets
        |FROM cdf a JOIN cdf b2 ON a.b = b2.b AND a.source < b2.source
        |GROUP BY a.source, b2.source
        |ORDER BY emd_buckets DESC, s1, s2 LIMIT 10""".stripMargin),
    Query("q326_brier_decomposition", q326BrierDecomposition,
      """WITH base AS (SELECT
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END y,
        |    0.5 + ((n_chars::DOUBLE - 300.0) / 200.0) /
        |      (2.0 * (1.0 + abs((n_chars::DOUBLE - 300.0) / 200.0))) p
        |  FROM documents),
        |bb AS (SELECT y, p, least(floor(p * 10)::BIGINT, 9) bin FROM base),
        |bins AS (SELECT bin, count(*) nb,
        |    sum(CAST(p AS DECIMAL(20,12))) sp, sum(y) sy,
        |    sum(CAST((p - y) * (p - y) AS DECIMAL(20,12))) sbr
        |  FROM bb GROUP BY bin),
        |tot AS (SELECT sum(nb) n, sum(sy) ny,
        |    CAST(sum(sbr) AS DOUBLE) brier_sum FROM bins),
        |terms AS (SELECT n, brier_sum, ny,
        |    CAST((CAST(sp AS DOUBLE) / nb - sy::DOUBLE / nb) *
        |      (CAST(sp AS DOUBLE) / nb - sy::DOUBLE / nb) * nb
        |      AS DECIMAL(20,10)) relb,
        |    CAST((sy::DOUBLE / nb - ny::DOUBLE / n) *
        |      (sy::DOUBLE / nb - ny::DOUBLE / n) * nb
        |      AS DECIMAL(20,10)) resb
        |  FROM bins CROSS JOIN tot)
        |SELECT n::BIGINT AS n, round(brier_sum / n::DOUBLE, 6) AS brier,
        |  round(CAST(sum(relb) AS DOUBLE) / n::DOUBLE, 6) AS reliability,
        |  round(CAST(sum(resb) AS DOUBLE) / n::DOUBLE, 6) AS resolution,
        |  round((ny::DOUBLE / n::DOUBLE) * (1.0 - ny::DOUBLE / n::DOUBLE), 6)
        |    AS uncertainty
        |FROM terms GROUP BY n, brier_sum, ny""".stripMargin),
    Query("q327_mmd_linear", q327MmdLinear,
      """WITH e AS (SELECT vec_id, label < 5 isx,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |rx AS (SELECT v, (row_number() OVER (ORDER BY vec_id) - 1) // 2 j,
        |    (row_number() OVER (ORDER BY vec_id) - 1) % 2 slot
        |  FROM e WHERE isx),
        |ry AS (SELECT v, (row_number() OVER (ORDER BY vec_id) - 1) // 2 j,
        |    (row_number() OVER (ORDER BY vec_id) - 1) % 2 slot
        |  FROM e WHERE NOT isx),
        |xp AS (SELECT j, min(CASE WHEN slot = 0 THEN v END) x0,
        |    max(CASE WHEN slot = 1 THEN v END) x1 FROM rx GROUP BY j
        |  HAVING min(CASE WHEN slot = 0 THEN v END) IS NOT NULL
        |    AND max(CASE WHEN slot = 1 THEN v END) IS NOT NULL),
        |yp AS (SELECT j, min(CASE WHEN slot = 0 THEN v END) y0,
        |    max(CASE WHEN slot = 1 THEN v END) y1 FROM ry GROUP BY j
        |  HAVING min(CASE WHEN slot = 0 THEN v END) IS NOT NULL
        |    AND max(CASE WHEN slot = 1 THEN v END) IS NOT NULL),
        |h AS (SELECT
        |    CAST(exp(-list_sum(list_transform(range(1, 65),
        |        i -> (x0[i] - x1[i]) * (x0[i] - x1[i]))) / 128.0)
        |      + exp(-list_sum(list_transform(range(1, 65),
        |        i -> (y0[i] - y1[i]) * (y0[i] - y1[i]))) / 128.0)
        |      - exp(-list_sum(list_transform(range(1, 65),
        |        i -> (x0[i] - y1[i]) * (x0[i] - y1[i]))) / 128.0)
        |      - exp(-list_sum(list_transform(range(1, 65),
        |        i -> (x1[i] - y0[i]) * (x1[i] - y0[i]))) / 128.0)
        |      AS DECIMAL(24,15)) h
        |  FROM xp JOIN yp USING (j))
        |SELECT count(*)::BIGINT AS n_quads,
        |  round(CAST(sum(h) AS DOUBLE) / count(*)::DOUBLE, 6) AS mmd2
        |FROM h""".stripMargin))
}
