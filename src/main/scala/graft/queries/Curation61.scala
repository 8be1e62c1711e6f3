package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.operators.Similarity
import graft.sources.Tables

/** Round-11 wave 30: RDP privacy accounting for DP training plans,
  * filtered-ANN oversampling audit, and class-balanced reweighting.
  */
object Curation61 {

  /** q455: Rényi-DP accountant for a DP-SGD plan — given each source's
    * MEASURED sampling fraction q (its share of the corpus), noise
    * σ=1, T=1000 steps and δ=1e-5, the classic subsampled-Gaussian
    * bound RDP(α) ≈ T·q²·α/σ² converts to ε(δ) by minimizing
    * RDP(α) + ln(1/δ)/(α−1) over the bounded α grid 2..32 — the
    * privacy budget a per-source finetuning plan quotes. One corpus
    * aggregate; everything else is a ≤31-rung grid per source.
    */
  private val q455RdpAccountant: Q = (s, d) => {
    val per = Tables.documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n"))
    val tot = broadcast(per.agg(sum(col("n")).as("nn")))
    val alphas = broadcast(s.range(2, 33).select(col("id").as("alpha")))
    val grid = per.crossJoin(tot).crossJoin(alphas)
      .withColumn("qf", col("n").cast(DoubleType) / col("nn"))
      .withColumn("eps_at", round(lit(1000.0) * col("qf") * col("qf") * col("alpha") +
        log(lit(1e5)) / (col("alpha") - 1), 9).cast(DecimalType(24, 9)))
    grid.withColumn("rk", row_number().over(Window.partitionBy("source")
        .orderBy(col("eps_at").asc, col("alpha").asc)))
      .filter(col("rk") === 1)
      .select(col("source"), col("n").as("n_docs"),
        round(col("qf"), 9).as("sample_frac"), col("alpha").as("best_alpha"),
        round(col("eps_at").cast(DoubleType), 6).as("epsilon"))
      .orderBy("source")
  }

  /** q456: filtered-ANN oversampling audit — the production question
    * for label-constrained retrieval: does rank-then-filter with a 4×
    * oversample match filter-then-rank? Ground truth is the exact
    * same-label top-3 per query (a label-keyed join, never a global
    * product); the system under audit takes the global top-12 and
    * filters. Per-label recall@3 plus the yield (queries whose
    * filtered list still has 3 survivors) — the number that says
    * whether 4× oversampling suffices or the filter must push into
    * the index. Query set capped by the fixedCountModulus ladder.
    */
  private val q456FilteredAnn: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qm = Similarity.fixedCountModulus(Tables.rowCount(s, d, "embeddings"))
    val q = e.filter(col("vec_id") % qm === 0)
    // ground truth: filter-then-rank inside the query's own label
    val exact = Similarity
      .bruteForceTopKFiltered(e, q, "vec_id", "embedding", "label", k = 3)
      .select(col("qid"), col("nid"))
    // system: global rank, then filter, then keep 3 (4x oversample)
    val post = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 12)
      .join(e.select(col("vec_id").as("nid"), col("label").as("nlabel")), Seq("nid"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("label").as("qlabel"))),
        Seq("qid"))
      .filter(col("nlabel") === col("qlabel"))
      .withColumn("rk2", row_number().over(
        Window.partitionBy("qid").orderBy(col("rank").asc)))
      .filter(col("rk2") <= 3)
      .select(col("qid"), col("nid"), col("qlabel"))
    val hits = post.join(exact.withColumnRenamed("qid", "eq")
        .withColumnRenamed("nid", "en"),
      col("qid") === col("eq") && col("nid") === col("en"), "left_semi")
    val perQ = post.groupBy("qid", "qlabel").agg(count(lit(1)).as("n_kept"))
    val exactN = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
    val hitN = hits.groupBy("qid").agg(count(lit(1)).as("n_hit"))
    perQ.join(exactN, Seq("qid")).join(hitN, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("n_hit")).cast(DoubleType) / sum(col("n_exact")), 6)
          .as("recall_at_3"),
        round(sum(when(col("n_kept") >= 3, 1L).otherwise(0L)).cast(DoubleType) /
          count(lit(1)), 6).as("full_yield"))
      .orderBy("label")
  }

  /** q457: class-balanced reweighting by effective number of samples
    * (the (1−β^n)/(1−β) rule, β=0.999) — the loss-weighting table a
    * long-tail trainer loads: per label, the effective count, the
    * normalized weight (Σ w·n = N), and raw vs reweighted shares. One
    * keyed aggregate to the bounded label domain.
    */
  private val q457ClassBalance: Q = (s, d) => {
    val per = Tables.embeddings(s, d).groupBy("label")
      .agg(count(lit(1)).as("n"))
      .withColumn("eff", round((lit(1.0) - pow(lit(0.999), col("n"))) / lit(0.001), 9))
      .withColumn("raw_w", round(lit(1.0) / col("eff"), 9))
    val z = broadcast(per.agg(sum(col("n")).as("nn"),
      round(sum(col("raw_w") * col("n")), 9).as("zz")))
    per.crossJoin(z)
      .select(col("label"), col("n").as("n_samples"),
        round(col("eff"), 6).as("effective_n"),
        round(col("raw_w") * col("nn") / col("zz"), 6).as("weight"),
        round(col("n").cast(DoubleType) / col("nn"), 6).as("raw_share"),
        round(col("raw_w") * col("n") / col("zz"), 6).as("weighted_share"))
      .orderBy("label")
  }

  val queries: Seq[Query] = Seq(
    Query("q455_rdp_accountant", q455RdpAccountant,
      """WITH per AS (SELECT source, count(*) n FROM documents GROUP BY source),
        |tot AS (SELECT sum(n) nn FROM per),
        |grid AS (SELECT source, n, CAST(n AS DOUBLE) / nn qf, alpha,
        |    CAST(round(1000.0 * (CAST(n AS DOUBLE) / nn) * (CAST(n AS DOUBLE) / nn)
        |      * alpha + ln(1e5) / (alpha - 1), 9) AS DECIMAL(24,9)) eps_at
        |  FROM per, tot, (SELECT unnest(generate_series(2, 32)) alpha))
        |SELECT source, n AS n_docs, round(qf, 9) AS sample_frac,
        |  alpha::BIGINT AS best_alpha,
        |  round(CAST(eps_at AS DOUBLE), 6) AS epsilon
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY eps_at ASC, alpha ASC) rk FROM grid)
        |WHERE rk = 1 ORDER BY source""".stripMargin),
    Query("q456_filtered_ann", q456FilteredAnn, {
      s"""WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |qm AS (SELECT ${Similarity.fixedCountModulusLadderSql("c")} q_m
        |  FROM (SELECT count(*) c FROM e)),
        |q AS (SELECT vec_id AS qid, label qlabel, v AS e_q FROM e, qm
        |  WHERE vec_id % q_m = 0),
        |exact AS (SELECT qid, nid FROM (
        |  SELECT q.qid, e2.vec_id AS nid, row_number() OVER (PARTITION BY q.qid
        |    ORDER BY round(list_dot_product(q.e_q, e2.v) /
        |      sqrt(list_dot_product(q.e_q, q.e_q) * list_dot_product(e2.v, e2.v)), 9)
        |      DESC, e2.vec_id ASC) rn
        |  FROM q JOIN e e2 ON e2.label = q.qlabel AND e2.vec_id <> q.qid)
        |  WHERE rn <= 3),
        |g12 AS (SELECT qid, qlabel, nid, nlabel, rn FROM (
        |  SELECT q.qid, q.qlabel, e2.vec_id AS nid, e2.label nlabel,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY round(list_dot_product(q.e_q, e2.v) /
        |        sqrt(list_dot_product(q.e_q, q.e_q) * list_dot_product(e2.v, e2.v)), 9)
        |        DESC, e2.vec_id ASC) rn
        |  FROM q JOIN e e2 ON e2.vec_id <> q.qid) WHERE rn <= 12),
        |post AS (SELECT qid, qlabel, nid FROM (SELECT *,
        |    row_number() OVER (PARTITION BY qid ORDER BY rn ASC) rk2
        |  FROM g12 WHERE nlabel = qlabel) WHERE rk2 <= 3),
        |perq AS (SELECT qid, qlabel, count(*) n_kept FROM post GROUP BY qid, qlabel),
        |exn AS (SELECT qid, count(*) n_exact FROM exact GROUP BY qid),
        |hit AS (SELECT p.qid, count(*) n_hit FROM post p
        |  JOIN exact x ON x.qid = p.qid AND x.nid = p.nid GROUP BY p.qid)
        |SELECT qlabel AS label, count(*) AS n_queries,
        |  round(sum(coalesce(n_hit, 0))::DOUBLE / sum(n_exact), 6) AS recall_at_3,
        |  round(sum(CASE WHEN n_kept >= 3 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |    AS full_yield
        |FROM perq JOIN exn USING (qid) LEFT JOIN hit USING (qid)
        |GROUP BY qlabel ORDER BY label""".stripMargin
    }),
    Query("q457_class_balance", q457ClassBalance,
      """WITH per AS (SELECT label, count(*) n,
        |    round((1.0 - pow(0.999, n)) / 0.001, 9) eff FROM embeddings
        |  GROUP BY label),
        |pw AS (SELECT label, n, eff, round(1.0 / eff, 9) raw_w FROM per),
        |z AS (SELECT sum(n) nn, round(sum(raw_w * n), 9) zz FROM pw)
        |SELECT label, n AS n_samples, round(eff, 6) AS effective_n,
        |  round(raw_w * nn / zz, 6) AS weight,
        |  round(CAST(n AS DOUBLE) / nn, 6) AS raw_share,
        |  round(raw_w * n / zz, 6) AS weighted_share
        |FROM pw, z ORDER BY label""".stripMargin))
}
