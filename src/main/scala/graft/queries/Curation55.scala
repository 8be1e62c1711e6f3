package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Q, Query}
import graft.operators.{Similarity, TopK}
import graft.sources.Tables

/** Round-11 wave 24 (part 2): binary-quantized vector serving,
  * intermittent-demand forecasting, and successive-halving
  * hyperparameter selection — the serving-compression, sparse-series,
  * and budgeted-search shapes.
  */
object Curation55 {

  /** q428: 1-bit quantization recall audit — the serving question
    * behind binary embedding compression (32× smaller than float32):
    * how much of the exact top-5 does a sign-bit Hamming shortlist
    * (top-20) + exact rerank keep? Exact baseline = q75's brute force;
    * approximate path = [[Similarity.signBitTopK]] (packed two-word
    * XOR+popcount candidates, float cosine only on the shortlist).
    * recall@5 per query, bounded query set (every 25th vector, the
    * house convention).
    */
  private val q428BinaryQuantRecall: Q = (s, d) => {
    // spread the single-row-group embedding scan: both the exact
    // baseline and the sign-bit sweep are per-row dot kernels that
    // otherwise run single-task (Kernels.fanOut)
    val e = graft.operators.Kernels.fanOut(Tables.embeddings(s, d))
    // corpus-capped query sample (~<=256 queries at any scale): the
    // fixed %25 made |Q| linear in n, so both the exact baseline and
    // the Hamming sweep were O(n^2/25) — measured 178 s / 47.7x at the
    // sf1 paired decade (the q437 disease, same fixedCountModulus cure)
    val qm = Similarity.fixedCountModulus(Tables.rowCount(s, d, "embeddings"))
    val q = e.filter(col("vec_id") % qm === 0)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select(col("qid"), col("nid"))
    val approx = Similarity.signBitTopK(e, q, "vec_id", "embedding",
        k = 5, candidates = 20)
      .select(col("qid").as("aq"), col("nid").as("an"))
    exact.join(approx, col("aq") === col("qid") && col("an") === col("nid"), "left")
      .groupBy("qid")
      .agg(count(col("an")).as("n_hits"),
        round(count(col("an")) / lit(5.0), 6).as("recall_at_5"))
      .orderBy("qid")
  }

  /** q429: Croston's method for intermittent demand — the forecasting
    * shape Holt (q352) and AR(2) (q379) get WRONG on sparse series
    * (smoothing the zeros biases toward zero): smooth the nonzero
    * demand SIZES and the inter-arrival INTERVALS separately (α=0.3,
    * the q169 EWMA convention), forecast = ẑ/p̂ per period. Demand
    * days are the ≥250-value days per event type (7–14 of 30 — truly
    * intermittent). Both EWMAs are the closed-form power-weight sums
    * over the per-type day sequence (exact decimal accumulation, the
    * q169 pattern), windowed on the bounded day domain.
    */
  /** Croston smoothing over a (event_type, day, z) demand-day frame —
    * factored out so the spec can law-check the closed form (a constant
    * series with constant gaps must smooth to exactly that size and
    * gap: the weights sum to 1).
    */
  private[graft] def crostonAgg(dd: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val seq = dd
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("g", datediff(col("day"), lag(col("day"), 1).over(w)))
      .filter(col("n") >= 2)
    val zTerm = (when(col("r") === 1, col("z") * pow(lit(0.7), col("n") - 1))
      .otherwise(col("z") * lit(0.3) * pow(lit(0.7), col("n") - col("r"))))
      .cast(DecimalType(30, 12))
    val gTerm = when(col("r") >= 2,
      when(col("r") === 2, col("g") * pow(lit(0.7), col("n") - 2))
        .otherwise(col("g") * lit(0.3) * pow(lit(0.7), col("n") - col("r"))))
      .cast(DecimalType(30, 12))
    seq.groupBy("event_type")
      .agg(max(col("n")).as("n_demand_days"),
        sum(zTerm).as("sz"), sum(gTerm).as("sp"))
      .select(col("event_type"), col("n_demand_days").cast("long").as("n_demand_days"),
        round(col("sz").cast(DoubleType), 6).as("z_hat"),
        round(col("sp").cast(DoubleType), 6).as("p_hat"),
        round(col("sz").cast(DoubleType) / col("sp").cast(DoubleType), 6)
          .as("croston_forecast"))
      .orderBy("event_type")
  }

  private val q429Croston: Q = (s, d) =>
    crostonAgg(
      Tables.events(s, d).filter(col("value") >= 250.0)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value"), 2).cast(DecimalType(18, 2))).as("z")))

  /** q430: successive halving over logged arm rewards — the budgeted
    * hyperparameter-search replay: 16 config arms, four stages with
    * doubling per-arm budgets (first 25/50/100/200 logged samples in
    * event-time order), bottom half eliminated each stage by cumulative
    * mean reward. The per-arm budget slice runs through the native
    * TopKPerGroup operator (partial bounded heaps, survivor-only
    * shuffle — never a full sort), so at 100 TB only 200·16 rows leave
    * the scan; the halving cascade itself is windows over the bounded
    * 16-row arm frame. Ranking keys are 6-dp-rounded means with arm
    * tie-breaks — deterministic across engines and partitionings.
    */
  private val q430SuccessiveHalving: Q = (s, d) => {
    val budgets = Seq(25, 50, 100, 200)
    val ev = Tables.events(s, d).select(
      (col("event_id") % 16).as("arm"), col("ts"), col("event_id"),
      round(col("value"), 2).cast(DecimalType(18, 2)).as("v"))
    val top = TopK.perGroup(ev, Seq("arm"),
      Seq(("ts", false), ("event_id", false)), budgets.max, rankName = "rk")
    val aggs = budgets.zipWithIndex.flatMap { case (b, i) =>
      Seq(count(when(col("rk") <= b, 1)).as(s"n${i + 1}"),
        round(sum(when(col("rk") <= b, col("v"))).cast(DoubleType) /
          count(when(col("rk") <= b, 1)), 6).as(s"m${i + 1}"))
    }
    val arms = top.groupBy("arm").agg(aggs.head, aggs.tail: _*)
    val r1 = arms.withColumn("rank1",
      row_number().over(Window.orderBy(col("m1").desc, col("arm"))))
    val r2 = r1.filter(col("rank1") <= 8).withColumn("rank2",
      row_number().over(Window.orderBy(col("m2").desc, col("arm"))))
    val r3 = r2.filter(col("rank2") <= 4).withColumn("rank3",
      row_number().over(Window.orderBy(col("m3").desc, col("arm"))))
    val r4 = r3.filter(col("rank3") <= 2).withColumn("rank4",
      row_number().over(Window.orderBy(col("m4").desc, col("arm"))))
    def stageRows(df: org.apache.spark.sql.DataFrame, stage: Int, keepTo: Int) =
      df.select(lit(stage).as("stage"), col("arm"),
        col(s"n$stage").as("n_used"), col(s"m$stage").as("mean_reward"),
        when(col(s"rank$stage") <= keepTo, 1).otherwise(0).as("kept"))
    stageRows(r1, 1, 8)
      .unionByName(stageRows(r2, 2, 4))
      .unionByName(stageRows(r3, 3, 2))
      .unionByName(stageRows(r4, 4, 1))
      .orderBy(col("stage"), col("mean_reward").desc, col("arm"))
  }

  val queries: Seq[Query] = Seq(
    Query("q428_binary_quant_recall", q428BinaryQuantRecall,
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |packs AS (SELECT vec_id,
        |    sum(CASE WHEN j <= 32 AND v[j] >= 0 THEN (1::BIGINT << (j-1)) ELSE 0 END)::BIGINT AS lo,
        |    sum(CASE WHEN j > 32 AND v[j] >= 0 THEN (1::BIGINT << (j-33)) ELSE 0 END)::BIGINT AS hi
        |  FROM e, unnest(generate_series(1, 64)) t(j) GROUP BY vec_id),
        |qm AS (SELECT ${Similarity.fixedCountModulusLadderSql("c")} q_m
        |  FROM (SELECT count(*) c FROM e)),
        |q AS (SELECT vec_id AS qid FROM e, qm WHERE vec_id % q_m = 0),
        |exact AS (SELECT qid, nid FROM (
        |  SELECT q.qid, e2.vec_id AS nid, row_number() OVER (PARTITION BY q.qid
        |    ORDER BY round(list_dot_product(eq.v, e2.v) /
        |      sqrt(list_dot_product(eq.v, eq.v) * list_dot_product(e2.v, e2.v)), 9) DESC, e2.vec_id) AS rn
        |  FROM q JOIN e eq ON eq.vec_id = q.qid JOIN e e2 ON e2.vec_id <> q.qid) WHERE rn <= 5),
        |cand AS (SELECT qid, nid FROM (
        |  SELECT q.qid, p2.vec_id AS nid, row_number() OVER (PARTITION BY q.qid
        |    ORDER BY 64 - 2*(bit_count(xor(pq.lo, p2.lo)) + bit_count(xor(pq.hi, p2.hi))) DESC, p2.vec_id) AS rn
        |  FROM q JOIN packs pq ON pq.vec_id = q.qid JOIN packs p2 ON p2.vec_id <> q.qid) WHERE rn <= 20),
        |rer AS (SELECT qid, nid FROM (
        |  SELECT c.qid, c.nid, row_number() OVER (PARTITION BY c.qid
        |    ORDER BY round(list_dot_product(eq.v, en.v) /
        |      sqrt(list_dot_product(eq.v, eq.v) * list_dot_product(en.v, en.v)), 9) DESC, c.nid) AS rn
        |  FROM cand c JOIN e eq ON eq.vec_id = c.qid JOIN e en ON en.vec_id = c.nid) WHERE rn <= 5)
        |SELECT x.qid, count(r.nid)::BIGINT AS n_hits,
        |  round(count(r.nid) / 5.0, 6) AS recall_at_5
        |FROM exact x LEFT JOIN rer r ON r.qid = x.qid AND r.nid = x.nid
        |GROUP BY x.qid ORDER BY x.qid""".stripMargin),
    Query("q429_croston", q429Croston,
      """WITH dd AS (SELECT event_type, ts::DATE AS day,
        |    sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS z
        |  FROM events WHERE value >= 250.0 GROUP BY event_type, ts::DATE),
        |seq AS (SELECT event_type, day, z,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    date_diff('day', lag(day) OVER (PARTITION BY event_type ORDER BY day), day) AS g
        |  FROM dd),
        |terms AS (SELECT event_type, n,
        |    CAST(CASE WHEN r = 1 THEN z * pow(0.7, n - 1)
        |         ELSE z * 0.3 * pow(0.7, n - r) END AS DECIMAL(30,12)) AS zt,
        |    CAST(CASE WHEN r = 2 THEN g * pow(0.7, n - 2)
        |         WHEN r > 2 THEN g * 0.3 * pow(0.7, n - r) END AS DECIMAL(30,12)) AS gt
        |  FROM seq WHERE n >= 2)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_demand_days,
        |  round(CAST(sum(zt) AS DOUBLE), 6) AS z_hat,
        |  round(CAST(sum(gt) AS DOUBLE), 6) AS p_hat,
        |  round(CAST(sum(zt) AS DOUBLE) / CAST(sum(gt) AS DOUBLE), 6) AS croston_forecast
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q430_successive_halving", q430SuccessiveHalving,
      """WITH ev AS (SELECT event_id % 16 AS arm, ts, event_id,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) AS v FROM events),
        |rk AS (SELECT arm, v, row_number() OVER (PARTITION BY arm
        |    ORDER BY ts, event_id) AS rk FROM ev),
        |arms AS (SELECT arm,
        |    count(CASE WHEN rk <= 25 THEN 1 END) AS n1,
        |    round(CAST(sum(CASE WHEN rk <= 25 THEN v END) AS DOUBLE) / count(CASE WHEN rk <= 25 THEN 1 END), 6) AS m1,
        |    count(CASE WHEN rk <= 50 THEN 1 END) AS n2,
        |    round(CAST(sum(CASE WHEN rk <= 50 THEN v END) AS DOUBLE) / count(CASE WHEN rk <= 50 THEN 1 END), 6) AS m2,
        |    count(CASE WHEN rk <= 100 THEN 1 END) AS n3,
        |    round(CAST(sum(CASE WHEN rk <= 100 THEN v END) AS DOUBLE) / count(CASE WHEN rk <= 100 THEN 1 END), 6) AS m3,
        |    count(CASE WHEN rk <= 200 THEN 1 END) AS n4,
        |    round(CAST(sum(CASE WHEN rk <= 200 THEN v END) AS DOUBLE) / count(CASE WHEN rk <= 200 THEN 1 END), 6) AS m4
        |  FROM rk WHERE rk <= 200 GROUP BY arm),
        |r1 AS (SELECT *, row_number() OVER (ORDER BY m1 DESC, arm) AS rank1 FROM arms),
        |r2 AS (SELECT *, row_number() OVER (ORDER BY m2 DESC, arm) AS rank2 FROM r1 WHERE rank1 <= 8),
        |r3 AS (SELECT *, row_number() OVER (ORDER BY m3 DESC, arm) AS rank3 FROM r2 WHERE rank2 <= 4),
        |r4 AS (SELECT *, row_number() OVER (ORDER BY m4 DESC, arm) AS rank4 FROM r3 WHERE rank3 <= 2)
        |SELECT * FROM (
        |  SELECT 1 AS stage, arm, n1::BIGINT AS n_used, m1 AS mean_reward,
        |    CASE WHEN rank1 <= 8 THEN 1 ELSE 0 END AS kept FROM r1
        |  UNION ALL SELECT 2, arm, n2::BIGINT, m2,
        |    CASE WHEN rank2 <= 4 THEN 1 ELSE 0 END FROM r2
        |  UNION ALL SELECT 3, arm, n3::BIGINT, m3,
        |    CASE WHEN rank3 <= 2 THEN 1 ELSE 0 END FROM r3
        |  UNION ALL SELECT 4, arm, n4::BIGINT, m4,
        |    CASE WHEN rank4 <= 1 THEN 1 ELSE 0 END FROM r4)
        |ORDER BY stage, mean_reward DESC, arm""".stripMargin))
}
