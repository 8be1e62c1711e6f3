package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.{dec2, dotNative, normSqNative}
import graft.functions.TextFunctions.{mdHash, mdHashSql, words}
import graft.sources.Tables

/** Round-7 wave 10: evaluation & governance — retrieval MRR, blocked
  * entity-resolution scoring, inverse-propensity off-policy evaluation,
  * Cohen's kappa gate agreement, and a Simpson's-paradox aggregation
  * audit.
  */
object Curation28 {

  /** q314: Mean Reciprocal Rank of label-match retrieval — every 25th
    * vector queries the corpus, neighbors rank by exact cosine (q75's
    * candidate discipline), and the first same-label neighbor inside
    * the top-10 scores 1/rank. Per-query work is the brute-force
    * baseline the ANN variants are measured against; reciprocal ranks
    * sum as exact decimals.
    */
  private val q314MrrEval: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val qmod = graft.operators.Similarity.fixedCountModulus(Tables.rowCount(s, d, "embeddings"))
    val q = e.filter(col("vec_id") % qmod === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
    val sims = q.join(e, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"),
        col("vec_id").as("nid"), col("label").as("nlabel"),
        (dotNative(col("qv"), col("v")) /
          sqrt(normSqNative(col("qv")) * normSqNative(col("v")))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("cos"), 9).desc, col("nid"))
    val top = sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
    val firstHit = top.filter(col("nlabel") === col("qlabel"))
      .groupBy("qid").agg(min(col("rnk")).as("hit_rank"))
    q.join(firstHit, Seq("qid"), "left")
      .agg(count(lit(1)).as("n_queries"),
        round(sum(coalesce((lit(1.0) / col("hit_rank").cast(DoubleType))
          .cast(DecimalType(20, 12)), lit(0).cast(DecimalType(20, 12))))
          .cast(DoubleType) / count(lit(1)).cast(DoubleType), 6).as("mrr"),
        sum((col("hit_rank") === 1).cast(LongType)).as("hits_at_1"),
        sum((col("hit_rank") <= 5).cast(LongType)).as("hits_at_5"),
        sum(col("hit_rank").isNotNull.cast(LongType)).as("hits_at_10"))
  }

  /** q315: blocked entity-resolution scoring (Fellegi-Sunter shape with
    * fixed log-weights — the EM fit is a separate concern) with
    * TARGET-SIZE blocking (`SCALE.md`, r7 verdict item 3): candidates
    * are same-(nation, balance-kilobucket) pairs at most B = 50 apart
    * in the (balance, id) rank order. Within a block, ranks are
    * contiguous under the (nat, kb, bal, id) total order, so whenever
    * every block holds <= B rows — true at the sf0.01 oracle gate, max
    * block 12 — the window covers every in-block pair and the result is
    * provably identical to the all-pairs-in-block contract. When blocks
    * outgrow B the candidate set is the bounded sorted-neighborhood
    * window (the same bounded-population discipline as q284's deletion
    * neighborhoods). Physically: distributed global rank
    * ([[graft.operators.Ranking.globalRank]] — no single-partition
    * window), chunk key = rank div B, and each row probes its own and
    * its predecessor chunk — join-key population is capped at 2B per
    * key regardless of corpus size, never all pairs. Scoring stays
    * in-row (the score is symmetric in the pair, so least/greatest id
    * normalization after the rank-ordered join preserves the pair
    * orientation); top-30 under a total order.
    */
  private val q315EntityResolution: Q = (s, d) => {
    val B = 50
    val c = Tables.customer(s, d).select(col("c_custkey").as("id"),
      col("c_name").as("nm"), col("c_nationkey").as("nat"),
      col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") / 1000).cast(LongType).as("kb"))
    val ranked = graft.operators.Ranking.globalRank(c, "grk",
      col("nat"), col("kb"), col("bal"), col("id"))
      .withColumn("ck", expr(s"(grk - 1) div $B"))
    val a = ranked.select(col("nat"), col("kb"), col("ck"),
      col("id").as("id_x"), col("nm").as("nm_x"), col("bal").as("bal_x"),
      col("seg").as("seg_x"), col("grk").as("rk_x"))
    val b = ranked.select(col("nat"), col("kb"),
      explode(array(col("ck"), col("ck") - 1)).as("ck"),
      col("id").as("id_y"), col("nm").as("nm_y"), col("bal").as("bal_y"),
      col("seg").as("seg_y"), col("grk").as("rk_y"))
    a.join(b, Seq("nat", "kb", "ck"))
      .filter((col("rk_y") - col("rk_x")).between(1, B))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        (when(col("seg_x") === col("seg_y"), 1.099).otherwise(-0.511) +
          when(abs(col("bal_x") - col("bal_y")) <= 100.0, 1.386).otherwise(-0.288) +
          when(length(col("nm_x")) === length(col("nm_y")), 0.405).otherwise(-0.105))
          .as("score"))
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("id_a"), col("id_b"))
      .limit(30)
  }

  /** q316: inverse-propensity off-policy evaluation — logged actions
    * are event types, behavior propensities are the empirical
    * per-context action frequencies, the target policy is uniform.
    * IPS and self-normalized IPS per context from two keyed aggregates;
    * per-event terms sum as fixed-scale decimals so the estimate is
    * partition-order exact.
    */
  private val q316IpsEval: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(pmod(col("user_id"), lit(4)).as("ctx"), col("event_type"),
        least(col("value") / 500.0, lit(1.0)).as("r"))
    val nActions = ev.agg(count_distinct(col("event_type")).as("na"))
    val prop = ev.groupBy("ctx", "event_type").agg(count(lit(1)).as("nxa"))
    val nctx = ev.groupBy("ctx").agg(count(lit(1)).as("nx"))
    ev.join(broadcast(prop), Seq("ctx", "event_type"))
      .join(broadcast(nctx), Seq("ctx"))
      .crossJoin(broadcast(nActions))
      .select(col("ctx"),
        ((lit(1.0) / col("na").cast(DoubleType)) /
          (col("nxa").cast(DoubleType) / col("nx").cast(DoubleType))).as("w"),
        col("r"))
      .select(col("ctx"), (col("r") * col("w")).cast(DecimalType(24, 10)).as("rw"),
        col("w").cast(DecimalType(24, 10)).as("wd"))
      .groupBy("ctx")
      .agg(count(lit(1)).as("n"),
        round(sum(col("rw")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("ips"),
        round(sum(col("rw")).cast(DoubleType) /
          sum(col("wd")).cast(DoubleType), 6).as("snips"),
        round(sum(col("wd")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("avg_w"))
      .orderBy("ctx")
  }

  /** q317: Cohen's kappa between two independent document quality gates
    * (type-token-ratio rule vs the q140 hashed linear classifier) — the
    * chance-corrected agreement a labeling pipeline reports before it
    * trusts a cheap gate as a proxy for an expensive one. One corpus
    * scan to the 2x2 confusion, closed form after.
    */
  private val q317AgreementKappa: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val w = words(col("text"))
    val g1 = (size(array_distinct(w)).cast(DoubleType) /
      size(w).cast(DoubleType) >= 0.6).cast(LongType)
    val wsum = aggregate(
      transform(w, t => pmod(mdHash(concat_ws("|", lit("w"), t)), lit(2001L)) - lit(1000L)),
      lit(0L), (acc, x) => acc + x)
    val g2 = (lit(1.0) / (lit(1.0) + exp(-wsum.cast(DoubleType) /
      (lit(1000.0) * size(w).cast(DoubleType)))) >= 0.5).cast(LongType)
    val conf = docs.select(g1.as("g1"), g2.as("g2"))
      .agg(count(lit(1)).as("n"),
        sum(col("g1") * col("g2")).as("n11"),
        sum(col("g1") * (lit(1L) - col("g2"))).as("n10"),
        sum((lit(1L) - col("g1")) * col("g2")).as("n01"),
        sum((lit(1L) - col("g1")) * (lit(1L) - col("g2"))).as("n00"))
    val nD = col("n").cast(DoubleType)
    val po = (col("n11") + col("n00")).cast(DoubleType) / nD
    val pe = ((col("n11") + col("n10")).cast(DoubleType) / nD) *
      ((col("n11") + col("n01")).cast(DoubleType) / nD) +
      ((col("n01") + col("n00")).cast(DoubleType) / nD) *
      ((col("n10") + col("n00")).cast(DoubleType) / nD)
    conf.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** q318: Simpson's-paradox audit — the per-group OLS slope of value
    * against hour-of-day vs the pooled slope, flagging sign flips (the
    * aggregation-bias check a metrics review runs before trusting a
    * pooled trend). Integer x sums and decimal y sums make both slopes
    * engine-exact; groups and the pooled row are bounded aggregates.
    */
  private val q318SimpsonAudit: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_type"), hour(col("ts")).cast(LongType).as("x"),
        col("value"))
    def sums(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(dec2(col("value"))).as("sy"),
        sum((col("x") * dec2(col("value"))).cast(DecimalType(28, 2))).as("sxy"))
    def slope = (col("n").cast(DoubleType) * col("sxy").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
      (col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
    val per = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(dec2(col("value"))).as("sy"),
        sum((col("x") * dec2(col("value"))).cast(DecimalType(28, 2))).as("sxy"))
      .select(col("event_type"), col("n"), round(slope, 6).as("slope_group"))
    val pooled = sums(ev).select(round(slope, 6).as("slope_pooled"))
    per.crossJoin(broadcast(pooled))
      .select(col("event_type"), col("n"), col("slope_group"), col("slope_pooled"),
        (signum(col("slope_group")) =!= signum(col("slope_pooled"))).as("flipped"))
      .orderBy("event_type")
  }

  val queries: Seq[Query] = Seq(
    Query("q314_mrr_eval", q314MrrEval,
      s"""WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |qm2 AS (SELECT ${graft.operators.Similarity.fixedCountModulusLadderSql("c")} q_m
        |  FROM (SELECT count(*) c FROM e)),
        |q AS (SELECT vec_id qid, label qlabel, v qv FROM e, qm2 WHERE vec_id % q_m = 0),
        |sims AS (SELECT qid, qlabel, e.vec_id nid, e.label nlabel,
        |    list_dot_product(qv, v) /
        |      sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)) cos
        |  FROM q JOIN e ON e.vec_id <> qid),
        |ranked AS (SELECT qid, qlabel, nlabel,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY round(cos, 9) DESC, nid ASC) rnk FROM sims),
        |fh AS (SELECT qid, min(rnk) hit_rank FROM ranked
        |  WHERE rnk <= 10 AND nlabel = qlabel GROUP BY qid)
        |SELECT count(*)::BIGINT AS n_queries,
        |  round(CAST(sum(coalesce(CAST(1.0 / hit_rank AS DECIMAL(20,12)), 0))
        |    AS DOUBLE) / count(*)::DOUBLE, 6) AS mrr,
        |  sum(CASE WHEN hit_rank = 1 THEN 1 ELSE 0 END)::BIGINT AS hits_at_1,
        |  sum(CASE WHEN hit_rank <= 5 THEN 1 ELSE 0 END)::BIGINT AS hits_at_5,
        |  sum(CASE WHEN hit_rank IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits_at_10
        |FROM q LEFT JOIN fh USING (qid)""".stripMargin),
    Query("q315_entity_resolution", q315EntityResolution,
      // Target-size blocking contract (B = 50, the engine default):
      // same-(nat, kb) pairs at most B apart in the (bal, id) rank
      // order. Identical to the legacy unbounded block join whenever
      // every block holds <= B rows (sf0.01 max block = 12).
      """WITH c AS (SELECT c_custkey id, c_name nm, c_nationkey nat,
        |    c_acctbal bal, c_mktsegment seg, floor(c_acctbal / 1000)::BIGINT kb
        |  FROM customer),
        |r AS (SELECT *, row_number() OVER (ORDER BY nat, kb, bal, id) rk FROM c)
        |SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
        |  round(
        |    (CASE WHEN a.seg = b.seg THEN 1.099 ELSE -0.511 END) +
        |    (CASE WHEN abs(a.bal - b.bal) <= 100.0 THEN 1.386 ELSE -0.288 END) +
        |    (CASE WHEN len(a.nm) = len(b.nm) THEN 0.405 ELSE -0.105 END), 6) AS score
        |FROM r a JOIN r b ON a.nat = b.nat AND a.kb = b.kb
        |  AND b.rk - a.rk BETWEEN 1 AND 50
        |ORDER BY score DESC, id_a, id_b LIMIT 30""".stripMargin),
    Query("q316_ips_eval", q316IpsEval,
      """WITH ev AS (SELECT user_id % 4 ctx, event_type,
        |    least(value / 500.0, 1.0) r FROM events),
        |na AS (SELECT count(DISTINCT event_type) na FROM ev),
        |prop AS (SELECT ctx, event_type, count(*) nxa FROM ev GROUP BY 1, 2),
        |nctx AS (SELECT ctx, count(*) nx FROM ev GROUP BY ctx),
        |terms AS (SELECT ev.ctx,
        |    CAST(ev.r * ((1.0 / na) / (nxa::DOUBLE / nx::DOUBLE))
        |      AS DECIMAL(24,10)) rw,
        |    CAST((1.0 / na) / (nxa::DOUBLE / nx::DOUBLE) AS DECIMAL(24,10)) wd
        |  FROM ev JOIN prop USING (ctx, event_type) JOIN nctx USING (ctx)
        |  CROSS JOIN na)
        |SELECT ctx::BIGINT AS ctx, count(*)::BIGINT AS n,
        |  round(CAST(sum(rw) AS DOUBLE) / count(*)::DOUBLE, 6) AS ips,
        |  round(CAST(sum(rw) AS DOUBLE) / CAST(sum(wd) AS DOUBLE), 6) AS snips,
        |  round(CAST(sum(wd) AS DOUBLE) / count(*)::DOUBLE, 6) AS avg_w
        |FROM terms GROUP BY ctx ORDER BY ctx""".stripMargin),
    Query("q317_agreement_kappa", q317AgreementKappa,
      s"""WITH g AS (SELECT
         |    CASE WHEN len(list_distinct(str_split(text, ' ')))::DOUBLE /
         |      len(str_split(text, ' '))::DOUBLE >= 0.6 THEN 1 ELSE 0 END g1,
         |    CASE WHEN 1.0 / (1.0 + exp(-(list_aggregate(list_transform(
         |        str_split(text, ' '),
         |        t -> ${mdHashSql("'w|' || t")} % 2001 - 1000), 'sum')::DOUBLE) /
         |      (1000.0 * len(str_split(text, ' '))::DOUBLE))) >= 0.5
         |      THEN 1 ELSE 0 END g2
         |  FROM documents),
         |conf AS (SELECT count(*) n, sum(g1 * g2) n11, sum(g1 * (1 - g2)) n10,
         |    sum((1 - g1) * g2) n01, sum((1 - g1) * (1 - g2)) n00
         |  FROM g)
         |SELECT n::BIGINT AS n, n11::BIGINT AS n11, n10::BIGINT AS n10,
         |  n01::BIGINT AS n01, n00::BIGINT AS n00,
         |  round((n11 + n00)::DOUBLE / n::DOUBLE, 6) AS po,
         |  round((n11 + n10)::DOUBLE / n * ((n11 + n01)::DOUBLE / n) +
         |    (n01 + n00)::DOUBLE / n * ((n10 + n00)::DOUBLE / n), 6) AS pe,
         |  round(((n11 + n00)::DOUBLE / n -
         |      ((n11 + n10)::DOUBLE / n * ((n11 + n01)::DOUBLE / n) +
         |       (n01 + n00)::DOUBLE / n * ((n10 + n00)::DOUBLE / n))) /
         |    (1.0 - ((n11 + n10)::DOUBLE / n * ((n11 + n01)::DOUBLE / n) +
         |       (n01 + n00)::DOUBLE / n * ((n10 + n00)::DOUBLE / n))), 6) AS kappa
         |FROM conf""".stripMargin),
    Query("q318_simpson_audit", q318SimpsonAudit,
      """WITH ev AS (SELECT event_type, hour(ts)::BIGINT x, value FROM events),
        |per AS (SELECT event_type, count(*) n, sum(x) sx, sum(x * x) sxx,
        |    sum(CAST(value AS DECIMAL(18,2))) sy,
        |    sum(CAST(x * CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,2))) sxy
        |  FROM ev GROUP BY event_type),
        |pooled AS (SELECT count(*) n, sum(x) sx, sum(x * x) sxx,
        |    sum(CAST(value AS DECIMAL(18,2))) sy,
        |    sum(CAST(x * CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,2))) sxy
        |  FROM ev),
        |ps AS (SELECT round((n::DOUBLE * CAST(sxy AS DOUBLE) -
        |      sx::DOUBLE * CAST(sy AS DOUBLE)) /
        |    (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6) slope_pooled
        |  FROM pooled),
        |grp AS (SELECT event_type, n::BIGINT AS n,
        |  round((n::DOUBLE * CAST(sxy AS DOUBLE) - sx::DOUBLE * CAST(sy AS DOUBLE)) /
        |    (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6) AS slope_group
        |  FROM per)
        |SELECT event_type, n, slope_group, slope_pooled,
        |  sign(slope_group) <> sign(slope_pooled) AS flipped
        |FROM grp CROSS JOIN ps ORDER BY event_type""".stripMargin))
}
