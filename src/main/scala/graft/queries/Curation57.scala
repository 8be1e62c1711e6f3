package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.operators.Similarity
import graft.sources.Tables

/** Round-11 wave 26: stream-static SCD2 as-of enrichment, the IVF
  * probe-count operating curve, speculative-decoding acceptance
  * planning, and a point-in-time feature-leakage audit.
  */
object Curation57 {

  /** q436: stream-static SCD2 as-of enrichment — the streaming side of
    * q231's point-in-time dimension lookup: purchases stream through a
    * stateless per-batch broadcast RANGE join against the static SCD2
    * interval frame (validity from ≤ ts < validity to), the standard
    * "enrich events with the dimension version that was live at event
    * time" production shape. Stateless means no state store and no
    * watermark — the contract is that the multi-batch streaming result
    * equals the batch join EXACTLY (the oracle is the batch SQL), and
    * the static side is re-planned per micro-batch. Two time-half
    * files force at least two real batches through the join.
    */
  private val q436StreamScd2Enrich: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts"),
      col("event_type"), floor(col("value") / 100).cast(LongType).as("attr"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segs = ev
      .withColumn("is_start", when(lag(col("attr"), 1).over(w).isNull ||
        lag(col("attr"), 1).over(w) =!= col("attr"), 1).otherwise(0))
      .withColumn("seg_id", sum(col("is_start")).over(wr))
      .groupBy(col("user_id").as("d_user"), col("seg_id"), col("attr"))
      .agg(min(col("ts")).as("vfrom"))
    val iv = segs.withColumn("vto",
      lead(col("vfrom"), 1).over(Window.partitionBy("d_user").orderBy("seg_id")))
      .select("d_user", "attr", "vfrom", "vto")
    val probe = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val r = probe.agg(min(col("ts")).as("a"), max(col("ts")).as("b")).head()
    val midUs = (r.getTimestamp(0).getTime + r.getTimestamp(1).getTime) / 2 * 1000L
    val root = graft.operators.Materialize.jvmScratch(
      "scd2-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
    val mid = lit(new java.sql.Timestamp(midUs / 1000L))
    Curation50.addBatchFile(probe.filter(col("ts") <= mid), root, "01_batch.parquet", 2)
    Curation50.addBatchFile(probe.filter(col("ts") > mid), root, "02_batch.parquet", 1)
    def enriched = s.readStream.schema(probe.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/input")
      .join(broadcast(iv), col("user_id") === col("d_user") &&
        col("ts") >= col("vfrom") && (col("vto").isNull || col("ts") < col("vto")))
      .select(col("user_id"), col("event_id"), col("attr"))
    Curation50.runRestartable(enriched, ckpt, outDir, "append")
    Curation50.readSink(s, outDir)
      .groupBy("attr")
      .agg(count(lit(1)).as("n_lookups"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("checksum"))
      .orderBy("attr")
  }

  /** q437: IVF probe-count operating curve — the index-tuning readout
    * next to q421's LSH planner: recall@3 against the exact brute
    * force at nprobe ∈ {1, 2, 4}, with the nominal scanned-cell
    * fraction each probe level pays. One exact baseline + three probed
    * searches over the SAME √n centroid layout (q77's sizing), each a
    * broadcast-probe + cell-equi-join + native top-k — the curve an
    * index operator reads to pick its latency/recall point.
    */
  private val q437IvfProbeCurve: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val nVec = Tables.rowCount(s, d, "embeddings")
    // corpus-capped query sample (~<=256 queries at any scale): a fixed
    // %25 made |Q| linear in n and the exact baseline O(n^2/25) —
    // measured 524 s / 89.5x at the sf10 paired decade
    val qm = Similarity.fixedCountModulus(nVec)
    val q = e.filter(col("vec_id") % qm === 0)
    val m = Similarity.sqrtModulus(nVec)
    val cent = e.filter(col("vec_id") % m === 0)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .select(col("qid"), col("nid"))
    val nq = broadcast(exact.agg(countDistinct(col("qid")).as("nq"),
      count(lit(1)).as("n_exact")))
    val nCells = broadcast(cent.agg(count(lit(1)).as("ncells")))
    // the n×cells assignment is nprobe-independent: pay it ONCE and
    // share across the three probe levels (three ivfTopK calls re-ran
    // it three times — 169 s of the sf10 measurement was assignment)
    val assigned = Similarity.assignCells(e, cent, "vec_id", "embedding").persist()
    val curves = Seq(1, 2, 4).map { np =>
      Similarity.ivfTopKAssigned(assigned, q, cent, "vec_id", "embedding",
          k = 3, nprobe = np)
        .select(col("qid").as("aq"), col("nid").as("an"))
        .join(exact, col("aq") === col("qid") && col("an") === col("nid"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np).as("nprobe"), col("n_hits"))
    }.reduce(_.unionByName(_))
    val out = curves.crossJoin(nq).crossJoin(nCells)
      .select(col("nprobe"), col("n_hits"),
        round(col("n_hits") / col("n_exact"), 6).as("recall_at_3"),
        round(col("nprobe") / col("ncells").cast(DoubleType), 6).as("nominal_cell_frac"))
      .orderBy("nprobe")
    graft.operators.Materialize.spillRelease(out, assigned)
  }

  /** q438: speculative-decoding acceptance planning — how many draft
    * tokens a cheap model's proposals survive under the target model:
    * draft = add-1 unigram LM, target = add-1 bigram LM (q137's
    * estimator), both self-trained on the corpus; per-token acceptance
    * = min(1, p_target/p_draft) (the speculative-sampling rule), and
    * the per-source expected tokens per target pass with γ=4 drafts is
    * (1 − a^5)/(1 − a) — the capacity-planning number for a draft-model
    * deployment. Keyed count joins (bigram, prefix, unigram) + two
    * 1-row broadcasts; per-token terms round at 9 dp into decimal sums.
    */
  private val q438SpecDecodeAcceptance: Q = (s, d) => {
    import graft.functions.TextFunctions.words
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val bigrams = docs
      .select(col("source"),
        explode(transform(sequence(lit(2), size(col("w"))), i =>
          struct(element_at(col("w"), i - 1).as("prev"),
            element_at(col("w"), i).as("cur")))).as("bg"))
      .select(col("source"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val allTokens = docs.select(explode(col("w")).as("tok"))
    val uniCounts = allTokens.groupBy(col("tok").as("cur")).agg(count(lit(1)).as("cu"))
    val totV = broadcast(allTokens.agg(count(lit(1)).as("tt"),
      countDistinct(col("tok")).as("v")))
    val bgCounts = bigrams.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val prefCounts = bigrams.groupBy("prev").agg(count(lit(1)).as("cp"))
    val acc = bigrams
      .join(bgCounts, Seq("prev", "cur"))
      .join(prefCounts, Seq("prev"))
      .join(uniCounts, Seq("cur"))
      .crossJoin(totV)
      .withColumn("p_t", (col("cb") + 1).cast(DoubleType) /
        (col("cp") + col("v")).cast(DoubleType))
      .withColumn("p_d", (col("cu") + 1).cast(DoubleType) /
        (col("tt") + col("v")).cast(DoubleType))
      .withColumn("a", round(least(lit(1.0), col("p_t") / col("p_d")), 9)
        .cast(DecimalType(20, 9)))
    acc.groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum(col("a")).as("sa"))
      .withColumn("mean_accept", col("sa").cast(DoubleType) / col("n_tokens"))
      .select(col("source"), col("n_tokens"),
        round(col("mean_accept"), 6).as("mean_accept"),
        // (1-a^5)/(1-a) written as the polynomial 1+a+a^2+a^3+a^4: at
        // scale the bigram LM dominates the unigram draft on nearly
        // every transition, mean acceptance hits EXACTLY 1.0 (it did at
        // sf10), and the quotient form divides by zero under ANSI mode
        round(lit(1.0) + col("mean_accept") + pow(col("mean_accept"), 2) +
          pow(col("mean_accept"), 3) + pow(col("mean_accept"), 4), 6)
          .as("expected_tokens_per_pass"))
      .orderBy("source")
  }

  /** q439: point-in-time feature-leakage audit — the ML-ops check that
    * a feature join is AS-OF correct: for every purchase (label event),
    * compare the user's mean click value computed the WRONG way (over
    * all time — the naive join that leaks future data) against the
    * point-in-time value (clicks strictly before the label). The gap
    * IS the leakage a backtest would silently absorb. As-of values come
    * from user-keyed running windows over the merged event sequence
    * (one shuffle, no per-label rescan); naive values are one keyed
    * aggregate joined back. Cold-start labels (no prior clicks) are
    * counted, not averaged.
    */
  private val q439FeatureLeakageAudit: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        round(col("value"), 2).cast(DecimalType(18, 2)).as("v"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val zeroDec = lit(0).cast(DecimalType(18, 2))
    val run = ev
      .withColumn("ck_sum", sum(when(col("event_type") === "click", col("v"))
        .otherwise(zeroDec)).over(w))
      .withColumn("ck_n", sum(when(col("event_type") === "click", 1L)
        .otherwise(0L)).over(w))
    // at a purchase row the running click stats INCLUDE only prior rows
    // plus itself (not a click) — so they are strictly point-in-time
    val labels = run.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ck_sum"), col("ck_n"))
    val naive = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(sum(col("v")).as("all_sum"), count(lit(1)).as("all_n"))
    labels.join(naive, Seq("user_id"), "left").na.fill(0L, Seq("all_n"))
      .select((col("user_id") % 4).as("cohort"),
        when(col("ck_n") > 0, 1L).otherwise(0L).as("warm"),
        when(col("ck_n") > 0, round(col("ck_sum").cast(DoubleType) / col("ck_n"), 9))
          .otherwise(lit(0.0)).cast(DecimalType(20, 9)).as("asof_m"),
        when(col("ck_n") > 0, round(col("all_sum").cast(DoubleType) / col("all_n"), 9))
          .otherwise(lit(0.0)).cast(DecimalType(20, 9)).as("naive_m"))
      .groupBy("cohort")
      .agg(count(lit(1)).as("n_labels"),
        (count(lit(1)) - sum(col("warm"))).as("n_cold"),
        round(sum(col("naive_m")).cast(DoubleType) / sum(col("warm")), 6)
          .as("mean_naive"),
        round(sum(col("asof_m")).cast(DoubleType) / sum(col("warm")), 6)
          .as("mean_asof"),
        round((sum(col("naive_m")) - sum(col("asof_m"))).cast(DoubleType) /
          sum(col("warm")), 6).as("leak_gap"))
      .orderBy("cohort")
  }

  /** q437's per-nprobe recall CTE block (modeled on the q77 oracle,
    * generated per probe level so the three variants cannot drift).
    */
  private def ivfRecallCte(np: Int): String =
    s"""probes$np AS (SELECT qid, e_q, cid FROM (
       |  SELECT q.qid, q.e_q, c.cid,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY round(list_dot_product(q.e_q, c.cv) /
       |        sqrt(list_dot_product(q.e_q, q.e_q) * list_dot_product(c.cv, c.cv)), 9) DESC,
       |        c.cid ASC) rn
       |  FROM q CROSS JOIN cent c) WHERE rn <= $np),
       |hits$np AS (SELECT qid, nid,
       |    list_dot_product(e_q, e_n) /
       |      sqrt(list_dot_product(e_q, e_q) * list_dot_product(e_n, e_n)) AS cos
       |  FROM probes$np JOIN assigned USING (cid) WHERE qid <> nid),
       |top$np AS (SELECT qid, nid FROM (SELECT qid, nid,
       |    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 9) DESC, nid ASC) rank
       |  FROM hits$np) WHERE rank <= 3),
       |m$np AS (SELECT count(*) n_hits FROM top$np JOIN exact USING (qid, nid))""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q436_stream_scd2_enrich", q436StreamScd2Enrich,
      """WITH ev AS (SELECT user_id, event_id, ts, event_type,
        |    CAST(floor(value / 100) AS BIGINT) attr FROM events),
        |seg AS (SELECT user_id, event_id, ts, attr,
        |    CASE WHEN lag(attr) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR lag(attr) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> attr
        |      THEN 1 ELSE 0 END is_start
        |  FROM ev),
        |seg2 AS (SELECT user_id, ts, attr,
        |    sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) seg_id
        |  FROM seg),
        |segs AS (SELECT user_id d_user, seg_id, attr, min(ts) vfrom
        |  FROM seg2 GROUP BY user_id, seg_id, attr),
        |iv AS (SELECT d_user, attr, vfrom,
        |    lead(vfrom) OVER (PARTITION BY d_user ORDER BY seg_id) vto FROM segs),
        |probe AS (SELECT user_id, event_id, ts FROM ev WHERE event_type = 'purchase')
        |SELECT attr, count(*) AS n_lookups,
        |  count(DISTINCT user_id)::BIGINT AS n_users,
        |  sum(event_id)::BIGINT AS checksum
        |FROM probe JOIN iv ON user_id = d_user
        |  AND ts >= vfrom AND (vto IS NULL OR ts < vto)
        |GROUP BY attr ORDER BY attr""".stripMargin),
    Query("q437_ivf_probe_curve", q437IvfProbeCurve, {
      val blocks = Seq(1, 2, 4).map(ivfRecallCte).mkString(",\n")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |mm AS (SELECT ${Similarity.sqrtModulusLadderSql("c")} m
        |  FROM (SELECT count(*) c FROM e)),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e, mm WHERE vec_id % m = 0),
        |assigned AS (SELECT vec_id AS nid, v AS e_n, cid FROM (
        |  SELECT e.vec_id, e.v, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |        sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv)), 9) DESC,
        |        c.cid ASC) rn
        |  FROM e CROSS JOIN cent c) WHERE rn = 1),
        |qm AS (SELECT ${Similarity.fixedCountModulusLadderSql("c")} q_m
        |  FROM (SELECT count(*) c FROM e)),
        |q AS (SELECT vec_id AS qid, v AS e_q FROM e, qm WHERE vec_id % q_m = 0),
        |exact AS (SELECT qid, nid FROM (
        |  SELECT q.qid, e2.vec_id AS nid, row_number() OVER (PARTITION BY q.qid
        |    ORDER BY round(list_dot_product(q.e_q, e2.v) /
        |      sqrt(list_dot_product(q.e_q, q.e_q) * list_dot_product(e2.v, e2.v)), 9) DESC,
        |      e2.vec_id ASC) rn
        |  FROM q JOIN e e2 ON e2.vec_id <> q.qid) WHERE rn <= 3),
        |ne AS (SELECT count(*) n_exact FROM exact),
        |nc AS (SELECT count(*) ncells FROM cent),
        |$blocks
        |SELECT nprobe, n_hits::BIGINT n_hits,
        |  round(n_hits / (SELECT n_exact * 1.0 FROM ne), 6) recall_at_3,
        |  round(nprobe / (SELECT ncells * 1.0 FROM nc), 6) nominal_cell_frac
        |FROM (SELECT 1 nprobe, n_hits FROM m1
        |  UNION ALL SELECT 2, n_hits FROM m2
        |  UNION ALL SELECT 4, n_hits FROM m4)
        |ORDER BY nprobe""".stripMargin
    }),
    Query("q438_spec_decode_acceptance", q438SpecDecodeAcceptance,
      """WITH docs AS (SELECT doc_id, source, str_split(text, ' ') w FROM documents
        |  WHERE len(str_split(text, ' ')) >= 2),
        |bigrams AS (SELECT source, w[i - 1] prev, w[i] cur
        |  FROM docs, unnest(generate_series(2, len(w))) t(i)),
        |alltok AS (SELECT unnest(w) tok FROM docs),
        |uni AS (SELECT tok cur, count(*) cu FROM alltok GROUP BY tok),
        |tv AS (SELECT count(*) tt, count(DISTINCT tok) v FROM alltok),
        |bg AS (SELECT prev, cur, count(*) cb FROM bigrams GROUP BY prev, cur),
        |pf AS (SELECT prev, count(*) cp FROM bigrams GROUP BY prev),
        |acc AS (SELECT source,
        |    CAST(round(least(1.0,
        |      ((cb + 1)::DOUBLE / (cp + v)) / ((cu + 1)::DOUBLE / (tt + v))), 9)
        |      AS DECIMAL(20,9)) a
        |  FROM bigrams JOIN bg USING (prev, cur) JOIN pf USING (prev)
        |    JOIN uni USING (cur), tv)
        |SELECT source, count(*) AS n_tokens,
        |  round(CAST(sum(a) AS DOUBLE) / count(*), 6) mean_accept,
        |  round(1.0 + CAST(sum(a) AS DOUBLE) / count(*)
        |    + pow(CAST(sum(a) AS DOUBLE) / count(*), 2)
        |    + pow(CAST(sum(a) AS DOUBLE) / count(*), 3)
        |    + pow(CAST(sum(a) AS DOUBLE) / count(*), 4), 6)
        |    expected_tokens_per_pass
        |FROM acc GROUP BY source ORDER BY source""".stripMargin),
    Query("q439_feature_leakage_audit", q439FeatureLeakageAudit,
      """WITH ev AS (SELECT user_id, event_id, ts, event_type,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) v FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |run AS (SELECT user_id, event_type,
        |    sum(CASE WHEN event_type = 'click' THEN v
        |        ELSE CAST(0 AS DECIMAL(18,2)) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ck_sum,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ck_n
        |  FROM ev),
        |labels AS (SELECT user_id, ck_sum, ck_n FROM run WHERE event_type = 'purchase'),
        |naive AS (SELECT user_id, sum(v) all_sum, count(*) all_n FROM ev
        |  WHERE event_type = 'click' GROUP BY user_id),
        |j AS (SELECT labels.user_id % 4 cohort,
        |    CASE WHEN ck_n > 0 THEN 1 ELSE 0 END warm,
        |    CAST(CASE WHEN ck_n > 0
        |      THEN round(CAST(ck_sum AS DOUBLE) / ck_n, 9) ELSE 0.0 END
        |      AS DECIMAL(20,9)) asof_m,
        |    CAST(CASE WHEN ck_n > 0
        |      THEN round(CAST(all_sum AS DOUBLE) / all_n, 9) ELSE 0.0 END
        |      AS DECIMAL(20,9)) naive_m
        |  FROM labels LEFT JOIN naive USING (user_id))
        |SELECT cohort, count(*) AS n_labels,
        |  (count(*) - sum(warm))::BIGINT AS n_cold,
        |  round(CAST(sum(naive_m) AS DOUBLE) / sum(warm), 6) mean_naive,
        |  round(CAST(sum(asof_m) AS DOUBLE) / sum(warm), 6) mean_asof,
        |  round(CAST(sum(naive_m) - sum(asof_m) AS DOUBLE) / sum(warm), 6) leak_gap
        |FROM j GROUP BY cohort ORDER BY cohort""".stripMargin))
}
