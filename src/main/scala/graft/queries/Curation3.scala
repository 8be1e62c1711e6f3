package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Q, Query}
import graft.operators.Bpe
import graft.sources.{Bucketing, Tables}

/** Round-4 wave: storage-layout joins, tokenizer training, evaluation
  * metrics, and the remaining curation statistics.
  *
  *  - q152: bucketed co-located join — the pay-the-shuffle-once layout
  *  - q153: distributed BPE merge learning (tokenizer training)
  *  - q154: n-gram diversity / type-token corpus health per source
  *  - q155: temperature-scaled (UniMax-style) language mixture
  *  - q156: binary-file ingest (multimodal blob source → hash manifest)
  *  - q157: AUC via the Mann-Whitney rank statistic
  *  - q158: calibration bins + expected-calibration-error terms
  *  - q159: logistic-regression quality-classifier training (3 GD steps)
  *  - q160: funnel conversion over the event stream
  *
  * Determinism follows the house pattern: transcendentals computed in
  * double, per-row terms cast to DECIMAL(20+,9+) before any sum, final
  * display rounding — partition-order independent at any scale.
  */
object Curation3 {

  import graft.functions.TextFunctions.{mdHash, words}

  /** Bucketed SortMergeJoin: both sides pre-bucketed+sorted by order
    * key, so the join runs with no Exchange and no Sort (PlanQualitySpec
    * pins it). The aggregate after the join is the only shuffle, and it
    * moves |priorities| rows. At 100 TB this is the difference between
    * re-shuffling 700 GB per join and a per-bucket streaming merge.
    */
  private val q152BucketedJoin: Q = (s, d) => {
    Bucketing.ensure(s, d)
    val o = s.table(Bucketing.ordersTable(d))
    val l = s.table(Bucketing.lineitemTable(d))
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_returnflag") === "R")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))
          * (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
          .cast(DoubleType).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** BPE tokenizer training: 6 merges learned from the corpus
    * word-frequency vocabulary (see [[graft.operators.Bpe]] for the
    * scale argument — the word count is the only corpus pass, and one
    * task learns every merge from its |V| rows). A lazy plan: building
    * it runs no job. Oracle unrolls the same 6 rounds in SQL.
    */
  private val q153BpeMerges: Q = (s, d) => {
    val vocab = Tables.documents(s, d)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    Bpe.learnMerges(s, vocab, rounds = 6).orderBy("round")
  }

  /** Corpus diversity per source: distinct-to-total ratios for unigrams
    * and word 3-grams (the self-repetition / mode-collapse signal used
    * to monitor synthetic-data pipelines). Pure scan + two shuffled
    * aggs; ratios are exact LONG/LONG doubles.
    */
  private val q154NgramDiversity: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("source"), words(col("text")).as("w"))
    val uni = docs.select(col("source"), explode(col("w")).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("g")).as("n_types"))
    val tri = docs.filter(size(col("w")) >= 3)
      .select(col("source"),
        explode(expr("transform(sequence(3, size(w)), i -> concat_ws(' ', w[i-3], w[i-2], w[i-1]))")).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_trigrams"),
        count_distinct(col("g")).as("n_tri_types"))
    uni.join(tri, "source")
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast(DoubleType) / col("n_tokens").cast(DoubleType), 9).as("ttr"),
        col("n_trigrams"), col("n_tri_types"),
        round(col("n_tri_types").cast(DoubleType) / col("n_trigrams").cast(DoubleType), 9).as("tri_diversity"))
      .orderBy("source")
  }

  /** Temperature-scaled language mixture (the mT5/UniMax shape):
    * sampling share per language ∝ n_l^α (α=0.5 — sqrt flattening), a
    * 2000-doc budget, selection by deterministic hash rank. The
    * rank-inclusion test is `rn · S ≤ budget · s_l` — all-DECIMAL
    * products sized to stay inside DuckDB's 38-digit cap, no decimal
    * division anywhere, so the boundary is bit-exact cross-engine.
    * Selection shuffles only the per-language rank window; shares come
    * from a 5-row broadcast.
    */
  private val q155TemperatureMix: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val shares = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .select(col("lang"), col("n_l"),
        round(sqrt(col("n_l").cast(DoubleType)), 9).cast(DecimalType(15, 9)).as("s_l"))
    val total = shares.agg(sum(col("s_l")).cast(DecimalType(15, 9)).as("s_total"))
    val ranked = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(mdHash(concat_ws("|", lit("tmix"), col("doc_id"))), col("doc_id"))))
    ranked.join(broadcast(shares), "lang").crossJoin(broadcast(total))
      .filter(col("rn").cast(DecimalType(10, 0)) * col("s_total")
        <= lit(2000).cast(DecimalType(10, 0)) * col("s_l"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_selected"), max(col("n_l")).as("n_lang"),
        sum(col("n_chars")).as("chars_selected"))
      .orderBy("lang")
  }

  /** Multimodal blob ingest: one binary artifact per source (documents
    * concatenated in doc_id order) written by an executor-side kernel,
    * read back through Spark's `binaryFile` source as opaque (path,
    * length, content) blobs, manifested as content hashes. This is the
    * image/audio ingest path — blobs stay executor-side byte arrays end
    * to end; nothing but the 20-row manifest ever aggregates.
    */
  private val q156BinaryIngest: Q = (s, d) => {
    // per-JVM fixture root (Materialize.jvmScratch): concurrent runs on
    // the same sf can't delete files out from under each other's scans
    val dir = graft.operators.Materialize.jvmScratch(
      s"bin_${new java.io.File(d).getName}")
    val payloads = Tables.documents(s, d)
      .groupBy("source")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("text")))).as("ps"))
      .select(col("source"),
        concat_ws("\n", expr("transform(ps, p -> p.text)")).as("payload"))
    // fresh fixture dir, then executor-side file writes (local-mode FS);
    // listFiles (not Files.list) — no stream handle to leak
    val dp = new java.io.File(dir)
    if (dp.isDirectory) {
      val kids = dp.listFiles()
      if (kids != null) kids.foreach(f => java.nio.file.Files.delete(f.toPath))
    } else java.nio.file.Files.createDirectories(dp.toPath)
    payloads.repartition(4, col("source")).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/${r.getString(0)}.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }
    s.read.format("binaryFile").load(dir)
      .select(regexp_extract(col("path"), "([^/]+)\\.bin$", 1).as("source"),
        col("length"), md5(col("content")).as("content_md5"))
      .orderBy("source")
  }

  /** AUC of the first-embedding-coordinate score against the binary
    * label, via the Mann-Whitney rank-sum identity with tie midranks:
    * AUC = (Σ_{pos} midrank − P(P+1)/2) / (P·N).
    *
    * Scale shape: rows first collapse to one row per DISTINCT score
    * (one shuffled agg over the corpus); the rank window then runs over
    * that far smaller table, and doubled midranks keep everything in
    * LONG arithmetic — `rsum2 = Σ p·(2·cumN − n + 1)` — exact with no
    * decimals and no per-row global window; the only double op is the
    * final division. (At 100 TB the distinct-score table is what you'd
    * bin anyway; the identity is unchanged.)
    */
  private val q157RankAuc: Q = (s, d) => {
    val scored = Tables.embeddings(s, d)
      .select((col("label") >= 5).cast("int").as("y"),
        element_at(col("embedding"), 1).cast(DoubleType).as("score"))
    val byScore = scored.groupBy("score")
      .agg(count(lit(1)).as("n"), sum(col("y").cast("long")).as("p"))
      .withColumn("cum_n", sum(col("n")).over(
        Window.orderBy(col("score")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    byScore.agg(
        sum(col("p")).as("p"),
        sum(col("n") - col("p")).as("n"),
        sum(col("p") * (lit(2) * col("cum_n") - col("n") + lit(1))).as("rsum2"))
      .select(col("p"), col("n"),
        round((col("rsum2").cast(DoubleType) - col("p").cast(DoubleType) * (col("p").cast(DoubleType) + 1.0))
          / (lit(2.0) * col("p").cast(DoubleType) * col("n").cast(DoubleType)), 9).as("auc"))
  }

  /** Calibration table for the q140-style hashed quality score squashed
    * through the rational sigmoid σ̃(z) = 0.5 + z/(2(1+|z|)) — pure
    * IEEE arithmetic, bit-exact cross-engine (no exp). 10 probability
    * bins × (count, mean prediction, empirical positive rate) plus the
    * per-bin |gap|·weight ECE term. One scan + one 10-row agg.
    */
  private val q158Calibration: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val z = (col("n_chars").cast(DoubleType) - lit(300.0)) / lit(200.0)
    val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    val total = Tables.rowCount(s, d, "documents").toDouble
    docs.select((col("lang") === "en").cast("int").as("y"), p.as("p"))
      .withColumn("bin", least(floor(col("p") * 10).cast("int"), lit(9)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("p").cast(DecimalType(20, 9))).as("sp"),
        sum(col("y").cast("long")).as("sy"))
      .select(col("bin"), col("n"),
        round(col("sp").cast(DoubleType) / col("n").cast(DoubleType), 6).as("mean_p"),
        round(col("sy").cast(DoubleType) / col("n").cast(DoubleType), 6).as("frac_pos"),
        round(abs(col("sp").cast(DoubleType) / col("n").cast(DoubleType)
            - col("sy").cast(DoubleType) / col("n").cast(DoubleType))
          * col("n").cast(DoubleType) / lit(total), 6).as("ece_term"))
      .orderBy("bin")
  }

  /** Logistic-regression quality-classifier training: 3 full-batch
    * gradient steps on (bias, n_chars/1000) → P(lang = en), η = 0.1,
    * w₀ = 0, rational sigmoid (IEEE-exact, no libm). Each step is one
    * scan + one 2-term partial-aggregable sum — per-doc gradient terms
    * cast to DECIMAL(25,15) pre-sum, then the weight update is rounded
    * back to DECIMAL(20,9) so every round starts from a cross-engine
    * bit-exact weight vector. The in-engine trainer for the q140-style
    * quality gate: 3 jobs total, nothing on the driver but two scalars.
    */
  private val q159LogregGd: Q = (s, d) => {
    val data = Tables.documents(s, d)
      .select((col("lang") === "en").cast("int").cast(DoubleType).as("y"),
        (col("n_chars").cast(DoubleType) / lit(1000.0)).as("x"))
      .persist()
    var w0 = 0.0; var w1 = 0.0
    try {
      val n = data.count().toDouble
      for (_ <- 1 to 3) {
        val z = lit(w0) + lit(w1) * col("x")
        val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
        val r = data.select(
            ((p - col("y")) / lit(n)).cast(DecimalType(25, 15)).as("g0"),
            ((p - col("y")) * col("x") / lit(n)).cast(DecimalType(25, 15)).as("g1"))
          .agg(sum("g0").as("g0"), sum("g1").as("g1"))
          // the weight update (incl. its 9-digit re-rounding) runs inside
          // the engine so Spark's and DuckDB's round() are what's compared
          .select(round(lit(w0) - lit(0.1) * col("g0").cast(DoubleType), 9).as("w0"),
            round(lit(w1) - lit(0.1) * col("g1").cast(DoubleType), 9).as("w1"))
          .head()
        w0 = r.getDouble(0); w1 = r.getDouble(1)
      }
    } finally data.unpersist() // a failed step must not leak the cache
    val sess = s
    import sess.implicits._
    Seq(("w0", w0), ("w1", w1)).toDF("param", "value")
      .select(col("param"), round(col("value"), 6).as("value"))
      .orderBy("param")
  }

  /** Event-funnel conversion: users progressing view → click →
    * purchase in strict timestamp order. Three conditional min-ts
    * aggregates per user (one shuffle on user_id), then a 1-row rollup —
    * the standard product-analytics funnel, no self-join blowup.
    */
  private val q160Funnel: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val perUser = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(perUser, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"), max(col("t_view")).as("t_view"))
    val buys = ev.filter(col("event_type") === "purchase")
      .join(clicks, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_buy"))
    perUser.filter(col("t_view").isNotNull)
      .join(clicks.select(col("user_id"), lit(1).as("clicked")), Seq("user_id"), "left")
      .join(buys.select(col("user_id"), lit(1).as("bought")), Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_viewed"),
        sum(coalesce(col("clicked"), lit(0))).as("n_clicked_after_view"),
        sum(coalesce(col("bought"), lit(0))).as("n_purchased_after_click"))
  }

  /** One unrolled BPE round in the DuckDB oracle: pair-count `repr`,
    * pick the (weight desc, lhs, rhs) argmax, space-anchored replace.
    */
  private def bpeRound(prev: String, r: Int): String =
    s"""p$r AS (SELECT t[i-1] AS lhs, t[i] AS rhs, CAST(sum(freq) AS BIGINT) AS weight
       |  FROM (SELECT freq, t, unnest(generate_series(2, len(t))) AS i
       |        FROM (SELECT freq, string_split(trim(repr), '  ') AS t FROM $prev)
       |        WHERE len(t) >= 2)
       |  GROUP BY 1, 2),
       |b$r AS (SELECT * FROM p$r ORDER BY weight DESC, lhs, rhs LIMIT 1),
       |r$r AS (SELECT word, freq,
       |    coalesce(replace(repr, ' '||b.lhs||'  '||b.rhs||' ', ' '||b.lhs||b.rhs||' '), repr) AS repr
       |  FROM r${r - 1} LEFT JOIN b$r b ON TRUE)""".stripMargin

  /** The 6-round BPE CTE chain (v → r0 → … → b6/r6), shared by the
    * q153 (learn) and q165 (encode) oracles.
    */
  private[queries] val bpeChain6: String =
    s"""WITH v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word),
       |r0 AS (SELECT word, freq,
       |    '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS repr FROM v),
       |""".stripMargin + (1 to 6).map(r => bpeRound(s"r${r - 1}", r)).mkString(",\n")

  val queries: Seq[Query] = Seq(
    Query("q152_bucketed_join", q152BucketedJoin,
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q153_bpe_merges", q153BpeMerges,
      (bpeChain6 +
        """
        |SELECT * FROM (
        |  SELECT 1 AS round, lhs, rhs, lhs||rhs AS merged, weight FROM b1
        |  UNION ALL SELECT 2, lhs, rhs, lhs||rhs, weight FROM b2
        |  UNION ALL SELECT 3, lhs, rhs, lhs||rhs, weight FROM b3
        |  UNION ALL SELECT 4, lhs, rhs, lhs||rhs, weight FROM b4
        |  UNION ALL SELECT 5, lhs, rhs, lhs||rhs, weight FROM b5
        |  UNION ALL SELECT 6, lhs, rhs, lhs||rhs, weight FROM b6
        |) ORDER BY round""".stripMargin)),
    Query("q154_ngram_diversity", q154NgramDiversity,
      """WITH docs AS (SELECT source, str_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT source, count(*) AS n_tokens,
        |    count(DISTINCT g) AS n_types
        |  FROM (SELECT source, unnest(w) AS g FROM docs) GROUP BY source),
        |tri AS (SELECT source, count(*) AS n_trigrams,
        |    count(DISTINCT g) AS n_tri_types
        |  FROM (SELECT source, w[i-2] || ' ' || w[i-1] || ' ' || w[i] AS g
        |        FROM (SELECT source, w, unnest(generate_series(3, len(w))) AS i
        |              FROM docs WHERE len(w) >= 3))
        |  GROUP BY source)
        |SELECT source, n_tokens, n_types,
        |  round(n_types::DOUBLE / n_tokens::DOUBLE, 9) AS ttr,
        |  n_trigrams, n_tri_types,
        |  round(n_tri_types::DOUBLE / n_trigrams::DOUBLE, 9) AS tri_diversity
        |FROM uni JOIN tri USING (source) ORDER BY source""".stripMargin),
    Query("q155_temperature_mix", q155TemperatureMix,
      """WITH shares AS (SELECT lang, count(*) AS n_l,
        |    CAST(round(sqrt(count(*)::DOUBLE), 9) AS DECIMAL(15,9)) AS s_l
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(s_l) AS DECIMAL(15,9)) AS s_total FROM shares),
        |ranked AS (SELECT d.lang, d.n_chars, s.n_l, s.s_l,
        |    row_number() OVER (PARTITION BY d.lang ORDER BY
        |      ('0x' || substr(md5('tmix|' || d.doc_id), 1, 15))::BIGINT, d.doc_id) AS rn
        |  FROM documents d JOIN shares s USING (lang))
        |SELECT lang, count(*) AS n_selected, max(n_l) AS n_lang,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_selected
        |FROM ranked, tot
        |WHERE CAST(rn AS DECIMAL(10,0)) * s_total <= CAST(2000 AS DECIMAL(10,0)) * s_l
        |GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q156_binary_ingest", q156BinaryIngest,
      """SELECT source,
        |  CAST(octet_length(encode(string_agg(text, chr(10) ORDER BY doc_id))) AS BIGINT) AS length,
        |  md5(string_agg(text, chr(10) ORDER BY doc_id)) AS content_md5
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    Query("q157_rank_auc", q157RankAuc,
      """WITH scored AS (SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
        |    CAST(embedding[1] AS DOUBLE) AS score FROM embeddings),
        |by_score AS (SELECT score, count(*) AS n, CAST(sum(y) AS BIGINT) AS p
        |  FROM scored GROUP BY score),
        |ranked AS (SELECT *, sum(n) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
        |  FROM by_score)
        |SELECT CAST(sum(p) AS BIGINT) AS p, CAST(sum(n - p) AS BIGINT) AS n,
        |  round((CAST(sum(p * (2 * cum_n - n + 1)) AS DOUBLE)
        |    - sum(p)::DOUBLE * (sum(p)::DOUBLE + 1.0))
        |    / (2.0 * sum(p)::DOUBLE * sum(n - p)::DOUBLE), 9) AS auc
        |FROM ranked""".stripMargin),
    Query("q158_calibration", q158Calibration,
      """WITH p AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    0.5 + ((n_chars::DOUBLE - 300.0) / 200.0)
        |      / (2.0 * (1.0 + abs((n_chars::DOUBLE - 300.0) / 200.0))) AS p
        |  FROM documents),
        |tot AS (SELECT count(*)::DOUBLE AS t FROM p)
        |SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(p AS DECIMAL(20,9))) AS DOUBLE) / count(*)::DOUBLE, 6) AS mean_p,
        |  round(CAST(sum(y) AS DOUBLE) / count(*)::DOUBLE, 6) AS frac_pos,
        |  round(abs(CAST(sum(CAST(p AS DECIMAL(20,9))) AS DOUBLE) / count(*)::DOUBLE
        |      - CAST(sum(y) AS DOUBLE) / count(*)::DOUBLE)
        |    * count(*)::DOUBLE / (SELECT t FROM tot), 6) AS ece_term
        |FROM p GROUP BY 1 ORDER BY bin""".stripMargin),
    Query("q159_logreg_gd", q159LogregGd,
      """WITH data AS (SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |    n_chars::DOUBLE / 1000.0 AS x FROM documents),
        |n AS (SELECT count(*)::DOUBLE AS n FROM data),
        |s1 AS (SELECT
        |    round(0.0 - 0.1 * CAST(sum(CAST((0.5 - y) / (SELECT n FROM n) AS DECIMAL(25,15))) AS DOUBLE), 9) AS w0,
        |    round(0.0 - 0.1 * CAST(sum(CAST((0.5 - y) * x / (SELECT n FROM n) AS DECIMAL(25,15))) AS DOUBLE), 9) AS w1
        |  FROM data),
        |s2 AS (SELECT
        |    round(w0 - 0.1 * CAST(sum(CAST((0.5 + (w0 + w1 * x) / (2.0 * (1.0 + abs(w0 + w1 * x))) - y) / (SELECT n FROM n) AS DECIMAL(25,15))) AS DOUBLE), 9) AS w0,
        |    round(w1 - 0.1 * CAST(sum(CAST((0.5 + (w0 + w1 * x) / (2.0 * (1.0 + abs(w0 + w1 * x))) - y) * x / (SELECT n FROM n) AS DECIMAL(25,15))) AS DOUBLE), 9) AS w1
        |  FROM data, s1 GROUP BY s1.w0, s1.w1),
        |s3 AS (SELECT
        |    round(w0 - 0.1 * CAST(sum(CAST((0.5 + (w0 + w1 * x) / (2.0 * (1.0 + abs(w0 + w1 * x))) - y) / (SELECT n FROM n) AS DECIMAL(25,15))) AS DOUBLE), 9) AS w0,
        |    round(w1 - 0.1 * CAST(sum(CAST((0.5 + (w0 + w1 * x) / (2.0 * (1.0 + abs(w0 + w1 * x))) - y) * x / (SELECT n FROM n) AS DECIMAL(25,15))) AS DOUBLE), 9) AS w1
        |  FROM data, s2 GROUP BY s2.w0, s2.w1)
        |SELECT 'w0' AS param, round(w0, 6) AS value FROM s3
        |UNION ALL SELECT 'w1', round(w1, 6) FROM s3
        |ORDER BY param""".stripMargin),
    Query("q160_funnel", q160Funnel,
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
        |b AS (SELECT e.user_id, min(e.ts) AS t_buy FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
        |SELECT count(*) AS n_viewed,
        |  CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
        |  CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN b ON v.user_id = b.user_id""".stripMargin))
}
