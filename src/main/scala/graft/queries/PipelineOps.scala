package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Query}
import graft.operators.{Contamination, Dedup, Sampling}
import graft.sources.Tables

/** Corpus-hygiene pipeline operators: benchmark decontamination and
  * deterministic stratified sampling.
  */
object PipelineOps {

  /** Decontamination scan: docs with doc_id % 7 = 0 play the benchmark
    * ("eval") set; report train docs sharing ≥ 2 distinct word 3-grams
    * with any eval doc (real pipelines: 13-grams, same shape).
    */
  private val q28Contamination: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Contamination.ngramOverlap(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 3, minShared = 2)
      .orderBy("train_id", "eval_id")
  }

  /** Deterministic stratified sampling: downsample the dominant
    * language (en → 50%) and keep 15% of the rest, membership decided
    * by a stable hash of doc_id — reproducible across runs, engines,
    * and corpus growth.
    */
  private val q29StratifiedSample: Q = (s, d) =>
    Sampling.stratified(Tables.documents(s, d), "lang", "doc_id",
        rates = Map("en" -> 0.5), defaultRate = 0.15)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_id"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("lang")

  /** Per-source document cap (crawl-pipeline staple: no single domain
    * may dominate the corpus): keep the 5 highest-quality docs per
    * source, through the native TopKPerGroup physical operator on a
    * natural key — bounded heaps per scan partition, survivor-only
    * shuffle, never a full per-source sort.
    */
  private val q37SourceCap: Q = (s, d) => {
    import graft.functions.TextFunctions.{qualityScore, words}
    val scored = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        round(qualityScore(col("text"), words(col("text"))), 9).as("q"))
    graft.operators.TopK.perGroup(scored, Seq("source"),
        Seq(("q", true), ("doc_id", false)), k = 5)
      .select(col("source"), col("rank"), col("doc_id"), round(col("q"), 6).as("quality"))
      .orderBy("source", "rank")
  }

  /** source × lang contingency table (corpus composition dashboard).
    * groupBy + explicit-values pivot, NOT `df.stat.crosstab`: crosstab
    * collects the distinct value set AND builds the whole contingency
    * table on the driver, so an unbounded-cardinality column OOMs the
    * driver at corpus scale. The pivot form is one ordinary shuffle on
    * the group key with the value columns fixed up front — fully
    * distributed, and skipping the extra distinct-values job.
    */
  private val q98Crosstab: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("source").as("source_lang"))
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .count()
      .na.fill(0L)
      .orderBy("source_lang")

  /** Capstone: the composed training-data pipeline, every stage an
    * operator from this library — quality gate → exact dedup (keep
    * min-id per content) → benchmark decontamination (drop train docs
    * sharing ≥ 2 3-grams with the doc_id % 7 = 0 eval set) → per-lang
    * stratified sampling → per-lang doc/token accounting. One
    * oracle-checked query proving the stages compose.
    */
  private val q99PipelineE2E: Q = (s, d) => {
    import graft.functions.TextFunctions.{qualityScore, words}
    val docs = Tables.documents(s, d)
    val clean = docs
      .withColumn("__q", qualityScore(col("text"), words(col("text"))))
      .filter(col("__q") >= 0.5)
    val deduped = clean.join(
      Dedup.exactGroups(clean, "doc_id", "text")
        .select(col("kept_id").as("doc_id")),
      Seq("doc_id"))
    val train = deduped.filter(col("doc_id") % 7 =!= 0)
    val contaminated = Contamination.ngramOverlap(
        train, deduped.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 3, minShared = 2)
      .select(col("train_id").as("doc_id")).distinct()
    val decontaminated = train.join(contaminated, Seq("doc_id"), "left_anti")
    Sampling.stratified(decontaminated, "lang", "doc_id",
        rates = Map("en" -> 0.5), defaultRate = 0.15)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(words(col("text"))).cast("long")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("lang")
  }

  /** PageRank over the clickstream transition graph: consecutive
    * events by the same user (ordered by ts, event_id) form page→page
    * edges over the `props.k` page ids; 5 damped rounds with
    * dangling-mass redistribution rank the pages — the link-centrality
    * quality prior of web curation, built from session transitions.
    */
  private val q110PageRank: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // spread the single-row-group events scan: the per-row JSON parse
    // otherwise runs in one task ahead of the window exchange
    val ev = graft.operators.Kernels.fanOut(Tables.events(s, d)
      .select(col("user_id"), col("props"), col("ts"), col("event_id")))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("page"),
        col("ts"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = ev.select(lag(col("page"), 1).over(w).as("src"), col("page").as("dst"))
      .filter(col("src").isNotNull)
      .distinct()
    graft.operators.Graph.pageRank(edges, iters = 5)
      .select(col("id").as("page"), col("rank"))
      .orderBy("page")
  }

  /** Per-language quality-quantile gate: drop the bottom 60% of docs
    * per language by the standard quality score — the cutoff adapts
    * per group instead of one global constant. Exact percentile
    * threshold, broadcast back, scan-parallel filter.
    */
  private val q111QuantileFilter: Q = (s, d) => {
    import graft.functions.TextFunctions.{qualityScore, words}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val docs = Tables.documents(s, d)
      .withColumn("q", qualityScore(col("text"), words(col("text"))))
    Sampling.quantileFilter(docs, "lang", "q", 0.6)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"),
        sum(col("doc_id")).as("id_sum"),
        round(sum(col("q").cast(DecimalType(30, 12))).cast(DoubleType) /
          count(lit(1)), 6).as("avg_q"))
      .orderBy("lang")
  }

  /** DSIR-style domain-targeted selection weights: English docs play
    * the target domain; every doc is scored by the log-likelihood
    * ratio of its tokens under the target vs raw unigram models
    * (add-one smoothed). The standard importance-resampling scoring
    * pass of modern pretraining curation.
    */
  private val q113ImportanceWeights: Q = (s, d) =>
    Sampling.importanceLogWeights(Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en")
      .select(col("id").as("doc_id"), col("n_words"), col("log_weight"))
      .orderBy("doc_id")

  /** Deterministic mixture sampling: downsample three sources to a
    * 50/25/25 pretraining mix — the largest corpus achievable without
    * upsampling (the binding stratum keeps everything, others shed
    * rows via the reproducible hash-threshold rule).
    */
  private val q114MixtureSample: Q = (s, d) =>
    Sampling.toMixture(Tables.documents(s, d), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_id"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("source")

  /** MERGE/upsert corpus maintenance: a deterministic change batch
    * (re-scored copies of every 20th doc + brand-new docs) reconciles
    * into the corpus in one full-outer pass — updates win on key
    * match, inserts append, untouched rows pass through.
    */
  private val q125MergeUpsert: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val updates = docs.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        (col("n_chars") + 1000).as("n_chars"))
    val inserts = docs.filter(col("doc_id") % 20 === 5)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    graft.operators.Merge.upsert(docs, updates.unionByName(inserts), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  /** Z-order values over (customer, order) and the 3-key curve
    * (customer, order, order-day) — the Morton interleaves behind
    * `clusterByZ`/`clusterByZN`'s layout rewrites, emitted per row so
    * both curves are oracle-checked bit-for-bit.
    */
  private val q126Zorder: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        graft.operators.Layout.zValue(
          pmod(col("o_custkey"), lit(1024)), pmod(col("o_orderkey"), lit(1024)), 10)
          .as("zval"),
        graft.operators.Layout.zValueN(Seq(
          pmod(col("o_custkey"), lit(1024)), pmod(col("o_orderkey"), lit(1024)),
          dayofmonth(col("o_orderdate"))), 10)
          .as("zval3"))
      .orderBy("o_orderkey")

  /** Dynamic partition pruning — the third pruning tier after static
    * partition filters (q166) and bucket pruning (q152): the fact side
    * is DATE-PARTITIONED on disk, the filter lives on the DIM side
    * only (Mondays), and the partitions to read are discovered at
    * RUNTIME from the dim join keys — the planner injects a
    * `dynamicpruning` subquery into the fact scan (pinned in
    * PlanQualitySpec), so at 100 TB the fact scan reads ~1/7 of its
    * partitions with no static predicate available to it. The
    * partitioned layout is written once per JVM (layout is input, not
    * query work — same contract as the bucketed tables).
    */
  private val q179DppJoin: Q = (s, d) => {
    val dir = graft.operators.Materialize.jvmScratch(
      s"events_bydate_${new java.io.File(d).getName}")
    if (!new java.io.File(dir, "_SUCCESS").isFile)
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    val fact = s.read.parquet(dir)
    // calendar dim: distinct dates (a metadata-cheap scan of the
    // partition column) carrying the weekday attribute the fact side
    // doesn't have — the filter is SEMANTICALLY dim-only, which is
    // exactly what makes static pruning impossible and DPP necessary
    val mondays = fact.select(col("event_date")).distinct()
      .filter(dayofweek(col("event_date")) === 2)
    fact.join(broadcast(mondays), "event_date")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** Gopher-style rule gate with a rejection-reason breakdown: every
    * doc gets its first failed rule (or "pass"), reported per
    * (source, reason) — the curation dashboard that tells you WHY the
    * corpus shrank, not just by how much. One codegen'd CASE chain,
    * one shuffle for the small breakdown aggregate.
    */
  private val q130GopherRules: Q = (s, d) => {
    import graft.functions.TextFunctions.{gopherVerdict, words}
    val docs = Tables.documents(s, d)
    docs.select(col("source"), col("doc_id"),
        size(words(col("text"))).cast("long").as("nw"),
        gopherVerdict(col("text"), words(col("text"))).as("reason"))
      .groupBy("source", "reason")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
        sum(col("nw")).as("sum_words"))
      .orderBy("source", "reason")
  }

  /** Bloom-prefiltered semi-join (explicit runtime filter): orders of
    * BUILDING-segment customers via [[graft.operators.Joins.bloomSemiJoin]]
    * — an 8 KiB bit array broadcast to the orders scan drops
    * non-matching rows before any shuffle; the exact join then removes
    * Bloom false positives, so the oracle is the plain IN-subquery.
    */
  private val q131BloomSemiJoin: Q = (s, d) => {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val flagged = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
    graft.operators.Joins.bloomSemiJoin(
        Tables.orders(s, d), "o_custkey", flagged, "c_custkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Takedown pass via Bloom-prefiltered ANTI join
    * ([[graft.operators.Joins.bloomAntiJoin]]): remove every corpus doc
    * whose content hash appears in a takedown list (all src3/fr docs) —
    * including byte-identical copies elsewhere in the corpus. Rows that
    * miss the broadcast Bloom filter pass through with no join; only
    * the hit sliver takes the exact anti-join. Oracle is the plain
    * NOT IN.
    */
  private val q132BloomTakedown: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val corpus = docs.withColumn("__fp", md5(col("text")))
    val takedown = docs
      .filter(col("source") === "src3" && col("lang") === "fr")
      .select(md5(col("text")).as("__tfp")).distinct()
    graft.operators.Joins.bloomAntiJoin(corpus, "__fp", takedown, "__tfp")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("lang")
  }

  /** Deterministic negative sampling for contrastive training: each
    * anchor draws 4 pseudo-random candidate ids from the corpus via
    * the cross-engine hash (collision with self remaps to the next
    * id), then same-class candidates are filtered out after a label
    * join — the standard "random negatives, exclude positives" pass,
    * fully reproducible across runs and engines. The corpus size
    * enters as a broadcast one-row aggregate, not a driver constant.
    */
  private val q133NegativeSampling: Q = (s, d) => {
    import graft.functions.TextFunctions.mdHash
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val nRow = e.agg(count(lit(1)).as("__n"))
    val base = e.crossJoin(broadcast(nRow))
      .select(col("vec_id"), col("label"), col("__n"),
        explode(array((1 to 4).map(lit(_)): _*)).as("j"))
      .withColumn("__cand",
        pmod(mdHash(concat_ws("|", lit("neg"), col("vec_id"), col("j"))), col("__n")))
      .withColumn("neg_id",
        when(col("__cand") === col("vec_id"), pmod(col("__cand") + 1, col("__n")))
          .otherwise(col("__cand")))
    base.join(e.select(col("vec_id").as("neg_id"), col("label").as("neg_label")),
        Seq("neg_id"))
      .filter(col("neg_label") =!= col("label"))
      .select("vec_id", "j", "neg_id", "neg_label")
      .orderBy("vec_id", "j")
  }

  /** Deterministic word-dropout augmentation: ~10% of token positions
    * drop, chosen by the cross-engine hash of (doc, position) — the
    * reproducible-noise contract augmentation pipelines need (same
    * doc, same seed → same augmented text on any run or engine).
    */
  private val q134WordDropout: Q = (s, d) => {
    import graft.functions.TextFunctions.{mdHash, words}
    Tables.documents(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"),
        filter(words(col("text")), (_, i) =>
          pmod(mdHash(concat_ws("|", lit("drop"), col("doc_id"), i)), lit(10L)) =!= 0L)
          .as("kept"))
      .select(col("doc_id"), size(col("kept")).cast("long").as("n_kept"),
        array_join(slice(col("kept"), 1, 12), " ").as("head"))
      .orderBy("doc_id")
  }

  /** One unrolled PageRank round for the q110 oracle — mirrors
    * Graph.pageRank's expression shapes exactly (decimal rank domain,
    * double intermediates, identical operand order).
    */
  private def prRound(i: Int): String = {
    val p = i - 1
    s"""c$i AS (SELECT e.dst, sum(CAST(CAST(r.rank AS DOUBLE) / r.deg AS DECIMAL(30,12))) cs
       |  FROM edges e JOIN r$p r ON e.src = r.id GROUP BY e.dst),
       |m$i AS (SELECT coalesce(CAST(sum(rank) AS DOUBLE), 0) m FROM r$p WHERE deg IS NULL),
       |r$i AS (SELECT b.id, b.deg,
       |    CAST((1 - 0.85)/(SELECT n FROM params) + 0.85 * (coalesce(CAST(c.cs AS DOUBLE), 0)
       |      + (SELECT m FROM m$i)/(SELECT n FROM params)) AS DECIMAL(30,12)) rank
       |  FROM base b LEFT JOIN c$i c ON b.id = c.dst)""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("q133_negative_sampling", q133NegativeSampling,
      """WITH n AS (SELECT count(*) AS n FROM embeddings),
        |cand AS (SELECT vec_id, label, j,
        |    ('0x' || substr(md5('neg|' || vec_id::VARCHAR || '|' || j::VARCHAR), 1, 15))::BIGINT
        |      % (SELECT n FROM n) AS c
        |  FROM embeddings, (SELECT unnest([1, 2, 3, 4]) AS j)),
        |neg AS (SELECT vec_id, label, j,
        |    CASE WHEN c = vec_id THEN (c + 1) % (SELECT n FROM n) ELSE c END AS neg_id
        |  FROM cand)
        |SELECT g.vec_id, g.j, g.neg_id, e.label AS neg_label
        |FROM neg g JOIN embeddings e ON g.neg_id = e.vec_id
        |WHERE e.label <> g.label
        |ORDER BY g.vec_id, g.j""".stripMargin),
    Query("q134_word_dropout", q134WordDropout,
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 300),
        |k AS (SELECT doc_id, [w[i] FOR i IN range(1, len(w) + 1) IF
        |    ('0x' || substr(md5('drop|' || doc_id::VARCHAR || '|' || (i - 1)::VARCHAR),
        |      1, 15))::BIGINT % 10 <> 0] AS kept
        |  FROM t)
        |SELECT doc_id, len(kept)::BIGINT AS n_kept,
        |  array_to_string(kept[1:12], ' ') AS head
        |FROM k ORDER BY doc_id""".stripMargin),
    Query("q132_bloom_takedown", q132BloomTakedown,
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  min(doc_id) AS first_doc
        |FROM documents
        |WHERE md5(text) NOT IN (
        |  SELECT md5(text) FROM documents WHERE source = 'src3' AND lang = 'fr')
        |GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q130_gopher_rules", q130GopherRules,
      """WITH t AS (SELECT source, doc_id,
        |    len(str_split(text, ' ')) AS nw,
        |    length(replace(text, ' ', ''))::DOUBLE
        |      / len(str_split(text, ' ')) AS mwl,
        |    (length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE + 1.0)
        |      / (length(text)::DOUBLE + 1.0) AS alpha
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN nw < 15 THEN 'too_short' WHEN nw > 80 THEN 'too_long'
        |    WHEN mwl < 4.3 OR mwl > 4.7 THEN 'word_len'
        |    WHEN alpha < 0.999 THEN 'symbols' ELSE 'pass' END AS reason,
        |  count(*) AS n_docs, min(doc_id) AS first_doc, sum(nw)::BIGINT AS sum_words
        |FROM t GROUP BY source, reason ORDER BY source, reason""".stripMargin),
    Query("q131_bloom_semi_join", q131BloomSemiJoin,
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q179_dpp_join", q179DppJoin,
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE dayofweek(ts::DATE) = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q126_zorder", q126Zorder,
      """SELECT o_orderkey,
        |  list_sum(list_transform(range(0, 10), b ->
        |    ((((o_custkey % 1024) >> b) & 1) << (2*b))
        |      + ((((o_orderkey % 1024) >> b) & 1) << (2*b + 1))))::BIGINT AS zval,
        |  list_sum(list_transform(range(0, 10), b ->
        |    ((((o_custkey % 1024) >> b) & 1) << (3*b))
        |      + ((((o_orderkey % 1024) >> b) & 1) << (3*b + 1))
        |      + (((day(o_orderdate) >> b) & 1) << (3*b + 2))))::BIGINT AS zval3
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("q125_merge_upsert", q125MergeUpsert,
      """WITH changes AS (
        |  SELECT doc_id, text, lang, source, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + 900000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 20 = 5),
        |merged AS (
        |  SELECT
        |    CASE WHEN c.doc_id IS NOT NULL THEN c.doc_id ELSE d.doc_id END AS doc_id,
        |    CASE WHEN c.doc_id IS NOT NULL THEN c.lang ELSE d.lang END AS lang,
        |    CASE WHEN c.doc_id IS NOT NULL THEN c.n_chars ELSE d.n_chars END AS n_chars
        |  FROM documents d FULL OUTER JOIN changes c ON d.doc_id = c.doc_id)
        |SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |  max(doc_id) AS max_id
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q114_mixture_sample", q114MixtureSample,
      """WITH c AS (SELECT source AS s, count(*) AS n FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY source),
        |w AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.25)) t(s, wt)),
        |j AS (SELECT c.s, c.n, w.wt / 1.0 AS wn FROM c JOIN w USING (s)),
        |sc AS (SELECT min(n / wn) AS scale FROM j),
        |r AS (SELECT s, least(1.0, (SELECT scale FROM sc) * wn / n) AS rate FROM j)
        |SELECT d.source, count(*) AS n_kept, min(d.doc_id) AS first_id,
        |  sum(d.doc_id)::BIGINT AS id_sum
        |FROM documents d JOIN r ON d.source = r.s
        |WHERE ('0x' || substr(md5('mix|' || d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000 <
        |  CAST(floor(r.rate * 1000) AS BIGINT)
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
    Query("q113_importance_weights", q113ImportanceWeights,
      """WITH toks AS (SELECT doc_id, lang = 'en' AS tgt,
        |    unnest(str_split(text, ' ')) AS word FROM documents),
        |vocab AS (SELECT word, count(*) AS cnt_all,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS cnt_t
        |  FROM toks GROUP BY word),
        |tot AS (SELECT count(*)::DOUBLE AS total_all,
        |    sum(CASE WHEN tgt THEN 1 ELSE 0 END)::DOUBLE AS total_t,
        |    (SELECT count(*) FROM vocab)::DOUBLE AS v
        |  FROM toks),
        |lr AS (SELECT word,
        |    CAST(ln((cnt_t + 1) / (total_t + v)) - ln((cnt_all + 1) / (total_all + v))
        |      AS DECIMAL(20,9)) AS lw
        |  FROM vocab, tot)
        |SELECT doc_id, count(*) AS n_words,
        |  round(CAST(sum(lw) AS DOUBLE), 6) AS log_weight
        |FROM toks JOIN lr USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q111_quantile_filter", q111QuantileFilter,
      """WITH t AS (SELECT doc_id, lang, text, str_split(text, ' ') w FROM documents),
        |q AS (SELECT doc_id, lang,
        |    least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
        |    + (len(list_distinct(w))::DOUBLE / len(w)::DOUBLE) * 0.3
        |    + ((length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE + 1.0)
        |       / (length(text)::DOUBLE + 1.0)) * 0.3 AS q
        |  FROM t),
        |thr AS (SELECT lang, quantile_cont(q, 0.6) AS thr FROM q GROUP BY lang)
        |SELECT q.lang, count(*) AS n_kept, min(doc_id) AS first_doc,
        |  sum(doc_id)::BIGINT AS id_sum,
        |  round(CAST(sum(CAST(q.q AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) AS avg_q
        |FROM q JOIN thr ON q.lang = thr.lang AND q.q >= thr.thr
        |GROUP BY q.lang ORDER BY q.lang""".stripMargin),
    Query("q110_pagerank", q110PageRank,
      s"""WITH seq AS (SELECT user_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) page, ts, event_id
         |  FROM events),
         |edges AS (SELECT DISTINCT src, dst FROM (
         |    SELECT lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) src,
         |      page dst FROM seq)
         |  WHERE src IS NOT NULL),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         |base AS (SELECT n.id, d.deg FROM nodes n LEFT JOIN deg d USING (id)),
         |params AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |r0 AS (SELECT id, deg,
         |    CAST(1.0/(SELECT n FROM params) AS DECIMAL(30,12)) AS rank FROM base),
         |${(1 to 5).map(prRound).mkString(",\n")}
         |SELECT id AS page, CAST(rank AS DOUBLE) AS rank
         |FROM r5 ORDER BY page""".stripMargin),
    Query("q28_contamination", q28Contamination,
      """WITH docs AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
        |    for i in range(1, greatest(len(w) - 2, 1) + 1)]) s
        |  FROM docs)
        |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
        |  len(list_intersect(t.s, e.s))::BIGINT AS n_shared
        |FROM sh t JOIN sh e ON t.doc_id % 7 <> 0 AND e.doc_id % 7 = 0
        |WHERE len(list_intersect(t.s, e.s)) >= 2
        |ORDER BY train_id, eval_id""".stripMargin),
    Query("q29_stratified_sample", q29StratifiedSample,
      """SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_id,
        |  sum(doc_id)::BIGINT AS id_sum
        |FROM documents
        |WHERE ('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000 <
        |  (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.15 END * 1000)::BIGINT
        |GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q37_source_cap", q37SourceCap,
      """WITH t AS (SELECT source, doc_id, text, str_split(text, ' ') w FROM documents),
        |scored AS (SELECT source, doc_id,
        |    round(least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
        |      + (len(list_distinct(w))::DOUBLE / len(w)::DOUBLE) * 0.3
        |      + ((length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE + 1.0)
        |         / (length(text)::DOUBLE + 1.0)) * 0.3, 9) AS q
        |  FROM t),
        |r AS (SELECT source, doc_id, q,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY q DESC, doc_id ASC)::INT AS rank
        |  FROM scored)
        |SELECT source, rank, doc_id, round(q, 6) AS quality
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin),
    Query("q98_crosstab", q98Crosstab,
      """SELECT source AS source_lang,
        |  sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)::BIGINT AS de,
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS en,
        |  sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END)::BIGINT AS es,
        |  sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END)::BIGINT AS fr,
        |  sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END)::BIGINT AS zh
        |FROM documents GROUP BY source ORDER BY source_lang""".stripMargin),
    Query("q99_pipeline_e2e", q99PipelineE2E,
      """WITH scored AS (SELECT doc_id, lang, text, str_split(text, ' ') w,
        |    least(len(str_split(text, ' '))::DOUBLE / 100.0, 1.0) * 0.4
        |      + (len(list_distinct(str_split(text, ' ')))::DOUBLE
        |         / len(str_split(text, ' '))::DOUBLE) * 0.3
        |      + ((length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE + 1.0)
        |         / (length(text)::DOUBLE + 1.0)) * 0.3 AS q
        |  FROM documents),
        |clean AS (SELECT doc_id, lang, text, w FROM scored WHERE q >= 0.5),
        |dedup AS (SELECT * FROM clean WHERE doc_id IN (
        |    SELECT min(doc_id) FROM clean GROUP BY md5(text))),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
        |    for i in range(1, greatest(len(w) - 2, 1) + 1)]) s FROM dedup),
        |contaminated AS (SELECT DISTINCT t.doc_id FROM sh t JOIN sh e
        |  ON t.doc_id % 7 <> 0 AND e.doc_id % 7 = 0
        |  WHERE len(list_intersect(t.s, e.s)) >= 2),
        |train AS (SELECT * FROM dedup WHERE doc_id % 7 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |sampled AS (SELECT * FROM train
        |  WHERE ('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000 <
        |    (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.15 END * 1000)::BIGINT)
        |SELECT lang, count(*) AS n_docs,
        |  sum(len(str_split(text, ' ')))::BIGINT AS n_tokens,
        |  min(doc_id) AS first_doc
        |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin))
}
