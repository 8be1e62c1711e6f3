package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Q, Query}
import graft.sources.Tables

/** Second wave of training-data curation / ML-prep operators: retrieval
  * chunking, weighted sampling, n-gram LM scoring, sketch-merge
  * accounting, leakage-safe fold assignment, hashed-feature scoring,
  * entropy gating, embedding truncation analysis, and token-budget
  * curriculum selection — plus the LATERAL and UNPIVOT relational
  * surfaces. Everything is scan-parallel Catalyst expressions plus
  * ordinary shuffled aggregates; the deterministic cross-engine hash
  * ([[graft.functions.TextFunctions.mdHash]]) keeps every sampling
  * decision bit-reproducible in the DuckDB oracle.
  */
object Curation {

  import graft.functions.TextFunctions.{mdHash, qualityScore, words}

  /** RAG-style sliding-window chunking: 32-token chunks every 24 tokens
    * (8-token overlap). Chunk starts come from an in-row `sequence`, so
    * a doc expands to its chunks with one generator and zero shuffle —
    * at corpus scale this is a map-only stage whose output feeds the
    * embedding/indexing jobs downstream.
    */
  private val q135ChunkOverlap: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")), lit(24))).as("st"))
      .select(col("doc_id"),
        ((col("st") - 1) / lit(24)).cast("int").as("chunk_idx"),
        slice(col("w"), col("st"), lit(32)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        mdHash(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): per-row key = ln(u)/w with u a
    * hash-uniform in (0,1) and w = n_chars; the global top-200 by key
    * IS a weighted sample. One scan + one top-k — no per-stratum rates,
    * no driver RNG state, reproducible on any engine with md5.
    */
  private val q136WeightedSample: Q = (s, d) => {
    val u = (pmod(mdHash(concat_ws("|", lit("ws"), col("doc_id"))), lit(1000000L))
      .cast(DoubleType) + lit(0.5)) / lit(1000000.0)
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        (log(u) / col("n_chars").cast(DoubleType)).as("skey"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(200)
      .select(col("doc_id"), col("n_chars"), round(col("skey"), 9).as("skey"))
  }

  /** Corpus bigram LM scoring (add-one smoothing over the corpus
    * vocabulary): every doc's log-likelihood under
    * P(w_i | w_{i-1}) = (c(bigram)+1)/(c(prefix)+V). Bigrams come from
    * an in-row zip (no self-join); the model is two shuffled counts plus
    * a broadcast vocab size; scoring is a fact-to-dimension join. The
    * perplexity-filter shape of pretraining curation, one rung above the
    * q85 unigram model. DECIMAL(20,9) term sums keep the result
    * partition-order independent.
    */
  private val q137BigramLm: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val bigrams = docs
      .select(col("doc_id"),
        explode(transform(sequence(lit(2), size(col("w"))), i =>
          struct(element_at(col("w"), i - 1).as("prev"),
            element_at(col("w"), i).as("cur")))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val bgCounts = bigrams.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val prefCounts = bigrams.groupBy("prev").agg(count(lit(1)).as("cp"))
    val vocab = docs.select(explode(col("w")).as("word"))
      .agg(countDistinct(col("word")).as("v"))
    bigrams
      .join(bgCounts, Seq("prev", "cur"))
      .join(prefCounts, Seq("prev"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        log((col("cb") + 1).cast(DoubleType) / (col("cp") + col("v")).cast(DoubleType))
          .cast(DecimalType(20, 9)).as("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("term")).cast(DoubleType), 6).as("logprob"))
      .orderBy("doc_id")
  }

  /** Distinct-content accounting via mergeable HLL sketches: per-source
    * approx distinct content hashes AND the corpus-wide total from ONE
    * rollup pass — the total row is literally the merge of the
    * per-source sketches (partial aggregation), which is how dedup
    * dashboards stay one-pass at 100 TB. Oracle-checked like q07: exact
    * counts plus a 15% error-bound boolean.
    */
  private val q138HllRollup: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), md5(col("text")).as("fp"))
      .rollup("source")
      .agg(
        approx_count_distinct(col("fp")).as("approx_fp"),
        countDistinct(col("fp")).as("exact_fp"),
        count(lit(1)).as("n_docs"))
      .select(
        coalesce(col("source"), lit("TOTAL")).as("source"),
        col("exact_fp"), col("n_docs"),
        (abs(col("approx_fp") - col("exact_fp")) <=
          lit(0.15) * col("exact_fp")).as("within_15pct"))
      .orderBy("source")

  /** Leakage-safe group k-fold: the fold is a hash of the SOURCE, so
    * every doc from one domain lands in the same fold and near-dups
    * within a domain can never straddle train/validation — the
    * grouped-split discipline of contamination-aware evaluation.
    */
  private val q139GroupKfold: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        pmod(mdHash(concat_ws("|", lit("fold"), col("source"))), lit(5L)).as("fold"),
        col("source"), col("doc_id"),
        size(words(col("text"))).cast("long").as("nw"))
      .groupBy("fold")
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_tokens"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("fold")

  /** Hashed-feature linear quality classifier (fastText-shaped): each
    * token hashes to an integer weight in [-1000, 1000], the doc score
    * is sigmoid(mean weight / 1000). The weight sum is an in-row LONG
    * fold — exact, order-independent, one scan, no model file; swapping
    * in trained weights via a broadcast map keeps the identical plan.
    */
  private val q140HashedClassifier: Q = (s, d) => {
    val w = words(col("text"))
    val wsum = aggregate(
      transform(w, t => pmod(mdHash(concat_ws("|", lit("w"), t)), lit(2001L)) - lit(1000L)),
      lit(0L), (acc, x) => acc + x)
    val score = lit(1.0) / (lit(1.0) +
      exp(-col("w_sum").cast(DoubleType) / (lit(1000.0) * col("nw").cast(DoubleType))))
    Tables.documents(s, d)
      .select(col("doc_id"), size(w).as("nw"), wsum.as("w_sum"))
      .select(col("doc_id"), col("w_sum"),
        round(score, 6).as("score"), (score >= lit(0.5)).as("keep"))
      .orderBy("doc_id")
  }

  /** Character-entropy gibberish gate: per-doc Shannon entropy of the
    * character distribution (low = repeated filler, high = random
    * noise). Char counts are one explode + count shuffle keyed by
    * (doc, char) — linear in corpus bytes; DECIMAL term sums make the
    * per-doc entropy partition-order independent.
    */
  private val q141CharEntropy: Q = (s, d) => {
    val chars = Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).as("len"),
        explode(split(col("text"), "")).as("ch"))
    chars.groupBy("doc_id", "len", "ch").agg(count(lit(1)).as("k"))
      .select(col("doc_id"),
        (-(col("k").cast(DoubleType) / col("len").cast(DoubleType)) *
          log(col("k").cast(DoubleType) / col("len").cast(DoubleType)))
          .cast(DecimalType(20, 9)).as("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_chars"),
        round(sum(col("term")).cast(DoubleType), 6).as("entropy"))
      .orderBy("doc_id")
  }

  /** SQL LATERAL correlated derived table: per-nation customer
    * aggregates via `FROM nation, LATERAL (SELECT ... WHERE correlated)`
    * — the decorrelation surface (Catalyst rewrites it to a join +
    * aggregate; no per-row re-execution).
    */
  private val q142SqlLateral: Q = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT n.n_name, a.n_cust, a.max_bal, a.sum_bal
        |FROM nation n, LATERAL (
        |  SELECT count(*) AS n_cust,
        |         max(c_acctbal) AS max_bal,
        |         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |  FROM customer WHERE c_nationkey = n.n_nationkey) a
        |ORDER BY n.n_name""".stripMargin)
  }

  /** UNPIVOT/melt: wide part metrics to long (metric, value) rows via
    * `Dataset.unpivot` — the schema-normalization verb feature stores
    * need; one generator per row, no shuffle until the summary agg.
    */
  private val q143Unpivot: Q = (s, d) =>
    Tables.part(s, d)
      .unpivot(
        Array(col("p_partkey")),
        Array(col("p_size").cast(DoubleType).as("p_size"),
          col("p_retailprice").as("p_retailprice")),
        "metric", "value")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
      .orderBy("metric")

  /** Matryoshka-style truncation analysis: fraction of each embedding's
    * norm retained by its first 16 of 64 dims, averaged per label —
    * the "can we serve the cheap prefix?" measurement behind truncated
    * retrieval indexes. In-row double folds (identical fold order in
    * the oracle's list_dot_product), DECIMAL cross-row averaging.
    */
  private val q144Matryoshka: Q = (s, d) => {
    val e = transform(col("embedding"), x => x.cast(DoubleType))
    def energy(a: Column): Column =
      aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x)
    Tables.embeddings(s, d)
      .select(col("label"), sqrt(energy(slice(e, 1, 16)) / energy(e)).as("r"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("r").cast(DecimalType(20, 9))).cast(DoubleType) /
          count(lit(1)), 6).as("avg_retained"),
        round(min(col("r")), 6).as("min_retained"))
      .orderBy("label")
  }

  /** Token-budget curriculum selection: per language, take docs in
    * quality order until a 3000-token budget fills — the "best N tokens
    * per bucket" selection of data-constrained pretraining. One window
    * cumsum per language partition; the budget predicate is exact long
    * arithmetic.
    */
  private val q145TokenBudget: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(words(col("text"))).cast("long").as("nw"),
        qualityScore(col("text"), words(col("text"))).as("q"))
    val w = Window.partitionBy("lang").orderBy(col("q").desc, col("doc_id"))
    scored.withColumn("cum", sum(col("nw")).over(w))
      .filter(col("cum") <= 3000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_tokens"),
        round(min(col("q")), 6).as("min_q"))
      .orderBy("lang")
  }

  /** Incremental dedup: does today's batch (doc_id % 10 = 7) already
    * exist (near-dup) in the corpus index (the rest)? Batch×corpus
    * banded MinHash join via [[graft.operators.Dedup.minhashLshPairsAgainst]]
    * — within-corpus and within-batch pairs are never generated, and at
    * cluster scale the corpus band table is a precomputed bucketed
    * index reused across ingests.
    */
  private val q146IncrementalDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.operators.Dedup.minhashLshPairsAgainst(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", threshold = 0.7)
      .select(col("batch_id"), col("corpus_id"), round(col("jac"), 6).as("jac"))
      .orderBy("batch_id", "corpus_id")
  }

  /** Product-quantization encode (IVF-PQ's storage half): 64-dim
    * embeddings → 8 subspaces × 8 dims; codebook = the subvectors of
    * vectors 0..15 (a deterministic "trained" codebook — swapping in
    * k-means centroids keeps the identical plan); code = argmin-distance
    * centroid per subspace, tie → lowest code id via lexicographic
    * struct min. Centroids broadcast; distances are in-row folds;
    * reconstruction error aggregates in DECIMAL. The 16× compression
    * pass behind billion-vector ANN serving.
    */
  private val q147PqEncode: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("e"))
    val sub = e
      .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("s"), col("e"))
      .select(col("vec_id"), col("s"), slice(col("e"), col("s") * 8 + 1, lit(8)).as("v"))
    val cents = sub.filter(col("vec_id") < 16)
      .select(col("s"), col("vec_id").cast("int").as("cid"), col("v").as("c"))
    val dist = sub.join(broadcast(cents), Seq("s"))
      .select(col("vec_id"), col("s"), col("cid"),
        aggregate(zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d2"))
    dist.groupBy("vec_id", "s")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("s"),
        col("m.cid").as("code"), col("m.d2").as("err"))
      .groupBy("vec_id")
      .agg(
        sort_array(collect_list(struct(col("s"), col("code")))).as("sc"),
        sum(col("err").cast(DecimalType(25, 12))).as("errsum"))
      .select(col("vec_id"),
        mdHash(concat_ws(",", transform(col("sc"), x => x.getField("code").cast("string"))))
          .as("code_hash"),
        round(col("errsum").cast(DoubleType), 6).as("recon_err"))
      .orderBy("vec_id")
  }

  /** Approximate-quantile sketch accounting (the GK/KLL category):
    * per-group approx p50/p90 next to the exact percentiles, with
    * error-bound booleans the oracle asserts — the q07 pattern applied
    * to quantile sketches. At 100 TB the approx path is the only
    * viable one (exact percentile is a full sort per group); this query
    * pins its accuracy contract.
    */
  private val q148QuantileSketch: Q = (s, d) =>
    // spread the single-row-group scan: the exact-percentile partial
    // aggregation otherwise buffers all 600k values in ONE map task
    // (2.5 s); at width the partials merge per flag (Kernels.fanOut)
    graft.operators.Kernels.fanOut(
      Tables.lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice")))
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("p50_exact"),
        expr("percentile(l_extendedprice, 0.9)").as("p90_exact"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(2000)).as("p50_approx"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(2000)).as("p90_approx"))
      .select(col("l_returnflag"), col("p50_exact"), col("p90_exact"),
        (abs(col("p50_approx") - col("p50_exact")) <= lit(0.05) * col("p50_exact"))
          .as("p50_within_5pct"),
        (abs(col("p90_approx") - col("p90_exact")) <= lit(0.05) * col("p90_exact"))
          .as("p90_within_5pct"))
      .orderBy("l_returnflag")

  /** Corpus-driven stopword discovery: words whose document frequency
    * exceeds 60% of the corpus — the data-dependent stopword list that
    * TF-IDF/BM25 pipelines build instead of hardcoding one. Distinct
    * per-doc tokens → one DF count → broadcast corpus size.
    */
  private val q149StopwordDiscovery: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id"), explode(array_distinct(words(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df").cast(DoubleType) / col("n_docs").cast(DoubleType) >= 0.6)
      .select(col("word"), col("df"),
        round(col("df").cast(DoubleType) / col("n_docs").cast(DoubleType), 6).as("df_ratio"))
      .orderBy(col("df").desc, col("word"))
  }

  /** Causal-LM training-example construction: non-overlapping 16-token
    * context windows with one-position-shifted labels (input = tokens
    * [i, i+16), label = tokens [i+1, i+16]) — the final tensorization
    * step after packing. In-row generator, map-only; window contents
    * are hash-verified.
    */
  private val q150NextTokenPairs: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 17)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 16, lit(16))).as("st"))
      .select(col("doc_id"),
        ((col("st") - 1) / lit(16)).cast("int").as("win_idx"),
        mdHash(concat_ws(" ", slice(col("w"), col("st"), lit(16)))).as("input_hash"),
        mdHash(concat_ws(" ", slice(col("w"), col("st") + 1, lit(16)))).as("label_hash"))
      .orderBy("doc_id", "win_idx")

  /** Zipf-slope estimate over the top-200 vocabulary: OLS fit of
    * ln(freq) on ln(rank), all sums in DECIMAL so the tiny regression
    * is partition-order independent. The corpus-health statistic that
    * flags template/boilerplate corpora (slope far from −1).
    */
  private val q151ZipfSlope: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(s, d)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(200)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("word"))))
    val dec = DecimalType(25, 12)
    val sums = ranked.select(
        log(col("rank").cast(DoubleType)).as("x"), log(col("n").cast(DoubleType)).as("y"))
      .agg(
        count(lit(1)).cast(DoubleType).as("k"),
        sum(col("x").cast(dec)).cast(DoubleType).as("sx"),
        sum(col("y").cast(dec)).cast(DoubleType).as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast(DoubleType).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast(DoubleType).as("sxx"))
    sums.select(
      col("k").cast("long").as("n_terms"),
      round((col("k") * col("sxy") - col("sx") * col("sy")) /
        (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
      round((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy")) /
        (col("k") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("k"), 6)
        .as("intercept"))
  }

  /** Shared oracle fragment: the q37/q111 quality-score formula. */
  private[queries] val qScore =
    """least(len(str_split(text, ' '))::DOUBLE / 100.0, 1.0) * 0.4
      |      + (len(list_distinct(str_split(text, ' ')))::DOUBLE
      |         / len(str_split(text, ' '))::DOUBLE) * 0.3
      |      + ((length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE + 1.0)
      |         / (length(text)::DOUBLE + 1.0)) * 0.3""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q146_incremental_dedup", q146IncrementalDedup,
      """WITH docs AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
        |    for i in range(1, greatest(len(w) - 2, 1) + 1)]) s FROM docs),
        |sig AS (SELECT doc_id, s,
        |    [list_min(list_transform(s, x ->
        |      ('0x' || substr(md5(x), 1, 15))::BIGINT
        |        + i * ('0x' || substr(md5(x), 16, 12))::BIGINT))
        |      for i in range(0, 48)] sig
        |  FROM sh),
        |hs AS (SELECT doc_id,
        |    list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) hh FROM sh),
        |bands AS (SELECT doc_id, b, array_to_string(sig[b*4+1 : b*4+4], ',') bkey
        |  FROM sig, (SELECT unnest(range(0, 12)) b) bs),
        |cand AS (SELECT DISTINCT a.doc_id batch_id, c.doc_id corpus_id
        |  FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey
        |  WHERE a.doc_id % 10 = 7 AND c.doc_id % 10 <> 7),
        |pairs AS (SELECT batch_id, corpus_id,
        |    len(list_intersect(x.hh, y.hh))::DOUBLE /
        |      (len(x.hh)::DOUBLE + len(y.hh)::DOUBLE
        |        - len(list_intersect(x.hh, y.hh))::DOUBLE) jac
        |  FROM cand JOIN hs x ON x.doc_id = batch_id JOIN hs y ON y.doc_id = corpus_id)
        |SELECT batch_id, corpus_id, round(jac, 6) AS jac FROM pairs
        |WHERE jac >= 0.7 ORDER BY batch_id, corpus_id""".stripMargin),
    Query("q147_pq_encode", q147PqEncode,
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) e FROM embeddings),
        |sub AS (SELECT vec_id, s, e[s*8+1 : s*8+8] AS sv
        |  FROM v, (SELECT unnest(range(0, 8)) s) ss),
        |cents AS (SELECT s, vec_id::INT cid, sv c FROM sub WHERE vec_id < 16),
        |dist AS (SELECT t.vec_id, t.s, c.cid,
        |    list_sum([(t.sv[i] - c.c[i]) * (t.sv[i] - c.c[i]) for i in range(1, 9)]) d2
        |  FROM sub t JOIN cents c USING (s)),
        |best AS (SELECT vec_id, s, cid AS code, d2 AS err FROM (
        |    SELECT vec_id, s, cid, d2,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) rn FROM dist)
        |  WHERE rn = 1)
        |SELECT vec_id,
        |  ('0x' || substr(md5(string_agg(code::VARCHAR, ',' ORDER BY s)), 1, 15))::BIGINT
        |    AS code_hash,
        |  round(CAST(sum(CAST(err AS DECIMAL(25,12))) AS DOUBLE), 6) AS recon_err
        |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    Query("q148_quantile_sketch", q148QuantileSketch,
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50_exact,
        |  quantile_cont(l_extendedprice, 0.9) AS p90_exact,
        |  TRUE AS p50_within_5pct, TRUE AS p90_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q149_stopword_discovery", q149StopwordDiscovery,
      """WITH n AS (SELECT count(*) n_docs FROM documents),
        |t AS (SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) word
        |  FROM documents),
        |d AS (SELECT word, count(*) df FROM t GROUP BY word)
        |SELECT word, df, round(df::DOUBLE / (SELECT n_docs FROM n), 6) AS df_ratio
        |FROM d WHERE df::DOUBLE / (SELECT n_docs FROM n) >= 0.6
        |ORDER BY df DESC, word""".stripMargin),
    Query("q150_next_token_pairs", q150NextTokenPairs,
      """WITH t AS (SELECT doc_id, str_split(text, ' ') w FROM documents
        |  WHERE len(str_split(text, ' ')) >= 17),
        |s AS (SELECT doc_id, w, unnest(range(1, len(w) - 16 + 1, 16)) st FROM t)
        |SELECT doc_id, ((st - 1) // 16)::INT AS win_idx,
        |  ('0x' || substr(md5(array_to_string(w[st : st+15], ' ')), 1, 15))::BIGINT
        |    AS input_hash,
        |  ('0x' || substr(md5(array_to_string(w[st+1 : st+16], ' ')), 1, 15))::BIGINT
        |    AS label_hash
        |FROM s ORDER BY doc_id, win_idx""".stripMargin),
    Query("q151_zipf_slope", q151ZipfSlope,
      """WITH w AS (SELECT unnest(str_split(text, ' ')) word FROM documents),
        |v AS (SELECT word, count(*) n FROM w GROUP BY word
        |  ORDER BY n DESC, word LIMIT 200),
        |r AS (SELECT word, n, row_number() OVER (ORDER BY n DESC, word) rank FROM v),
        |xy AS (SELECT ln(rank::DOUBLE) x, ln(n::DOUBLE) y FROM r),
        |sums AS (SELECT count(*)::DOUBLE k,
        |    CAST(sum(CAST(x AS DECIMAL(25,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(25,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x*y AS DECIMAL(25,12))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(x*x AS DECIMAL(25,12))) AS DOUBLE) sxx
        |  FROM xy)
        |SELECT k::BIGINT AS n_terms,
        |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 6)
        |    AS intercept
        |FROM sums""".stripMargin),
    Query("q135_chunk_overlap", q135ChunkOverlap,
      """WITH t AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
        |s AS (SELECT doc_id, w, unnest(range(1, len(w) + 1, 24)) AS st FROM t),
        |c AS (SELECT doc_id, ((st - 1) // 24)::INT AS chunk_idx,
        |    w[st : st + 31] AS chunk FROM s)
        |SELECT doc_id, chunk_idx, len(chunk)::BIGINT AS n_tokens,
        |  ('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 15))::BIGINT AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    Query("q136_weighted_sample", q136WeightedSample,
      """WITH k AS (SELECT doc_id, n_chars,
        |    ln((('0x' || substr(md5('ws|' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
        |        + 0.5) / 1000000.0) / n_chars AS skey
        |  FROM documents)
        |SELECT doc_id, n_chars, round(skey, 9) AS skey
        |FROM k ORDER BY skey DESC, doc_id LIMIT 200""".stripMargin),
    Query("q137_bigram_lm", q137BigramLm,
      """WITH t AS (SELECT doc_id, str_split(text, ' ') w FROM documents
        |  WHERE len(str_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest([w[i-1] for i in range(2, len(w) + 1)]) AS prev,
        |    unnest([w[i] for i in range(2, len(w) + 1)]) AS cur
        |  FROM t),
        |cb AS (SELECT prev, cur, count(*) c FROM bg GROUP BY prev, cur),
        |cp AS (SELECT prev, count(*) c FROM bg GROUP BY prev),
        |v AS (SELECT count(DISTINCT word) v FROM
        |  (SELECT unnest(w) word FROM t)),
        |terms AS (SELECT doc_id,
        |    CAST(ln((cb.c + 1)::DOUBLE / (cp.c + (SELECT v FROM v))::DOUBLE)
        |      AS DECIMAL(20,9)) term
        |  FROM bg JOIN cb USING (prev, cur) JOIN cp USING (prev))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(term) AS DOUBLE), 6) AS logprob
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q138_hll_rollup", q138HllRollup,
      """SELECT coalesce(source, 'TOTAL') AS source,
        |  count(DISTINCT md5(text)) AS exact_fp, count(*) AS n_docs,
        |  TRUE AS within_15pct
        |FROM documents GROUP BY ROLLUP (source) ORDER BY source""".stripMargin),
    Query("q139_group_kfold", q139GroupKfold,
      """SELECT ('0x' || substr(md5('fold|' || source), 1, 15))::BIGINT % 5 AS fold,
        |  count(DISTINCT source) AS n_sources, count(*) AS n_docs,
        |  sum(len(str_split(text, ' ')))::BIGINT AS n_tokens,
        |  sum(doc_id)::BIGINT AS id_sum
        |FROM documents GROUP BY fold ORDER BY fold""".stripMargin),
    Query("q140_hashed_classifier", q140HashedClassifier,
      """WITH t AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
        |s AS (SELECT doc_id, len(w) n,
        |    list_sum([('0x' || substr(md5('w|' || x), 1, 15))::BIGINT % 2001 - 1000
        |      for x in w])::BIGINT AS w_sum
        |  FROM t)
        |SELECT doc_id, w_sum,
        |  round(1.0 / (1.0 + exp(-(w_sum::DOUBLE) / (1000.0 * n))), 6) AS score,
        |  1.0 / (1.0 + exp(-(w_sum::DOUBLE) / (1000.0 * n))) >= 0.5 AS keep
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("q141_char_entropy", q141CharEntropy,
      """WITH t AS (SELECT doc_id, length(text) len,
        |    unnest(str_split(text, '')) ch FROM documents),
        |c AS (SELECT doc_id, len, ch, count(*) k FROM t GROUP BY doc_id, len, ch),
        |e AS (SELECT doc_id,
        |    CAST(-(k::DOUBLE / len) * ln(k::DOUBLE / len) AS DECIMAL(20,9)) term
        |  FROM c)
        |SELECT doc_id, count(*) AS n_distinct_chars,
        |  round(CAST(sum(term) AS DOUBLE), 6) AS entropy
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q142_sql_lateral", q142SqlLateral,
      """SELECT n.n_name, a.n_cust, a.max_bal, a.sum_bal
        |FROM nation n, LATERAL (
        |  SELECT count(*) AS n_cust,
        |         max(c_acctbal) AS max_bal,
        |         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |  FROM customer WHERE c_nationkey = n.n_nationkey) a
        |ORDER BY n.n_name""".stripMargin),
    Query("q143_unpivot", q143Unpivot,
      """WITH u AS (
        |  SELECT p_partkey, 'p_size' AS metric, p_size::DOUBLE AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part)
        |SELECT metric, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM u GROUP BY metric ORDER BY metric""".stripMargin),
    Query("q144_matryoshka", q144Matryoshka,
      """WITH v AS (SELECT label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) e FROM embeddings),
        |r AS (SELECT label,
        |    sqrt(list_dot_product(e[1:16], e[1:16]) / list_dot_product(e, e)) AS r
        |  FROM v)
        |SELECT label, count(*) AS n_vecs,
        |  round(CAST(sum(CAST(r AS DECIMAL(20,9))) AS DOUBLE) / count(*), 6)
        |    AS avg_retained,
        |  round(min(r), 6) AS min_retained
        |FROM r GROUP BY label ORDER BY label""".stripMargin),
    Query("q145_token_budget", q145TokenBudget,
      s"""WITH t AS (SELECT doc_id, lang,
         |    len(str_split(text, ' '))::BIGINT AS nw,
         |    $qScore AS q
         |  FROM documents),
         |c AS (SELECT doc_id, lang, nw, q,
         |    sum(nw) OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS cum FROM t)
         |SELECT lang, count(*) AS n_docs, sum(nw)::BIGINT AS n_tokens,
         |  round(min(q), 6) AS min_q
         |FROM c WHERE cum <= 3000 GROUP BY lang ORDER BY lang""".stripMargin))
}
