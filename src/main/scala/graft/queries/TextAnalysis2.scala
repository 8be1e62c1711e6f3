package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Second text-analysis batch: the corpus-statistics operators a
  * pre-training data pipeline runs after per-doc scoring — vocabulary
  * building, language-model scoring, repetition (Gopher-style) quality
  * signals, TF-IDF term extraction. All are explode → shuffle-on-word
  * → join shapes: |shuffle| is corpus token count, never pairwise.
  */
object TextAnalysis2 {

  /** Vocabulary build: top-200 words by corpus frequency with dense
    * ranks — the id-assignment step before tokenizer training. One
    * explode + one shuffle on word; the rank window runs over the
    * already-aggregated (small) vocab, not the corpus.
    */
  private val q69VocabBuild: Q = (s, d) => {
    val w = Window.orderBy(col("n").desc, col("word").asc)
    Tables.documents(s, d)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(200)
      .withColumn("rank", row_number().over(w))
      .select("rank", "word", "n")
      .orderBy("rank")
  }

  /** Unigram language-model score per doc: avg over words of
    * ln(count(word)/total_tokens), the cheapest perplexity-style
    * quality signal. Per-word logprobs are cast to DECIMAL(20,9)
    * before the per-doc sum so the aggregation is exact and
    * partition-order independent (raw double sums would hash-mismatch
    * across engines).
    */
  private val q85UnigramLogprob: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
    val tokens = Tables.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val vocab = tokens.groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = tokens.count()  // scalar action, not a driver dataset
    docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(broadcast(vocab), Seq("word"))
      .withColumn("lp",
        log(col("cnt").cast(DoubleType) / lit(total.toDouble))
          .cast("decimal(20,9)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("lp")).as("sum_lp"))
      .select(
        col("doc_id"), col("n_words"),
        round((col("sum_lp").cast(DoubleType) / col("n_words").cast(DoubleType)), 6)
          .as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals per doc: fraction of duplicate
    * word 3-grams and the highest single-word frequency ratio — the
    * standard "is this boilerplate/spam" quality filters. Pure per-row
    * array expressions, zero shuffle.
    */
  private val q87RepetitionSignals: Q = (s, d) => {
    val allGrams = transform(
      sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
      i => concat_ws(" ", slice(col("w"), i, lit(3))))
    Tables.documents(s, d)
      .filter(col("doc_id") < 100)
      .withColumn("w", words(col("text")))
      .withColumn("g", allGrams)
      .withColumn("dw", array_distinct(col("w")))
      .select(
        col("doc_id"),
        size(col("g")).as("n_3grams"),
        size(array_distinct(col("g"))).as("n_distinct_3grams"),
        round(lit(1.0) - size(array_distinct(col("g"))).cast(DoubleType) /
          size(col("g")).cast(DoubleType), 6).as("dup_3gram_frac"),
        round(array_max(transform(col("dw"),
            wd => size(filter(col("w"), x => x === wd)))).cast(DoubleType) /
          size(col("w")).cast(DoubleType), 6).as("max_word_ratio"))
      .orderBy("doc_id")
  }

  /** TF-IDF top terms: per doc the 3 highest tf·idf words
    * (idf = ln(N/df)). Shuffles are word-keyed aggregations plus one
    * broadcast join of the (vocab-sized) df table; the top-3 window
    * partitions by doc. Deterministic: score is a single double
    * product per (doc, word) — no accumulation — with a rounded-score
    * + word tie-break.
    */
  private val q88TfidfTopTerms: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val nDocs = Tables.rowCount(s, d, "documents")
    val tokens = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
    val tf = tokens.groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val docLen = tokens.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(round(col("score"), 9).desc, col("word").asc)
    tf.filter(col("doc_id") < 50)
      .join(broadcast(df), Seq("word"))
      .join(docLen, Seq("doc_id"))
      .withColumn("score",
        (col("cnt").cast(DoubleType) / col("len").cast(DoubleType)) *
          log(lit(nDocs.toDouble) / col("df").cast(DoubleType)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("word"), round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rk")
  }

  /** PII / boilerplate scan: per-source counts of email-, URL- and
    * long-digit-run-shaped tokens — the redaction/filtering pre-pass
    * every training-data pipeline runs. Pure regexp_count projections
    * (scan-parallel, pushdown-friendly) + one small aggregation.
    */
  private val q86PiiScan: Q = (s, d) => {
    val email = regexp_count(col("text"), lit("[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
    val url = regexp_count(col("text"), lit("https?://[^ ]+"))
    val digitRun = regexp_count(col("text"), lit("[0-9]{7,}"))
    Tables.documents(s, d)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(email.cast(LongType)).as("n_emails"),
        sum(url.cast(LongType)).as("n_urls"),
        sum(digitRun.cast(LongType)).as("n_digit_runs"),
        count(when(email + url + digitRun > 0, 1)).as("n_flagged"))
      .orderBy("source")
  }

  /** PII redaction pass (the rewrite q86 only counts): emails/URLs/
    * digit runs replaced by placeholder tokens; output carries the
    * redacted-content hash and how many spans changed, so the rewrite
    * is verifiable without shipping the text.
    */
  private val q102PiiRedact: Q = (s, d) => {
    import graft.functions.TextFunctions.redactPii
    val email = regexp_count(col("text"), lit("[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
    val url = regexp_count(col("text"), lit("https?://[^ ]+"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(redactPii(col("text"))).as("redacted_hash"),
        (email + url +
          regexp_count(redactPii(col("text")), lit("<NUM>"))).cast(LongType).as("n_redactions"))
      .orderBy("doc_id")
  }

  /** BM25 corpus search (k1=1.2, b=0.75): rank documents for a query
    * term set — here the corpus's own top-3 words, derived identically
    * by the oracle, so the query is scale-factor agnostic. Per-term
    * contributions cast to exact decimals before the per-doc sum
    * (partition-order-independent, the q85 pattern); final top-20
    * through the native top-k operator.
    */
  private val q103Bm25Search: Q = (s, d) => {
    import graft.functions.TextFunctions.words
    val docs = Tables.documents(s, d).select(col("doc_id"), words(col("text")).as("w"))
    val lens = docs.select(col("doc_id"), size(col("w")).cast(LongType).as("dl"))
    val tokens = docs.select(col("doc_id"), explode(col("w")).as("word"))
    val terms = tokens.groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word").asc).limit(3).select("word")
    val corpus = lens.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tokens.join(broadcast(terms), Seq("word"))
      .select("word", "doc_id").distinct()
      .groupBy("word").agg(count(lit(1)).cast("double").as("df"))
    val tf = tokens.join(broadcast(terms), Seq("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).cast("double").as("tf"))
    val contrib = tf.join(broadcast(dfreq), Seq("word"))
      .join(lens, Seq("doc_id")).crossJoin(broadcast(corpus))
      .select(col("doc_id"),
        (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .cast(DecimalType(20, 9)).as("part"))
    val scored = contrib.groupBy("doc_id").agg(sum(col("part")).as("s"))
    graft.operators.TopK.perGroup(scored, Nil, Seq(("s", true), ("doc_id", false)), k = 20)
      .select(col("rank"), col("doc_id"), round(col("s").cast("double"), 6).as("score"))
      .orderBy("rank")
  }

  val queries: Seq[Query] = Seq(
    Query("q103_bm25_search", q103Bm25Search,
      """WITH docs AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
        |lens AS (SELECT doc_id, len(w)::BIGINT dl FROM docs),
        |tokens AS (SELECT doc_id, unnest(w) AS word FROM docs),
        |terms AS (SELECT word FROM (
        |  SELECT word, count(*) c FROM tokens GROUP BY word
        |  ORDER BY c DESC, word ASC LIMIT 3)),
        |corpus AS (SELECT count(*)::DOUBLE n, sum(dl)::DOUBLE / count(*) avgdl FROM lens),
        |dfreq AS (SELECT word, count(DISTINCT doc_id)::DOUBLE df
        |  FROM tokens JOIN terms USING (word) GROUP BY word),
        |tf AS (SELECT doc_id, word, count(*)::DOUBLE tf
        |  FROM tokens JOIN terms USING (word) GROUP BY doc_id, word),
        |contrib AS (SELECT doc_id,
        |    CAST(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS DECIMAL(20,9)) part
        |  FROM tf JOIN dfreq USING (word) JOIN lens USING (doc_id), corpus),
        |scored AS (SELECT doc_id, sum(part) s FROM contrib GROUP BY doc_id),
        |r AS (SELECT doc_id, s,
        |    row_number() OVER (ORDER BY s DESC, doc_id ASC)::INT AS rank FROM scored)
        |SELECT rank, doc_id, round(s::DOUBLE, 6) AS score
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin),
    Query("q102_pii_redact", q102PiiRedact,
      """WITH r AS (SELECT doc_id, text,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^ ]+', '<URL>', 'g'),
        |      '[0-9]{7,}', '<NUM>', 'g') AS red
        |  FROM documents)
        |SELECT doc_id, md5(red) AS redacted_hash,
        |  (len(regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |   + len(regexp_extract_all(text, 'https?://[^ ]+'))
        |   + len(regexp_extract_all(red, '<NUM>')))::BIGINT AS n_redactions
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("q86_pii_scan", q86PiiScan,
      """WITH t AS (SELECT source,
        |    len(regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
        |    len(regexp_extract_all(text, 'https?://[^ ]+')) AS u,
        |    len(regexp_extract_all(text, '[0-9]{7,}')) AS dr
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  sum(e)::BIGINT AS n_emails, sum(u)::BIGINT AS n_urls,
        |  sum(dr)::BIGINT AS n_digit_runs,
        |  count(CASE WHEN e + u + dr > 0 THEN 1 END) AS n_flagged
        |FROM t GROUP BY source ORDER BY source""".stripMargin),
    Query("q69_vocab_build", q69VocabBuild,
      """WITH w AS (SELECT unnest(str_split(text, ' ')) AS word FROM documents),
        |v AS (SELECT word, count(*) AS n FROM w GROUP BY word
        |  ORDER BY n DESC, word ASC LIMIT 200)
        |SELECT row_number() OVER (ORDER BY n DESC, word ASC) AS rank, word, n
        |FROM v ORDER BY rank""".stripMargin),
    Query("q85_unigram_logprob", q85UnigramLogprob,
      """WITH t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents),
        |v AS (SELECT word, count(*) AS cnt FROM t GROUP BY word),
        |tot AS (SELECT count(*)::DOUBLE AS total FROM t),
        |lp AS (SELECT t.doc_id,
        |    CAST(ln(v.cnt::DOUBLE / tot.total) AS DECIMAL(20,9)) AS lp
        |  FROM t JOIN v USING (word) CROSS JOIN tot
        |  WHERE t.doc_id < 100)
        |SELECT doc_id, count(*) AS n_words,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*)::DOUBLE, 6) AS avg_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q87_repetition_signals", q87RepetitionSignals,
      """WITH t AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents
        |    WHERE doc_id < 100),
        |g AS (SELECT doc_id, w,
        |    [array_to_string(w[i:i+2], ' ')
        |      for i in range(1, greatest(len(w) - 2, 1) + 1)] AS g,
        |    list_distinct(w) AS dw
        |  FROM t)
        |SELECT doc_id,
        |  len(g) AS n_3grams,
        |  len(list_distinct(g)) AS n_distinct_3grams,
        |  round(1.0 - len(list_distinct(g))::DOUBLE / len(g)::DOUBLE, 6) AS dup_3gram_frac,
        |  round(list_max(list_transform(dw,
        |      wd -> len(list_filter(w, x -> x = wd))))::DOUBLE / len(w)::DOUBLE, 6)
        |    AS max_word_ratio
        |FROM g ORDER BY doc_id""".stripMargin),
    Query("q88_tfidf_top_terms", q88TfidfTopTerms,
      """WITH t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS cnt FROM t GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, count(*) AS len FROM t GROUP BY doc_id),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM documents),
        |scored AS (SELECT tf.doc_id, tf.word,
        |    (tf.cnt::DOUBLE / dl.len::DOUBLE) * ln(nd.n / df.df::DOUBLE) AS score
        |  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN nd
        |  WHERE tf.doc_id < 50),
        |ranked AS (SELECT doc_id, word, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY round(score, 9) DESC, word ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, word, round(score, 6) AS score
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin))
}
