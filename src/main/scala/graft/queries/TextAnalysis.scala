package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text-analysis operators over the documents table: corpus statistics,
  * heuristic language ID, token counting, document fingerprinting,
  * quality scoring. All per-row expression work + one small aggregation —
  * the 100 TB shape (scan-parallel, shuffle only group keys).
  */
object TextAnalysis {

  private val q60TextStats: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("w", words(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("w")).cast("long")).as("sum_words"),
        round(avg(size(col("w")).cast(DoubleType)), 6).as("avg_words"),
        round(avg(size(array_distinct(col("w"))).cast(DoubleType) /
          size(col("w")).cast(DoubleType)), 6).as("avg_diversity"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        max(size(col("w"))).as("max_words"))
      .orderBy("lang")
  }

  private val q61LangId: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("w", words(col("text")))
      .withColumn("predicted", langId(col("text"), col("w")))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  private val q62TokenCount: Q = (s, d) => {
    Tables.documents(s, d)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCountWs(col("text")).cast("long")).as("ws_tokens"),
        sum(tokenCountBpe(col("text")).cast("long")).as("bpe_tokens"),
        max(tokenCountWs(col("text"))).as("max_ws"))
      .orderBy("source")
  }

  /** Fingerprint clustering: docs sharing a bag-of-words fingerprint
    * (reorder/repeat-invariant duplicates) + their min-shingle-hash
    * (winnowing-style) fingerprint count. Fingerprints come from the
    * JVM kernel ([[graft.operators.Dedup.fingerprints]]) — bit-identical
    * to the declarative `bowFingerprint`/`minShingleFingerprint` pair
    * (TextFunctionsSpec pins the identity) but ~3× faster: the
    * declarative form pays one interpreted-lambda md5 per shingle per
    * row, which made this the slowest query of the r6 bench.
    */
  private val q63Fingerprint: Q = (s, d) => {
    graft.operators.Dedup.fingerprints(Tables.documents(s, d), "doc_id", "text", 3)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_id"),
        countDistinct(col("minfp")).as("n_minfp"))
      .filter(col("n_docs") >= 2)
      .orderBy("fp")
  }

  private val q64Quality: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("w", words(col("text")))
      .withColumn("q", qualityScore(col("text"), col("w")))
      .groupBy("source")
      .agg(
        round(avg(col("q")), 6).as("avg_quality"),
        count(when(col("q") >= 0.7, 1)).as("n_high"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  /** Text normalization: lowercase + punctuation strip + whitespace
    * collapse; output content hash of the normalized form (the dedup
    * key of choice for "same text modulo formatting").
    */
  private val q65Normalize: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("norm",
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
      .select(
        col("doc_id"),
        length(col("text")).as("n_raw"),
        length(col("norm")).as("n_norm"),
        md5(col("norm")).as("norm_hash"))
      .orderBy("doc_id")
  }

  /** Deterministic hash-based train/val/test split (80/10/10 on a
    * 60-bit content-independent id hash) — reproducible across runs,
    * engines, and partitionings, unlike rand()-based sampling.
    */
  private val q66TrainTestSplit: Q = (s, d) => {
    val bucket = pmod(mdHash(col("doc_id")), lit(100))
    Tables.documents(s, d)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "split")
  }

  /** Sequence packing: assign docs (in a deterministic order) to
    * fixed-token-budget packs via running token sums — the standard
    * pre-training batching step. Packing runs independently inside 8
    * deterministic hash shards so the cumsum window has a partition
    * key: at 100 TB every shard packs in parallel, instead of
    * serializing the whole corpus through one task the way a global
    * (un-partitioned) window would.
    */
  private val q67SequencePacking: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(W.unboundedPreceding, -1)
    Tables.documents(s, d)
      .withColumn("tokens", tokenCountWs(col("text")))
      .withColumn("shard", pmod(mdHash(col("doc_id")), lit(8)))
      .withColumn("pre_sum", coalesce(sum(col("tokens")).over(w), lit(0)))
      .withColumn("pack_id", floor(col("pre_sum") / lit(2048)).cast("long"))
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("shard", "pack_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q67_sequence_packing", q67SequencePacking,
      s"""WITH t AS (SELECT doc_id, len(str_split(text, ' ')) AS tokens,
         |    ${mdHashSql("doc_id::VARCHAR")} % 8 AS shard
         |  FROM documents),
         |c AS (SELECT shard, doc_id, tokens,
         |    coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_sum
         |  FROM t)
         |SELECT shard, CAST(floor(pre_sum / 2048) AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, sum(tokens)::BIGINT AS pack_tokens, min(doc_id) AS first_doc
         |FROM c GROUP BY 1, 2 ORDER BY shard, pack_id""".stripMargin),
    Query("q65_text_normalize", q65Normalize,
      """SELECT doc_id, length(text) AS n_raw,
        |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS n_norm,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q66_train_test_split", q66TrainTestSplit,
      s"""WITH t AS (SELECT lang, n_chars,
         |    ${mdHashSql("doc_id::VARCHAR")} % 100 AS b
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n, sum(n_chars)::BIGINT AS sum_chars
         |FROM t GROUP BY 1, 2 ORDER BY lang, split""".stripMargin),
    Query("q60_text_stats", q60TextStats,
      """WITH t AS (SELECT lang, text, str_split(text, ' ') w FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  sum(len(w)::BIGINT)::BIGINT AS sum_words,
        |  round(avg(len(w)::DOUBLE), 6) AS avg_words,
        |  round(avg(len(list_distinct(w))::DOUBLE / len(w)::DOUBLE), 6) AS avg_diversity,
        |  sum(length(text)::BIGINT)::BIGINT AS sum_chars,
        |  max(len(w)) AS max_words
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q61_lang_id", q61LangId,
      """WITH t AS (SELECT lang, text, str_split(text, ' ') w FROM documents),
        |scored AS (SELECT lang,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) cjk,
        |    len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) c_en,
        |    len(list_filter(w, x -> list_contains(['el','la','de','los','en','y','que'], x))) c_es,
        |    len(list_filter(w, x -> list_contains(['le','la','les','des','et','un','que'], x))) c_fr,
        |    len(list_filter(w, x -> list_contains(['der','die','das','und','ein','zu','mit'], x))) c_de
        |  FROM t),
        |p AS (SELECT lang,
        |    CASE WHEN cjk > 0 THEN 'zh'
        |      WHEN c_en > 0 AND c_en >= greatest(c_es, c_fr, c_de) THEN 'en'
        |      WHEN c_es > 0 AND c_es >= greatest(c_fr, c_de) THEN 'es'
        |      WHEN c_fr > 0 AND c_fr >= c_de THEN 'fr'
        |      WHEN c_de > 0 THEN 'de' ELSE 'und' END predicted
        |  FROM scored)
        |SELECT lang, predicted, count(*) AS n FROM p
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin),
    Query("q62_token_count", q62TokenCount,
      """SELECT source, count(*) AS n_docs,
        |  sum(len(str_split(text, ' '))::BIGINT)::BIGINT AS ws_tokens,
        |  sum(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}'))::BIGINT)::BIGINT AS bpe_tokens,
        |  max(len(str_split(text, ' '))) AS max_ws
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    Query("q63_fingerprint", q63Fingerprint,
      s"""WITH t AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
         |f AS (SELECT doc_id,
         |    ${mdHashSql("array_to_string(list_sort(list_distinct(w)), ' ')")} fp,
         |    list_min(list_transform(
         |      list_distinct([array_to_string(w[i:i+2], ' ')
         |        for i in range(1, greatest(len(w) - 2, 1) + 1)]),
         |      x -> ${mdHashSql("x")})) minfp
         |  FROM t)
         |SELECT fp, count(*) AS n_docs, min(doc_id) AS min_id,
         |  count(DISTINCT minfp) AS n_minfp
         |FROM f GROUP BY fp HAVING count(*) >= 2 ORDER BY fp""".stripMargin),
    Query("q64_quality_score", q64Quality,
      """WITH t AS (SELECT source, text, str_split(text, ' ') w FROM documents),
        |q AS (SELECT source,
        |    least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
        |    + (len(list_distinct(w))::DOUBLE / len(w)::DOUBLE) * 0.3
        |    + ((length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE + 1.0)
        |       / (length(text)::DOUBLE + 1.0)) * 0.3 AS q
        |  FROM t)
        |SELECT source, round(avg(q), 6) AS avg_quality,
        |  count(CASE WHEN q >= 0.7 THEN 1 END) AS n_high, count(*) AS n_docs
        |FROM q GROUP BY source ORDER BY source""".stripMargin))
}
