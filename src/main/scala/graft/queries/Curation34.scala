package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-8 wave 4: corpus-curation and audit readouts — Flesch
  * readability banding, RAKE-lite keyphrase extraction, an
  * equalized-odds fairness audit, temperature-scaled mixture weights,
  * and an embedding hubness audit.
  */
object Curation34 {

  /** q339: Flesch reading-ease banding — the classic readability
    * filter for training-data quality gates. Words / sentences /
    * syllable-ish vowel-group counts are all single-pass regex
    * extracts (map-only), the score is closed-form from integer
    * counts, and the output is a bounded five-band histogram.
    */
  private val q339FleschBands: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counted = docs.select(
      size(split(col("text"), " ")).as("w"),
      greatest(lit(1), size(expr("regexp_extract_all(text, '[.!?]', 0)"))).as("sen"),
      size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).as("syl"))
    val scored = counted.withColumn("fre",
      lit(206.835) - lit(1.015) * col("w").cast(DoubleType) / col("sen").cast(DoubleType)
        - lit(84.6) * col("syl").cast(DoubleType) / col("w").cast(DoubleType))
      .withColumn("band",
        when(col("fre") >= 90, "1_very_easy")
          .when(col("fre") >= 70, "2_easy")
          .when(col("fre") >= 50, "3_medium")
          .when(col("fre") >= 30, "4_hard")
          .otherwise("5_very_hard"))
    scored.groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("fre").cast(DecimalType(24, 9))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("mean_fre"))
      .orderBy("band")
  }

  private val stopRe =
    "\\b(?:the|and|of|to|a|in|is|for|on|with|as|at|by|an|be|this|that|it|from|or|are|was|were|has|have)\\b"

  /** q340: RAKE-lite keyphrase extraction — phrases are the
    * stopword-delimited runs of the normalized text, word score =
    * degree/frequency over all phrase occurrences, phrase score =
    * Σ word scores. Everything is explode → keyed aggregate → join
    * back (token-volume bounded); the final top-20 is a global
    * TakeOrdered with a full deterministic tie-break.
    */
  private val q340RakeKeyphrases: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val phrases = docs
      .select(explode(split(regexp_replace(lower(col("text")), "[^a-z ]", " "),
        stopRe)).as("frag"))
      .select(trim(regexp_replace(col("frag"), " +", " ")).as("phrase"))
      .filter(col("phrase") =!= "" && size(split(col("phrase"), " ")) <= 3)
      .groupBy("phrase").agg(count(lit(1)).as("n_occurrences"))
    val occWords = phrases
      .select(col("phrase"), col("n_occurrences"),
        size(split(col("phrase"), " ")).as("plen"),
        explode(split(col("phrase"), " ")).as("word"))
    val wordScores = occWords
      .groupBy("word")
      .agg((sum(col("plen") * col("n_occurrences")).cast(DoubleType) /
        sum(col("n_occurrences")).cast(DoubleType)).as("wscore"))
    occWords.join(wordScores, "word")
      .groupBy("phrase", "n_occurrences")
      .agg(round(sum(col("wscore").cast(DecimalType(24, 9))).cast(DoubleType), 6)
        .as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(20)
  }

  /** q341: equalized-odds audit of a heuristic English gate (predict
    * en ⇔ text contains " the ") against the lang label, grouped by
    * source parity — the per-group selection-rate/TPR/FPR table that
    * fairness dashboards read. One conditional-aggregation scan.
    */
  private val q341EqualizedOdds: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(
      (substring(col("source"), 4, 10).cast("int") % 2).as("grp"),
      (col("lang") === "en").as("y"),
      (instr(lower(col("text")), " the ") > 0).as("p"))
    docs.groupBy("grp")
      .agg(count(lit(1)).as("n"),
        round(sum(when(col("p"), 1L).otherwise(0L)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("sel_rate"),
        round(sum(when(col("p") && col("y"), 1L).otherwise(0L)).cast(DoubleType) /
          sum(when(col("y"), 1L).otherwise(0L)).cast(DoubleType), 6).as("tpr"),
        round(sum(when(col("p") && !col("y"), 1L).otherwise(0L)).cast(DoubleType) /
          sum(when(!col("y"), 1L).otherwise(0L)).cast(DoubleType), 6).as("fpr"))
      .orderBy("grp")
  }

  /** q342: temperature-scaled mixture weights per source (q_i ∝ √p_i,
    * the T=2 sampling standard for balancing multilingual/multi-source
    * corpora) with per-source boost and an expected-docs column for a
    * 10k budget. √ instead of a fractional pow keeps the arithmetic
    * IEEE-correctly-rounded — bit-identical across engines. One keyed
    * count + one broadcast normalizer.
    */
  private val q342TemperatureMixture: Q = (s, d) => {
    val counts = Tables.documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("tot"))
    val p = counts.crossJoin(broadcast(tot))
      .withColumn("p", col("n").cast(DoubleType) / col("tot").cast(DoubleType))
      .withColumn("r", sqrt(col("p")))
    val z = p.agg(sum(col("r").cast(DecimalType(30, 15))).cast(DoubleType).as("z"))
    p.crossJoin(broadcast(z))
      .withColumn("q", col("r") / col("z"))
      .select(col("source"), col("n"),
        round(col("p"), 6).as("p"),
        round(col("q"), 6).as("q"),
        round(col("q") / col("p"), 4).as("boost"),
        round(col("q") * 10000, 2).as("expected_docs"))
      .orderBy("source")
  }

  /** q343: hubness audit of the embedding space — the k-occurrence
    * skew that predicts ANN retrieval quality problems (hubs appear in
    * everyone's top-k; antihubs in no one's). Measured over a
    * COORDINATED bounded sample (top-100 per label by seeded hash —
    * the same fixed-size-at-any-scale device as q322), so the pair
    * work is ≤ label·100² regardless of corpus size; 3-NN by exact
    * cosine within the label cell, then k-occurrence moments from
    * integer sums.
    */
  private val q343HubnessAudit: Q = (s, d) => {
    import graft.functions.GraftFunctions.{dotNative, normSqNative}
    val wsamp = Window.partitionBy("label")
      .orderBy(mdHash(col("vec_id")), col("vec_id"))
    // pairwise cosine through the codegen'd native dot kernel (the q77
    // shape; DuckDB list_dot_product is fold-order-compatible, proven
    // by the IVF oracles) — the first cut exploded dims into a 6.4M-row
    // decimal aggregate and measured 19 s at sf0.1; this one holds ~1 s
    val samp = Tables.embeddings(s, d)
      .withColumn("rn", row_number().over(wsamp))
      .filter(col("rn") <= 100)
      .select(col("label"), col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", normSqNative(col("v")))
    val a = samp.select(col("label"), col("vec_id").as("ida"),
      col("v").as("va"), col("nrm").as("na"))
    val b = samp.select(col("label"), col("vec_id").as("idb"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("label"))
      .filter(col("ida") =!= col("idb"))
      .select(col("label"), col("ida"), col("idb"),
        (dotNative(col("va"), col("vb")) /
          (sqrt(col("na")) * sqrt(col("nb")))).as("cos"))
    val wnn = Window.partitionBy("label", "ida").orderBy(col("cos").desc, col("idb"))
    val nn = pairs.withColumn("r", row_number().over(wnn)).filter(col("r") <= 3)
    val ko = nn.groupBy(col("label"), col("idb").as("vec_id"))
      .agg(count(lit(1)).as("ko"))
    val sampIds = samp.select("label", "vec_id")
    sampIds.join(ko, Seq("label", "vec_id"), "left")
      .withColumn("k", coalesce(col("ko"), lit(0L)))
      .groupBy("label")
      .agg(count(lit(1)).as("n_sample"),
        max(col("k")).as("max_ko"),
        sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_antihubs"),
        round((sum(col("k") * col("k")).cast(DoubleType) -
          sum(col("k")).cast(DoubleType) * sum(col("k")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)) / count(lit(1)).cast(DoubleType), 6)
          .as("ko_variance"))
      .orderBy("label")
  }

  val queries: Seq[Query] = Seq(
    Query("q339_flesch_bands", q339FleschBands,
      """WITH c AS (SELECT
        |    len(string_split(text, ' ')) w,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]'))) sen,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) syl
        |  FROM documents),
        |sc AS (SELECT 206.835 - 1.015 * w::DOUBLE / sen::DOUBLE
        |    - 84.6 * syl::DOUBLE / w::DOUBLE fre FROM c),
        |b AS (SELECT fre, CASE WHEN fre >= 90 THEN '1_very_easy'
        |    WHEN fre >= 70 THEN '2_easy' WHEN fre >= 50 THEN '3_medium'
        |    WHEN fre >= 30 THEN '4_hard' ELSE '5_very_hard' END band FROM sc)
        |SELECT band, count(*) n_docs,
        |  round(CAST(sum(CAST(fre AS DECIMAL(24,9))) AS DOUBLE) / count(*), 6)
        |    AS mean_fre
        |FROM b GROUP BY band ORDER BY band""".stripMargin),
    Query("q340_rake_keyphrases", q340RakeKeyphrases,
      ("""WITH frags AS (SELECT unnest(regexp_split_to_array(
        |    regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),
        |    '""" + stopRe + """')) frag
        |  FROM documents),
        |ph AS (SELECT trim(regexp_replace(frag, ' +', ' ', 'g')) phrase FROM frags),
        |phrases AS (SELECT phrase, count(*) n_occurrences FROM ph
        |  WHERE phrase <> '' AND len(string_split(phrase, ' ')) <= 3
        |  GROUP BY phrase),
        |ow AS (SELECT phrase, n_occurrences, len(string_split(phrase, ' ')) plen,
        |    unnest(string_split(phrase, ' ')) word FROM phrases),
        |ws AS (SELECT word, sum(plen * n_occurrences)::DOUBLE /
        |    sum(n_occurrences)::DOUBLE wscore FROM ow GROUP BY word)
        |SELECT phrase, n_occurrences,
        |  round(CAST(sum(CAST(wscore AS DECIMAL(24,9))) AS DOUBLE), 6) AS score
        |FROM ow JOIN ws USING (word)
        |GROUP BY phrase, n_occurrences
        |ORDER BY score DESC, phrase LIMIT 20""").stripMargin),
    Query("q341_equalized_odds", q341EqualizedOdds,
      """WITH d AS (SELECT (substr(source, 4)::INT % 2) grp,
        |    lang = 'en' y,
        |    strpos(lower(text), ' the ') > 0 p
        |  FROM documents)
        |SELECT grp, count(*) n,
        |  round(sum(CASE WHEN p THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS sel_rate,
        |  round(sum(CASE WHEN p AND y THEN 1 ELSE 0 END)::DOUBLE /
        |    sum(CASE WHEN y THEN 1 ELSE 0 END)::DOUBLE, 6) AS tpr,
        |  round(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END)::DOUBLE /
        |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END)::DOUBLE, 6) AS fpr
        |FROM d GROUP BY grp ORDER BY grp""".stripMargin),
    Query("q342_temperature_mixture", q342TemperatureMixture,
      """WITH c AS (SELECT source, count(*) n FROM documents GROUP BY source),
        |t AS (SELECT sum(n) tot FROM c),
        |p AS (SELECT source, n, n::DOUBLE / tot::DOUBLE p, sqrt(n::DOUBLE / tot::DOUBLE) r
        |  FROM c CROSS JOIN t),
        |z AS (SELECT CAST(sum(CAST(r AS DECIMAL(30,15))) AS DOUBLE) z FROM p)
        |SELECT source, n, round(p, 6) AS p, round(r / z, 6) AS q,
        |  round((r / z) / p, 4) AS boost,
        |  round((r / z) * 10000, 2) AS expected_docs
        |FROM p CROSS JOIN z ORDER BY source""".stripMargin),
    Query("q343_hubness_audit", q343HubnessAudit,
      s"""WITH samp AS (SELECT label, vec_id, embedding
         |  FROM (SELECT *, row_number() OVER (PARTITION BY label
         |      ORDER BY ${mdHashSql("vec_id::VARCHAR")}, vec_id) rn
         |    FROM embeddings) WHERE rn <= 100),
         |vs AS (SELECT label, vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM samp),
         |pairs AS (SELECT a.label, a.vec_id ida, b.vec_id idb,
         |    list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) *
         |       sqrt(list_dot_product(b.v, b.v))) cos
         |  FROM vs a JOIN vs b ON a.label = b.label AND a.vec_id <> b.vec_id),
         |nn AS (SELECT label, ida, idb FROM (SELECT *,
         |    row_number() OVER (PARTITION BY label, ida
         |      ORDER BY cos DESC, idb) r
         |  FROM pairs) WHERE r <= 3),
         |ko AS (SELECT label, idb vec_id, count(*) ko FROM nn GROUP BY label, idb),
         |j AS (SELECT s.label, s.vec_id, coalesce(ko.ko, 0) k
         |  FROM (SELECT DISTINCT label, vec_id FROM samp) s
         |  LEFT JOIN ko ON ko.label = s.label AND ko.vec_id = s.vec_id)
         |SELECT label, count(*) n_sample, max(k)::BIGINT AS max_ko,
         |  sum(CASE WHEN k = 0 THEN 1 ELSE 0 END)::BIGINT AS n_antihubs,
         |  round((sum(k * k)::DOUBLE - sum(k)::DOUBLE * sum(k)::DOUBLE /
         |    count(*)::DOUBLE) / count(*)::DOUBLE, 6) AS ko_variance
         |FROM j GROUP BY label ORDER BY label""".stripMargin))
}
