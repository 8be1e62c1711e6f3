package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dsum
import graft.functions.TextFunctions.{mdHash, mdHashSql, words}
import graft.sources.Tables

/** Round-7 capstone: the per-source curation scorecard — one row per
  * source composing the round's signals (volume, tokenizer fertility,
  * lexical diversity, winnowing near-dup exposure, classifier keep
  * rate) into the table a data-curation review actually reads.
  */
object Curation25 {

  /** Every per-source input is a bounded aggregate (≤ |sources| rows),
    * so the composition is broadcast joins over tiny frames; the only
    * corpus-scale work is the one scan per signal, each of which is
    * the already-proven operator (q276/q279/q295/q140 shapes).
    */
  private val q300SourceScorecard: Q = (s, d) => {
    val docs = Tables.documents(s, d)

    val volume = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))

    val fertility = docs
      .select(col("source"), size(words(col("text"))).cast(LongType).as("nw"),
        regexp_count(col("text"), lit("[A-Za-z0-9]{1,4}")).cast(LongType).as("nt"))
      .groupBy("source")
      .agg(round(sum(col("nt")).cast(DoubleType) /
        sum(col("nw")).cast(DoubleType), 6).as("fertility"))

    val diversity = Curation20.sourceWordCounts(docs)
      .select(col("source"),
        (-(col("k").cast(DoubleType) / col("n").cast(DoubleType)) *
          log(col("k").cast(DoubleType) / col("n").cast(DoubleType)))
          .cast(org.apache.spark.sql.types.DecimalType(20, 9)).as("hterm"))
      .groupBy("source")
      .agg(round(sum(col("hterm")).cast(DoubleType), 6).as("shannon"))

    // docs exposed to near-duplication: members of ≥1 winnowing pair
    val fps = graft.operators.Dedup
      .winnowFingerprints(docs, "doc_id", "text", n = 3, w = 4)
      .select(col("id").as("doc_id"), col("fp"))
    val ok = fps.groupBy("fp").agg(count(lit(1)).as("nf"))
      .filter(col("nf") <= 50).select("fp")
    val e = fps.join(ok, Seq("fp"))
    val dupDocs = e.select(col("fp"), col("doc_id").as("id_a"))
      .join(e.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val dupRate = docs.join(dupDocs, Seq("doc_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup_docs"))

    // q140 hashed-classifier keep rate
    val w = words(col("text"))
    val wsum = aggregate(
      transform(w, t => pmod(mdHash(concat_ws("|", lit("w"), t)), lit(2001L)) - lit(1000L)),
      lit(0L), (acc, x) => acc + x)
    val keep = docs
      .select(col("source"), size(w).as("nw"), wsum.as("w_sum"))
      .select(col("source"),
        (lit(1.0) / (lit(1.0) + exp(-col("w_sum").cast(DoubleType) /
          (lit(1000.0) * col("nw").cast(DoubleType)))) >= 0.5).cast(LongType).as("kept"))
      .groupBy("source")
      .agg(round(sum(col("kept")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("keep_rate"))

    volume
      .join(broadcast(fertility), Seq("source"))
      .join(broadcast(diversity), Seq("source"))
      .join(broadcast(dupRate), Seq("source"), "left")
      .join(broadcast(keep), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        col("fertility"), col("shannon"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs"), lit(0L)).cast(DoubleType) /
          col("n_docs").cast(DoubleType), 6).as("dup_rate"),
        col("keep_rate"))
      .orderBy("source")
  }

  val queries: Seq[Query] = Seq(
    Query("q300_source_scorecard", q300SourceScorecard,
      s"""WITH vol AS (SELECT source, count(*) n_docs, sum(n_chars) n_chars
         |  FROM documents GROUP BY source),
         |fert AS (SELECT source,
         |    round(sum(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}')))::DOUBLE /
         |      sum(len(str_split(text, ' ')))::DOUBLE, 6) fertility
         |  FROM documents GROUP BY source),
         |k AS (SELECT source, wd, count(*) k FROM (SELECT source,
         |    unnest(str_split(text, ' ')) wd FROM documents) GROUP BY 1, 2),
         |n AS (SELECT source, sum(k) n FROM k GROUP BY source),
         |div AS (SELECT k.source,
         |    round(sum(CAST(-(k::DOUBLE / n::DOUBLE) * ln(k::DOUBLE / n::DOUBLE)
         |      AS DECIMAL(20,9)))::DOUBLE, 6) shannon
         |  FROM k JOIN n USING (source) GROUP BY k.source),
         |docs AS (SELECT doc_id, source, str_split(text, ' ') w FROM documents
         |    WHERE len(str_split(text, ' ')) >= 6),
         |hs AS (SELECT doc_id, [${mdHashSql("array_to_string(w[i:i+2], ' ')")}
         |    for i in range(1, len(w) - 1)] hh FROM docs),
         |fp AS (SELECT doc_id, list_distinct([list_min(hh[i:i+3])
         |    for i in range(1, len(hh) - 2)]) fps FROM hs),
         |ex AS (SELECT doc_id, unnest(fps) fp FROM fp),
         |okf AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= 50),
         |ee AS (SELECT ex.doc_id, ex.fp FROM ex JOIN okf USING (fp)),
         |pr AS (SELECT a.doc_id id_a, b.doc_id id_b
         |  FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |dup AS (SELECT DISTINCT doc_id FROM (
         |  SELECT id_a doc_id FROM pr UNION ALL SELECT id_b FROM pr)),
         |dr AS (SELECT source, count(*) n_dup_docs FROM documents
         |  JOIN dup USING (doc_id) GROUP BY source),
         |sc AS (SELECT doc_id, source,
         |    1.0 / (1.0 + exp(-(list_aggregate(list_transform(str_split(text, ' '),
         |      t -> ${mdHashSql("'w|' || t")} % 2001 - 1000), 'sum')::DOUBLE) /
         |      (1000.0 * len(str_split(text, ' '))::DOUBLE))) score
         |  FROM documents),
         |kp AS (SELECT source, round(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END)::DOUBLE /
         |    count(*)::DOUBLE, 6) keep_rate FROM sc GROUP BY source)
         |SELECT vol.source, n_docs, n_chars::BIGINT AS n_chars, fertility, shannon,
         |  coalesce(n_dup_docs, 0)::BIGINT AS n_dup_docs,
         |  round(coalesce(n_dup_docs, 0)::DOUBLE / n_docs::DOUBLE, 6) AS dup_rate,
         |  keep_rate
         |FROM vol JOIN fert ON vol.source = fert.source
         |JOIN div ON vol.source = div.source
         |LEFT JOIN dr ON vol.source = dr.source
         |JOIN kp ON vol.source = kp.source
         |ORDER BY vol.source""".stripMargin))
}
