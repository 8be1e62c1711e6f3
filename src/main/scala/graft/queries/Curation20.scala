package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dsum
import graft.functions.TextFunctions.{mdHash, mdHashSql, words}
import graft.sources.Tables

/** Round-7 third wave: winnowing (MOSS) fingerprints, day-of-week
  * seasonality, item-item co-occurrence similarity, lexical diversity
  * indices, decile lift/gains, a real-streaming sliding window,
  * sample-ratio-mismatch audit, and per-dimension feature screening.
  */
object Curation20 {

  /** Winnowing (MOSS) document fingerprints: trigram hashes at every
    * token position, a 4-hash sliding window keeps each window's MIN
    * hash, and the distinct mins are the doc's position-robust
    * fingerprint set — one JVM kernel pass ([[graft.operators.Dedup
    * .winnowFingerprints]]; the declarative slice-per-position form is
    * quadratic per doc and interpreted — 306 s at sf0.1 vs ~1 s).
    * Shared-fingerprint pairs come from an equi-join on fingerprint
    * value with a hub cap (fingerprints in > 50 docs are boilerplate
    * and get dropped — the q240 hub rule), never an all-pairs product.
    */
  private val q276Winnowing: Q = (s, d) => {
    val fps = graft.operators.Dedup
      .winnowFingerprints(Tables.documents(s, d), "doc_id", "text", n = 3, w = 4)
      .select(col("id").as("doc_id"), col("fp"))
    val ok = fps.groupBy("fp").agg(count(lit(1)).as("nf"))
      .filter(col("nf") <= 50).select("fp")
    val e = fps.join(ok, Seq("fp"))
    e.select(col("fp"), col("doc_id").as("id_a"))
      .join(e.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("id_a", "id_b")
  }

  /** Day-of-week seasonal index of event volume: per-dow mean daily
    * count over the overall mean. The corpus reduces to one daily
    * aggregate; everything after is bounded (≤ 7 × days rows).
    * Day numbering is Sunday=0 in both engines.
    */
  private val q277Seasonality: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("dd")).agg(count(lit(1)).as("n"))
    val byDow = daily.groupBy((dayofweek(col("dd")) - 1).cast(LongType).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"))
    val overall = daily.agg(
      (sum(col("n")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("om"))
    byDow.crossJoin(broadcast(overall))
      .select(col("dow"), col("n_days"), col("total"),
        round((col("total").cast(DoubleType) / col("n_days").cast(DoubleType)) /
          col("om"), 6).as("seasonal_index"))
      .orderBy("dow")
  }

  /** Item-item collaborative-filtering similarity: cosine over basket
    * co-occurrence counts — co(i,j)/√(c(i)·c(j)). Pairs generate
    * IN-ROW from each order's sorted basket (the q237 discipline);
    * item totals broadcast back. Top-20 by (cos, pair) is exact.
    */
  private val q278ItemSimilarity: Q = (s, d) => {
    val baskets = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
    val pairs = baskets.filter(size(col("ps")) >= 2)
      .select(explode(graft.functions.GraftFunctions.pairs(col("ps"))).as("t"))
      .groupBy(col("t.p1").as("p1"), col("t.p2").as("p2"))
      .agg(count(lit(1)).as("co"))
    val items = baskets.select(explode(col("ps")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("c"))
    pairs
      .join(broadcast(items.withColumnRenamed("p", "p1").withColumnRenamed("c", "c1")), Seq("p1"))
      .join(broadcast(items.withColumnRenamed("p", "p2").withColumnRenamed("c", "c2")), Seq("p2"))
      .withColumn("cos", col("co").cast(DoubleType) /
        sqrt(col("c1").cast(DoubleType) * col("c2").cast(DoubleType)))
      .orderBy(round(col("cos"), 9).desc, col("p1"), col("p2")).limit(20)
      .select(col("p1"), col("p2"), col("co"), round(col("cos"), 6).as("cos"))
  }

  /** (source, wd, k, n): per-source word counts with the source total
    * broadcast back — the shared distribution base for the diversity
    * (q279) and JS-divergence (q285) queries; tokenization and the
    * empty-token convention live in exactly one place.
    */
  private[queries] def sourceWordCounts(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val terms = df.select(col("source"), explode(words(col("text"))).as("wd"))
      .groupBy("source", "wd").agg(count(lit(1)).as("k"))
    terms.join(
      broadcast(terms.groupBy("source").agg(sum(col("k")).as("n"))), Seq("source"))
  }

  /** Lexical diversity per source: Shannon entropy and Simpson index
    * of the word distribution, from one (source, word) keyed count.
    * Per-term double contributions sum as fixed-scale decimals —
    * partition-order independent, the q141 discipline.
    */
  private val q279Diversity: Q = (s, d) => {
    sourceWordCounts(Tables.documents(s, d))
      .select(col("source"), col("n"),
        (-(col("k").cast(DoubleType) / col("n").cast(DoubleType)) *
          log(col("k").cast(DoubleType) / col("n").cast(DoubleType)))
          .cast(DecimalType(20, 9)).as("hterm"),
        ((col("k").cast(DoubleType) / col("n").cast(DoubleType)) *
          (col("k").cast(DoubleType) / col("n").cast(DoubleType)))
          .cast(DecimalType(20, 12)).as("sterm"))
      .groupBy("source")
      .agg(min(col("n")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        round(sum(col("hterm")).cast(DoubleType), 6).as("shannon"),
        round(sum(col("sterm")).cast(DoubleType), 6).as("simpson"))
      .orderBy("source")
  }

  /** Decile lift/gains table for the q140 hashed-classifier score
    * against a length outcome: rank deciles by score, per-decile
    * response rate over the overall rate — the standard model-eval
    * readout. One scan scores; one keyed window ranks; integer counts
    * end in two divisions.
    */
  private val q280DecileLift: Q = (s, d) => {
    val w = words(col("text"))
    val wsum = aggregate(
      transform(w, t => pmod(mdHash(concat_ws("|", lit("w"), t)), lit(2001L)) - lit(1000L)),
      lit(0L), (acc, x) => acc + x)
    val score = lit(1.0) / (lit(1.0) +
      exp(-col("w_sum").cast(DoubleType) / (lit(1000.0) * col("nw").cast(DoubleType))))
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), size(w).as("nw"), wsum.as("w_sum"),
        (col("n_chars") >= 400).cast(LongType).as("pos"))
      .withColumn("score", score)
      .withColumn("decile",
        ntile(10).over(Window.orderBy(round(col("score"), 9).desc, col("doc_id"))).cast(LongType))
    val overall = scored.agg(
      (sum(col("pos")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("orate"))
    scored.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .crossJoin(broadcast(overall))
      .select(col("decile"), col("n"), col("n_pos"),
        round(col("n_pos").cast(DoubleType) / col("n").cast(DoubleType), 6).as("resp_rate"),
        round(col("n_pos").cast(DoubleType) / col("n").cast(DoubleType) / col("orate"), 6).as("lift"))
      .orderBy("decile")
  }

  /** Sliding-window aggregation (2-day width, 1-day slide) through the
    * REAL streaming engine in complete mode — overlapping window state,
    * the face q257's tumbling twin does not exercise. Oracle = each
    * event exploded into its two covering windows.
    */
  private val q281StreamSliding: Q = (s, d) => {
    val stream = graft.streaming.StreamingOps.readEventStream(s, d)
    val agg = graft.streaming.StreamingOps.slidingCounts(stream, "2 days", "1 day", "1 hour")
    Curation18.runStream(agg, "complete")
      .select(col("w_start"), col("n"))
      .orderBy("w_start")
  }

  /** Sample-ratio-mismatch audit: hash-assign every user to one of two
    * arms, chi-squared against the designed 50/50 split — the
    * experimentation guardrail that catches broken bucketing. One
    * distinct + one conditional aggregate; engine-exact.
    */
  private val q282SrmAudit: Q = (s, d) => {
    val m = Tables.events(s, d).select(col("user_id")).distinct()
      .withColumn("arm", pmod(mdHash(col("user_id")), lit(2L)))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
    m.select(col("n0"), col("n1"),
      round(((col("n0") - (col("n0") + col("n1")) / lit(2.0)) *
        (col("n0") - (col("n0") + col("n1")) / lit(2.0)) +
        (col("n1") - (col("n0") + col("n1")) / lit(2.0)) *
          (col("n1") - (col("n0") + col("n1")) / lit(2.0))).cast(DoubleType) /
        ((col("n0") + col("n1")) / lit(2.0)), 6).as("chi2"))
      .withColumn("srm", col("chi2") > 3.841)
  }

  /** Univariate feature screen: Pearson correlation of every embedding
    * dimension against the label, from integer micro-unit moments
    * (x quantized to 1e-6 — correlation is scale-invariant, so the
    * quantized moments are EXACT integers and the closed form is
    * engine-identical). One posexplode + one keyed aggregate; output
    * bounded by the dimension count.
    */
  private val q283FeatureScreen: Q = (s, d) => {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast(LongType).as("y"),
        posexplode(col("embedding")))
      .select((col("pos") + 1).cast(LongType).as("dim"),
        round(col("col").cast(DoubleType) * 1e6, 0).cast(LongType).as("xi"), col("y"))
    x.groupBy("dim").agg(count(lit(1)).as("n"),
        sum(col("xi")).as("sx"), sum(col("xi") * col("xi")).as("sxx"),
        sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"),
        sum(col("xi") * col("y")).as("sxy"))
      .select(col("dim"), col("n"),
        round((col("n").cast(DoubleType) * col("sxy").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
          sqrt((col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
            (col("n").cast(DoubleType) * col("syy").cast(DoubleType) -
              col("sy").cast(DoubleType) * col("sy").cast(DoubleType))), 6).as("corr"))
      .orderBy("dim")
  }

  val queries: Seq[Query] = Seq(
    Query("q276_winnowing", q276Winnowing,
      s"""WITH docs AS (SELECT doc_id, str_split(text, ' ') w FROM documents
         |    WHERE len(str_split(text, ' ')) >= 6),
         |hs AS (SELECT doc_id, [${mdHashSql("array_to_string(w[i:i+2], ' ')")}
         |    for i in range(1, len(w) - 1)] hh FROM docs),
         |fp AS (SELECT doc_id, list_distinct([list_min(hh[i:i+3])
         |    for i in range(1, len(hh) - 2)]) fps FROM hs),
         |e AS (SELECT doc_id, unnest(fps) fp FROM fp),
         |ok AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 50),
         |ee AS (SELECT e.doc_id, e.fp FROM e JOIN ok USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin),
    Query("q277_seasonality", q277Seasonality,
      """WITH daily AS (SELECT CAST(ts AS DATE) dd, count(*) n FROM events GROUP BY 1),
        |bd AS (SELECT dayofweek(dd)::BIGINT dow, count(*) n_days, sum(n) total
        |  FROM daily GROUP BY 1),
        |o AS (SELECT sum(n)::DOUBLE / count(*)::DOUBLE om FROM daily)
        |SELECT dow, n_days, total::BIGINT AS total,
        |  round((total::DOUBLE / n_days::DOUBLE) / om, 6) AS seasonal_index
        |FROM bd, o ORDER BY dow""".stripMargin),
    Query("q278_item_similarity", q278ItemSimilarity,
      """WITH b AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
        |co AS (SELECT a.p p1, c.p p2, count(*) co FROM b a
        |  JOIN b c ON a.o = c.o AND a.p < c.p GROUP BY 1, 2),
        |items AS (SELECT p, count(*) c FROM b GROUP BY p),
        |s AS (SELECT p1, p2, co,
        |    co::DOUBLE / sqrt(i1.c::DOUBLE * i2.c::DOUBLE) cos
        |  FROM co JOIN items i1 ON i1.p = p1 JOIN items i2 ON i2.p = p2)
        |SELECT p1, p2, co, round(cos, 6) AS cos FROM s
        |ORDER BY round(cos, 9) DESC, p1, p2 LIMIT 20""".stripMargin),
    Query("q279_diversity", q279Diversity,
      """WITH t AS (SELECT source, unnest(str_split(text, ' ')) wd FROM documents),
        |k AS (SELECT source, wd, count(*) k FROM t GROUP BY 1, 2),
        |n AS (SELECT source, sum(k) n FROM k GROUP BY source),
        |terms AS (SELECT k.source, n.n,
        |    CAST(-(k::DOUBLE / n::DOUBLE) * ln(k::DOUBLE / n::DOUBLE)
        |      AS DECIMAL(20,9)) hterm,
        |    CAST((k::DOUBLE / n::DOUBLE) * (k::DOUBLE / n::DOUBLE)
        |      AS DECIMAL(20,12)) sterm
        |  FROM k JOIN n USING (source))
        |SELECT source, min(n)::BIGINT AS n_tokens, count(*) AS n_distinct,
        |  round(sum(hterm)::DOUBLE, 6) AS shannon,
        |  round(sum(sterm)::DOUBLE, 6) AS simpson
        |FROM terms GROUP BY source ORDER BY source""".stripMargin),
    Query("q280_decile_lift", q280DecileLift,
      s"""WITH scored AS (SELECT doc_id,
         |    len(str_split(text, ' ')) nw,
         |    list_aggregate(list_transform(str_split(text, ' '),
         |      t -> ${mdHashSql("'w|' || t")} % 2001 - 1000), 'sum') w_sum,
         |    CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END pos
         |  FROM documents),
         |sc AS (SELECT doc_id, pos,
         |    1.0 / (1.0 + exp(-(w_sum::DOUBLE) / (1000.0 * nw::DOUBLE))) score
         |  FROM scored),
         |dec AS (SELECT pos,
         |    ntile(10) OVER (ORDER BY round(score, 9) DESC, doc_id)::BIGINT decile
         |  FROM sc),
         |o AS (SELECT sum(pos)::DOUBLE / count(*)::DOUBLE orate FROM dec)
         |SELECT decile, count(*) AS n, sum(pos)::BIGINT AS n_pos,
         |  round(sum(pos)::DOUBLE / count(*)::DOUBLE, 6) AS resp_rate,
         |  round(sum(pos)::DOUBLE / count(*)::DOUBLE / orate, 6) AS lift
         |FROM dec, o GROUP BY decile, orate ORDER BY decile""".stripMargin),
    Query("q281_stream_sliding", q281StreamSliding,
      """WITH w AS (SELECT unnest([date_trunc('day', ts),
        |    date_trunc('day', ts) - INTERVAL 1 DAY]) w_start FROM events)
        |SELECT w_start, count(*) AS n FROM w GROUP BY 1 ORDER BY w_start""".stripMargin),
    Query("q282_srm_audit", q282SrmAudit,
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |a AS (SELECT ${mdHashSql("user_id::VARCHAR")} % 2 arm FROM u),
         |m AS (SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT n0,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT n1 FROM a)
         |SELECT n0, n1,
         |  round(((n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0) +
         |    (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0))::DOUBLE /
         |    ((n0 + n1) / 2.0), 6) AS chi2,
         |  ((((n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0) +
         |    (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0))::DOUBLE /
         |    ((n0 + n1) / 2.0)) > 3.841) AS srm
         |FROM m""".stripMargin),
    Query("q283_feature_screen", q283FeatureScreen,
      """WITH x AS (SELECT vec_id, label::BIGINT y,
        |    generate_subscripts(embedding, 1)::BIGINT dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) xi
        |  FROM embeddings),
        |m AS (SELECT dim, count(*) n, sum(xi) sx, sum(xi * xi) sxx,
        |    sum(y) sy, sum(y * y) syy, sum(xi * y) sxy
        |  FROM x GROUP BY dim)
        |SELECT dim, n,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |    sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
        |      (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS corr
        |FROM m ORDER BY dim""".stripMargin))
}
