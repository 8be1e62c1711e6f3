package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec2
import graft.functions.TextFunctions.{mdHash, mdHashSql, words}
import graft.sources.Tables

/** Round-7 wave 11: dataset cartography (confidence/variability data
  * maps), classical seasonal decomposition, partial correlation
  * controlling for source, and coordinated bottom-k sampling across
  * snapshots.
  */
object Curation29 {

  /** q319: dataset-cartography data map — K=8 deterministic pseudo-epoch
    * classifier scores per document (the q140 hashed-linear family,
    * seed-varied via Kirsch-Mitzenmacher double hashing: ONE md5 per
    * word yields all K epoch weights as (h1 + k·h2) — the q198
    * discipline, 8x fewer digests), per-doc mean confidence and
    * variability, bucketed into easy / ambiguous / hard. All K scores
    * compute IN-ROW from one scan (ordered fold — no cross-row float
    * order anywhere); the map is the (source, bucket) count table
    * curation triages from.
    */
  private val q319DatasetCartography: Q = (s, d) => {
    import graft.functions.TextFunctions.mdHash2
    val docs = Tables.documents(s, d)
    val w = words(col("text"))
    val hp = transform(w, t => struct(mdHash(t).as("h1"), mdHash2(t).as("h2")))
    // hp materializes as a column FIRST so each word is digested once,
    // not once per epoch (interpreted HOFs get no subexpr elimination)
    val scores = transform(sequence(lit(1L), lit(8L)), k => {
      val wsum = aggregate(col("hp"),
        lit(0L), (acc, x) =>
          acc + pmod(x.getField("h1") + k * x.getField("h2"), lit(2001L)) - lit(1000L))
      lit(1.0) / (lit(1.0) + exp(-wsum.cast(DoubleType) /
        (lit(1000.0) * size(col("hp")).cast(DoubleType))))
    })
    val conf = aggregate(col("sc"), lit(0.0), (a, x) => a + x) / lit(8.0)
    val variab = sqrt(aggregate(col("sc"), lit(0.0),
      (a, x) => a + (x - col("conf")) * (x - col("conf"))) / lit(8.0))
    docs.select(col("source"), hp.as("hp"))
      .select(col("source"), scores.as("sc"))
      .withColumn("conf", conf)
      .withColumn("variab", variab)
      .withColumn("bucket",
        when(col("variab") >= 0.05, "ambiguous")
          .when(col("conf") >= 0.5, "easy")
          .otherwise("hard"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n"),
        round(sum(col("conf").cast(DecimalType(20, 12))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("avg_conf"),
        round(sum(col("variab").cast(DecimalType(20, 12))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("avg_var"))
      .orderBy("source", "bucket")
  }

  /** q320: classical additive seasonal decomposition of the daily value
    * series — centered 7-day moving-average trend, day-of-week seasonal
    * means from the detrended full-window days, residual per day. The
    * corpus reduces to one decimal row per day; every window after that
    * is bounded-domain (the q246 contract).
    */
  private val q320SeasonalDecompose: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(dec2(col("value"))).cast(DoubleType), 2).as("v"))
    val wd = Window.orderBy(col("day"))
    val idx = daily.withColumn("t", row_number().over(wd))
    val n = idx.agg(max(col("t")).as("nd"))
    val ma = Window.orderBy(col("t")).rowsBetween(-3, 3)
    val tr = idx.crossJoin(broadcast(n))
      .withColumn("trend",
        when(col("t") >= 4 && col("t") <= col("nd") - 3,
          round(sum(col("v").cast(DecimalType(20, 2))).over(ma)
            .cast(DoubleType) / 7.0, 6)))
      .withColumn("detr", round(col("v") - col("trend"), 6))
      .withColumn("dow", dayofweek(col("day")).cast(LongType))
    val seas = tr.filter(col("detr").isNotNull)
      .groupBy("dow")
      .agg(round(sum(col("detr").cast(DecimalType(20, 6))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("seasonal"))
    tr.join(broadcast(seas), Seq("dow"))
      .filter(col("detr").isNotNull)
      .select(col("day"), col("dow"), col("v"), col("trend"),
        col("seasonal"), round(col("detr") - col("seasonal"), 6).as("resid"))
      .orderBy("day")
  }

  /** q321: partial correlation of document length vs word count
    * controlling for source — pooled within-group moments (integer
    * sums, exact at any partitioning) against the naive pooled
    * correlation; the "is the corpus-wide trend just a source mix
    * effect" check. One keyed aggregate per group, closed form after.
    */
  private val q321PartialCorr: Q = (s, d) => {
    val base = Tables.documents(s, d).select(col("source"),
      col("n_chars").cast(LongType).as("x"),
      size(words(col("text"))).cast(LongType).as("y"))
    val g = base.groupBy("source").agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    def cd(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    // per-group double terms go through fixed-scale decimal before the
    // cross-group sum, so partial-agg order cannot move the 6th decimal
    val within = g.agg(
      sum((cd(col("sxy")) - cd(col("sx")) * cd(col("sy")) / cd(col("n")))
        .cast(DecimalType(30, 10))).cast(DoubleType).as("wxy"),
      sum((cd(col("sxx")) - cd(col("sx")) * cd(col("sx")) / cd(col("n")))
        .cast(DecimalType(30, 10))).cast(DoubleType).as("wxx"),
      sum((cd(col("syy")) - cd(col("sy")) * cd(col("sy")) / cd(col("n")))
        .cast(DecimalType(30, 10))).cast(DoubleType).as("wyy"),
      sum(col("n")).as("n"), sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
      sum(col("sxx")).as("sxx"), sum(col("syy")).as("syy"),
      sum(col("sxy")).as("sxy"))
    within.select(col("n"),
      round((cd(col("sxy")) - cd(col("sx")) * cd(col("sy")) / cd(col("n"))) /
        sqrt((cd(col("sxx")) - cd(col("sx")) * cd(col("sx")) / cd(col("n"))) *
          (cd(col("syy")) - cd(col("sy")) * cd(col("sy")) / cd(col("n")))), 6)
        .as("pooled_r"),
      round(col("wxy") / sqrt(col("wxx") * col("wyy")), 6).as("partial_r"))
  }

  /** q322: coordinated bottom-k sampling across snapshots — the sample
    * key is a pure hash of the row identity, so two corpus snapshots
    * (here: full vs 10%-deleted) draw overlapping samples and the diff
    * of the samples estimates the diff of the corpora without
    * co-locating them. Bottom-k is TakeOrdered (top-k machinery), never
    * a global sort materialization.
    */
  private val q322CoordinatedSample: Q = (s, d) => {
    val k = 200
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), mdHash(concat_ws("|", lit("cs"), col("doc_id"))).as("h"))
    def bottomK(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("h"), col("doc_id")).limit(k).select(col("doc_id"))
    val sa = bottomK(docs)
    val sb = bottomK(docs.filter(col("doc_id") % 10 =!= 3))
    val common = sa.join(sb, Seq("doc_id")).agg(count(lit(1)).as("n_common"))
    common.select(lit(k.toLong).as("k"), col("n_common"),
      round(col("n_common").cast(DoubleType) / lit(k.toDouble), 6).as("overlap"))
  }

  val queries: Seq[Query] = Seq(
    Query("q319_dataset_cartography", q319DatasetCartography,
      s"""WITH hp AS (SELECT source,
         |    list_transform(str_split(text, ' '), t -> struct_pack(
         |      h1 := ('0x' || substr(md5(t), 1, 15))::BIGINT,
         |      h2 := ('0x' || substr(md5(t), 16, 12))::BIGINT)) hp
         |  FROM documents),
         |sc AS (SELECT source,
         |    [1.0 / (1.0 + exp(-(list_sum(list_transform(hp,
         |        x -> (x.h1 + k * x.h2) % 2001 - 1000))::DOUBLE) /
         |      (1000.0 * len(hp)::DOUBLE)))
         |      for k in range(1, 9)] scores
         |  FROM hp),
         |cv AS (SELECT source, list_sum(scores) / 8.0 conf, scores FROM sc),
         |m AS (SELECT source, conf,
         |    sqrt(list_sum(list_transform(scores, x -> (x - conf) * (x - conf))) / 8.0) variab
         |  FROM cv),
         |b AS (SELECT source, conf, variab,
         |    CASE WHEN variab >= 0.05 THEN 'ambiguous'
         |      WHEN conf >= 0.5 THEN 'easy' ELSE 'hard' END bucket
         |  FROM m)
         |SELECT source, bucket, count(*)::BIGINT AS n,
         |  round(CAST(sum(CAST(conf AS DECIMAL(20,12))) AS DOUBLE) /
         |    count(*)::DOUBLE, 6) AS avg_conf,
         |  round(CAST(sum(CAST(variab AS DECIMAL(20,12))) AS DOUBLE) /
         |    count(*)::DOUBLE, 6) AS avg_var
         |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin),
    Query("q320_seasonal_decompose", q320SeasonalDecompose,
      """WITH daily AS (SELECT CAST(ts AS DATE) dy,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) v
        |  FROM events GROUP BY 1),
        |idx AS (SELECT dy, v, row_number() OVER (ORDER BY dy) t FROM daily),
        |nn AS (SELECT max(t) nd FROM idx),
        |tr AS (SELECT dy, t, v,
        |    CASE WHEN t >= 4 AND t <= nd - 3 THEN
        |      round(CAST(sum(CAST(v AS DECIMAL(20,2))) OVER (ORDER BY t
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / 7.0, 6)
        |    END trend
        |  FROM idx CROSS JOIN nn),
        |dt AS (SELECT dy, v, trend, round(v - trend, 6) detr,
        |    dayofweek(dy) + 1 dow FROM tr),
        |seas AS (SELECT dow,
        |    round(CAST(sum(CAST(detr AS DECIMAL(20,6))) AS DOUBLE) /
        |      count(*)::DOUBLE, 6) seasonal
        |  FROM dt WHERE detr IS NOT NULL GROUP BY dow)
        |SELECT dy AS day, dt.dow::BIGINT AS dow, v, trend, seasonal,
        |  round(detr - seasonal, 6) AS resid
        |FROM dt JOIN seas ON dt.dow = seas.dow
        |WHERE detr IS NOT NULL ORDER BY day""".stripMargin),
    Query("q321_partial_corr", q321PartialCorr,
      """WITH base AS (SELECT source, n_chars x,
        |    len(str_split(text, ' ')) y FROM documents),
        |g AS (SELECT source, count(*) n, sum(x) sx, sum(y) sy,
        |    sum(x * x) sxx, sum(y * y) syy, sum(x * y) sxy
        |  FROM base GROUP BY source),
        |w AS (SELECT
        |    CAST(sum(CAST(sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE
        |      AS DECIMAL(30,10))) AS DOUBLE) wxy,
        |    CAST(sum(CAST(sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE
        |      AS DECIMAL(30,10))) AS DOUBLE) wxx,
        |    CAST(sum(CAST(syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE
        |      AS DECIMAL(30,10))) AS DOUBLE) wyy,
        |    sum(n) n, sum(sx) sx, sum(sy) sy, sum(sxx) sxx, sum(syy) syy,
        |    sum(sxy) sxy
        |  FROM g)
        |SELECT n::BIGINT AS n,
        |  round((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE) /
        |    sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) *
        |      (syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE)), 6) AS pooled_r,
        |  round(wxy / sqrt(wxx * wyy), 6) AS partial_r
        |FROM w""".stripMargin),
    Query("q322_coordinated_sample", q322CoordinatedSample,
      s"""WITH h AS (SELECT doc_id,
         |    ${mdHashSql("'cs|' || doc_id")} h FROM documents),
         |sa AS (SELECT doc_id FROM h ORDER BY h, doc_id LIMIT 200),
         |sb AS (SELECT doc_id FROM h WHERE doc_id % 10 <> 3
         |  ORDER BY h, doc_id LIMIT 200),
         |c AS (SELECT count(*) n_common FROM sa JOIN sb USING (doc_id))
         |SELECT 200::BIGINT AS k, n_common::BIGINT AS n_common,
         |  round(n_common::DOUBLE / 200.0, 6) AS overlap
         |FROM c""".stripMargin))
}
