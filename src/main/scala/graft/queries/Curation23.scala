package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dsum
import graft.functions.TextFunctions.words
import graft.operators.Multimodal
import graft.sources.Tables

/** Round-7 sixth wave: audio-PCM feature extraction over binary
  * payloads, equi-depth binning from broadcast exact-percentile
  * boundaries, group-mean null imputation, and tokenizer fertility.
  */
object Curation23 {

  /** Audio feature extraction (multimodal binary column, audio face):
    * payloads as 8-bit PCM through the partition-wise kernel
    * ([[Multimodal.audioEnergy]]) — zero crossings, windowed RMS
    * energy, silence frames — summarized per source. Per-doc RMS means
    * sum as decimals; everything else is integer-exact. The plumbing
    * (binary in, typed features out, keyed summary) is the real shape;
    * the sample decode is the documented deterministic stand-in.
    */
  private val q292AudioEnergy: Q = (s, d) => {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
    Multimodal.audioEnergy(media, window = 64, center = 80, silenceRms = 10.0)
      .toDF()
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nSamples")).as("n_samples"),
        sum(col("zeroCrossings")).as("zero_crossings"),
        round(sum(col("meanRms").cast(DecimalType(20, 9))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("avg_rms"),
        sum(col("nSilent")).as("n_silent"))
      .orderBy("source")
  }

  /** Equi-depth (equal-frequency) binning of line-item revenue: 7
    * exact interpolated percentile boundaries from ONE aggregate,
    * broadcast back, and the bucket id is a pure in-row count of
    * boundaries below the value — no global sort, no ntile window.
    * (At 100 TB the exact percentile becomes percentile_approx — the
    * assignment side is already scale-free.)
    */
  private val q293EquidepthBins: Q = (s, d) => {
    // spread the single-row-group scan: both the exact-percentile
    // buffer build and the bucket-assign pass ran as one task each
    val li = graft.operators.Kernels.fanOut(
      Tables.lineitem(s, d).select(col("l_extendedprice").as("x")))
    val qs = (1 to 7).map(_ / 8.0)
    val bnds = li.agg(percentile(col("x"),
      array(qs.map(lit): _*)).as("bnds"))
    li.crossJoin(broadcast(bnds))
      .select(col("x"),
        size(filter(col("bnds"), b => b < col("x"))).cast(LongType).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("x")).as("min_x"),
        max(col("x")).as("max_x"), dsum(col("x")).as("sum_x"))
      .orderBy("bucket")
  }

  /** Group-mean imputation: a synthetically nulled measure (the q00
    * convention — NULL at linenumber 3) fills from its return-flag
    * group mean (decimal-exact numerator, one double division),
    * broadcast back and coalesced in-row. Imputed sums are
    * decimal-cast, so the audit row per group is engine-exact.
    */
  private val q294GroupMeanImpute: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        when(col("l_linenumber") =!= 3, col("l_quantity")).as("dense"))
    val means = li.groupBy("l_returnflag")
      .agg((dsum(col("dense")) /
        sum(when(col("dense").isNotNull, 1L).otherwise(0L)).cast(DoubleType))
        .as("grp_mean"))
    li.join(broadcast(means), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("grp_mean"),
        col("dense").isNull.cast(LongType).as("was_null"),
        coalesce(col("dense"), col("grp_mean")).as("imputed"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("was_null")).as("n_imputed"),
        round(min(col("grp_mean")), 6).as("grp_mean"),
        round(dsum(col("imputed")), 2).as("sum_imputed"))
      .orderBy("l_returnflag")
  }

  /** Tokenizer fertility per source: BPE-ish tokens (1-4 char
    * alphanumeric chunks) per whitespace word, and characters per
    * token — the tokenizer-efficiency readout every multilingual
    * corpus report carries. Integer counts from one scan; two final
    * divisions.
    */
  private val q295TokenFertility: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"),
        size(words(col("text"))).cast(LongType).as("nw"),
        regexp_count(col("text"), lit("[A-Za-z0-9]{1,4}")).cast(LongType).as("nt"),
        col("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("nt")).as("n_tokens"), sum(col("n_chars")).as("n_chars"),
        round(sum(col("nt")).cast(DoubleType) /
          sum(col("nw")).cast(DoubleType), 6).as("fertility"),
        round(sum(col("n_chars")).cast(DoubleType) /
          sum(col("nt")).cast(DoubleType), 6).as("chars_per_token"))
      .orderBy("source")
  }

  val queries: Seq[Query] = Seq(
    Query("q292_audio_energy", q292AudioEnergy,
      """WITH f AS (SELECT doc_id, source, text, len(text) n FROM documents),
        |win AS (SELECT doc_id, source, n,
        |    len([i for i in range(2, n + 1)
        |      if (ord(text[i-1]) - 80) * (ord(text[i]) - 80) < 0]) zc,
        |    [sqrt(list_avg([pow(ord(text[w*64 + i]) - 80, 2)
        |        for i in range(1, 65)]))
        |      for w in range(0, n // 64)] rmss
        |  FROM f),
        |per AS (SELECT doc_id, source, n, zc, len(rmss) nw,
        |    CASE WHEN len(rmss) > 0 THEN list_avg(rmss) ELSE 0.0 END mean_rms,
        |    len(list_filter(rmss, r -> r < 10.0)) n_silent
        |  FROM win)
        |SELECT source, count(*) AS n_docs, sum(n)::BIGINT AS n_samples,
        |  sum(zc)::BIGINT AS zero_crossings,
        |  round(sum(CAST(mean_rms AS DECIMAL(20,9)))::DOUBLE /
        |    count(*)::DOUBLE, 6) AS avg_rms,
        |  sum(n_silent)::BIGINT AS n_silent
        |FROM per GROUP BY source ORDER BY source""".stripMargin),
    Query("q293_equidepth_bins", q293EquidepthBins,
      """WITH b AS (SELECT quantile_cont(l_extendedprice,
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) bnds FROM lineitem),
        |t AS (SELECT l_extendedprice x,
        |    len(list_filter(bnds, e -> e < l_extendedprice))::BIGINT bucket
        |  FROM lineitem, b)
        |SELECT bucket, count(*) AS n, min(x) AS min_x, max(x) AS max_x,
        |  CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sum_x
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin),
    Query("q294_group_mean_impute", q294GroupMeanImpute,
      """WITH li AS (SELECT l_returnflag,
        |    CASE WHEN l_linenumber <> 3 THEN l_quantity END dense FROM lineitem),
        |m AS (SELECT l_returnflag,
        |    CAST(sum(CAST(dense AS DECIMAL(18,2))) AS DOUBLE) /
        |      sum(CASE WHEN dense IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE grp_mean
        |  FROM li GROUP BY l_returnflag),
        |j AS (SELECT li.l_returnflag, grp_mean,
        |    CASE WHEN dense IS NULL THEN 1 ELSE 0 END was_null,
        |    coalesce(dense, grp_mean) imputed
        |  FROM li JOIN m USING (l_returnflag))
        |SELECT l_returnflag, count(*) AS n, sum(was_null)::BIGINT AS n_imputed,
        |  round(min(grp_mean), 6) AS grp_mean,
        |  round(CAST(sum(CAST(imputed AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_imputed
        |FROM j GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q295_token_fertility", q295TokenFertility,
      """SELECT source, count(*) AS n_docs,
        |  sum(len(str_split(text, ' ')))::BIGINT AS n_words,
        |  sum(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}')))::BIGINT AS n_tokens,
        |  sum(n_chars)::BIGINT AS n_chars,
        |  round(sum(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}')))::DOUBLE /
        |    sum(len(str_split(text, ' ')))::DOUBLE, 6) AS fertility,
        |  round(sum(n_chars)::DOUBLE /
        |    sum(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}')))::DOUBLE, 6)
        |    AS chars_per_token
        |FROM documents GROUP BY source ORDER BY source""".stripMargin))
}
