package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.{dotNative, normSqNative}
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-7 wave: d-dimensional skyline, oracle-checked Structured
  * Streaming (interval join + complete-mode windowed agg through the
  * real streaming engine), ANOVA F, Kendall tau-b, Markov transition
  * model, diversified vector retrieval, OLS trend with R², Cramér's V,
  * rendezvous (HRW) sharding, and deterministic weighted reservoir
  * sampling.
  */
object Curation18 {

  /** 3D skyline over documents maximizing (chars, vocabulary, BPE-ish
    * tokens) — the d-dimensional generalization of q248 via the same
    * distributive two-phase operator: partition-local sort-filter
    * fronts, then the exact pass over the (small) survivor union.
    */
  private val q255Skyline3d: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      col("n_chars").cast(LongType).as("x"),
      size(array_distinct(split(col("text"), " "))).cast(LongType).as("y"),
      regexp_count(col("text"), lit("[A-Za-z0-9]{1,4}")).cast(LongType).as("z"))
    graft.operators.Skyline.skyline(docs, "x", "y", "z")
      .orderBy(col("x").desc, col("doc_id"))
  }

  /** Run a streaming frame through the REAL streaming engine to a memory
    * sink (unique per-run name + fresh checkpoint) and return the result
    * table. Trigger.AvailableNow over the single-file parquet source
    * processes everything in one micro-batch, so watermarks never drop
    * rows and the streaming result is batch-identical by construction —
    * which is exactly what the DuckDB oracle checks.
    */
  private[queries] def runStream(df: DataFrame, mode: String): DataFrame = {
    val spark = df.sparkSession
    val tbl = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.streaming.StreamRun(spark) {
      df.writeStream.format("memory").queryName(tbl)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", graft.operators.Materialize.jvmScratch(s"ckpt-$tbl"))
        .start()
        .awaitTermination()
    }
    spark.table(tbl)
  }

  /** Stream-stream interval join (clicks × purchases within 30 min per
    * user, both sides watermarked) executed by the streaming engine,
    * then reduced to an engine-exact summary: integer-microsecond delay
    * sums, one double division at the end. Oracle = the equivalent
    * batch interval join.
    */
  private val q256StreamIntervalJoin: Q = (s, d) => {
    val stream = graft.streaming.StreamingOps.readEventStream(s, d)
    val pairs = runStream(
      graft.streaming.StreamingOps.clickPurchaseJoin(stream, "30 minutes", "30 minutes"),
      "append")
    pairs
      .withColumn("delay_us", expr("unix_micros(p_ts)") - expr("unix_micros(c_ts)"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("delay_us")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType) / 1e6, 6).as("avg_delay_s"),
        max(col("purchase_id")).as("max_purchase_id"))
  }

  /** Tumbling-window aggregation through the streaming engine in
    * complete output mode (every window emitted, no append-mode
    * finalization gap), checked against the batch GROUP BY twin.
    */
  private val q257StreamWindowAgg: Q = (s, d) => {
    val stream = graft.streaming.StreamingOps.readEventStream(s, d)
    val agg = graft.streaming.StreamingOps.tumblingCounts(stream, "1 day", "1 hour")
    runStream(agg, "complete")
      .select(col("w_start").as("day"), col("event_type"), col("n"),
        round(col("sum_v"), 6).as("sum_v"))
      .orderBy("day", "event_type")
  }

  /** One-way ANOVA F statistic of document length across sources.
    * Per-group integer sums (n, Σx, Σx²) reduce the corpus in one keyed
    * aggregate; the between-group terms are per-group doubles summed as
    * fixed-scale decimals (order-independent), and only the final F
    * divides — the q251 jackknife discipline.
    */
  private val q258AnovaF: Q = (s, d) => {
    val g = Tables.documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("ng"), sum(col("n_chars")).as("sg"),
        sum(col("n_chars") * col("n_chars")).as("qg"))
    val terms = g.select(col("ng"), col("qg"), col("sg"),
      (col("sg").cast(DoubleType) * col("sg").cast(DoubleType) /
        col("ng").cast(DoubleType)).cast(DecimalType(30, 10)).as("bg"))
    val m = terms.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("sg")).as("s"), sum(col("qg")).as("q"), sum(col("bg")).as("b"))
    m.select(col("k"), col("n"),
      round(((col("b").cast(DoubleType) -
        col("s").cast(DoubleType) * col("s").cast(DoubleType) / col("n").cast(DoubleType)) /
        (col("k").cast(DoubleType) - 1.0)) /
        ((col("q").cast(DoubleType) - col("b").cast(DoubleType)) /
          (col("n").cast(DoubleType) - col("k").cast(DoubleType))), 6).as("f_stat"))
  }

  /** Kendall tau-b rank correlation between day index and daily event
    * volume. Concordance counting runs over the DAILY AGGREGATE's pair
    * join (t(t−1)/2 pairs — the bounded-domain contract shared with
    * Theil-Sen), tie correction over the distinct daily volumes; all
    * counts integer-exact, one sqrt at the end.
    */
  private val q259KendallTau: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("dd")).agg(count(lit(1)).as("n"))
      .withColumn("t", row_number().over(Window.orderBy("dd")).cast(LongType))
    val a = daily.select(col("t").as("ta"), col("n").as("na"))
    val b = daily.select(col("t").as("tb"), col("n").as("nb"))
    val cd = a.join(b, col("ta") < col("tb")).agg(
      sum(when(col("nb") > col("na"), 1L).otherwise(0L)).as("c"),
      sum(when(col("nb") < col("na"), 1L).otherwise(0L)).as("disc"),
      count(lit(1)).as("n0"))
    // t is a permutation (no x ties): n1 = 0; n2 counts y-tied pairs
    val ties = daily.groupBy("n").agg(count(lit(1)).as("tv"))
      .agg(sum(expr("tv * (tv - 1) DIV 2")).as("n2"))
    cd.crossJoin(broadcast(ties))
      .select(col("c"), col("disc").as("d"), col("n0"),
        round((col("c") - col("disc")).cast(DoubleType) /
          sqrt(col("n0").cast(DoubleType) *
            (col("n0") - col("n2")).cast(DoubleType)), 6).as("tau_b"))
  }

  /** First-order Markov model of user behavior: event-type transition
    * counts and row-normalized probabilities from each user's
    * time-ordered stream. The lead window is keyed by user (fully
    * parallel); the output is bounded by |event types|².
    */
  private val q260MarkovTransitions: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tr = Tables.events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy("from_type").agg(sum(col("n")).as("tot"))
    tr.join(broadcast(tot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast(DoubleType) / col("tot").cast(DoubleType), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Diversified vector retrieval: cosine top-10 against a fixed query
    * vector with at most 2 results per diversity bucket (the candidate's
    * argmax dimension) — the MMR-style "don't return ten near-copies"
    * pass after ANN. One corpus scan, a |buckets|-keyed window, and a
    * deterministic round-9 + id cutoff (the q75 discipline).
    */
  private val q261DiversifiedTopk: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val cand = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dotNative(col("v"), col("qv")) /
          sqrt(normSqNative(col("v")) * normSqNative(col("qv")))).as("cos"),
        array_position(col("v"), array_max(col("v"))).cast(LongType).as("bucket"))
    val wB = Window.partitionBy("bucket")
      .orderBy(round(col("cos"), 9).desc, col("vec_id").asc)
    cand.withColumn("rb", row_number().over(wB)).filter(col("rb") <= 2)
      .orderBy(round(col("cos"), 9).desc, col("vec_id").asc).limit(10)
      .select(col("vec_id"), col("bucket"), round(col("cos"), 6).as("cos"))
  }

  /** OLS linear trend of daily event volume (slope, intercept, R²) from
    * the five exact integer moment sums of the daily aggregate — the
    * parametric sibling of Theil-Sen, closed-form and engine-exact up
    * to the final divisions.
    */
  private val q262OlsTrend: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("dd")).agg(count(lit(1)).as("n"))
      .withColumn("t", row_number().over(Window.orderBy("dd")).cast(LongType))
    val m = daily.agg(count(lit(1)).as("m"), sum(col("t")).as("st"),
      sum(col("t") * col("t")).as("stt"), sum(col("n")).as("sn"),
      sum(col("n") * col("n")).as("snn"), sum(col("t") * col("n")).as("stn"))
    val md = m.select(col("m"),
      col("m").cast(DoubleType).as("md"), col("st").cast(DoubleType).as("std"),
      col("stt").cast(DoubleType).as("sttd"), col("sn").cast(DoubleType).as("snd"),
      col("snn").cast(DoubleType).as("snnd"), col("stn").cast(DoubleType).as("stnd"))
    md.select(col("m"),
      round((col("md") * col("stnd") - col("std") * col("snd")) /
        (col("md") * col("sttd") - col("std") * col("std")), 6).as("slope"),
      round((col("snd") - (col("md") * col("stnd") - col("std") * col("snd")) /
        (col("md") * col("sttd") - col("std") * col("std")) * col("std")) / col("md"), 6)
        .as("intercept"),
      round(((col("md") * col("stnd") - col("std") * col("snd")) *
        (col("md") * col("stnd") - col("std") * col("snd"))) /
        ((col("md") * col("sttd") - col("std") * col("std")) *
          (col("md") * col("snnd") - col("snd") * col("snd"))), 6).as("r2"))
  }

  /** Cramér's V association strength between document language and
    * source: the full r×c contingency (including zero cells, generated
    * from the margin cross — bounded, never a corpus cross join) feeds
    * chi², normalized by n·(min(r,c)−1). Per-cell double terms sum as
    * fixed-scale decimals, order-independent.
    */
  private val q263CramersV: Q = (s, d) => {
    val obs = Tables.documents(s, d).groupBy("lang", "source")
      .agg(count(lit(1)).as("o"))
    val rl = obs.groupBy("lang").agg(sum(col("o")).as("rl"))
    val cl = obs.groupBy("source").agg(sum(col("o")).as("cl"))
    val n = obs.agg(sum(col("o")).as("n"))
    val cells = rl.crossJoin(cl).crossJoin(broadcast(n))
      .join(obs, Seq("lang", "source"), "left")
      .withColumn("oo", coalesce(col("o"), lit(0L)))
      .withColumn("e", col("rl").cast(DoubleType) * col("cl").cast(DoubleType) /
        col("n").cast(DoubleType))
      .withColumn("term", ((col("oo").cast(DoubleType) - col("e")) *
        (col("oo").cast(DoubleType) - col("e")) / col("e")).cast(DecimalType(30, 12)))
    val m = cells.agg(sum(col("term")).as("chi2d"), min(col("n")).as("n"),
      countDistinct(col("lang")).as("r"), countDistinct(col("source")).as("c"))
    m.select(col("r"), col("c"), col("n"),
      round(col("chi2d").cast(DoubleType), 6).as("chi2"),
      round(sqrt(col("chi2d").cast(DoubleType) / (col("n").cast(DoubleType) *
        (least(col("r"), col("c")).cast(DoubleType) - 1.0))), 6).as("cramers_v"))
  }

  /** Rendezvous (highest-random-weight) sharding of the corpus over 8
    * shards: each doc goes to the shard maximizing a seeded 60-bit hash
    * — the consistent-placement scheme where adding/removing a shard
    * moves only 1/n of the keys (vs mod-hashing's near-total reshuffle).
    * Reported beside the mod-hash baseline per shard. Pure per-row
    * expression work + one bounded aggregate.
    */
  private val q264RendezvousShards: Q = (s, d) => {
    val hrw = transform(sequence(lit(0), lit(7)),
      sEl => struct(mdHash(sEl.cast("string"), col("doc_id").cast("string")).as("h"),
        sEl.cast(LongType).as("s")))
    Tables.documents(s, d).select(col("doc_id"))
      // struct max = lexicographic (h, s): max hash wins, larger s on ties
      .withColumn("shard", array_max(hrw).getField("s"))
      .withColumn("mod_shard", pmod(mdHash(col("doc_id")), lit(8)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard") === col("mod_shard"), 1L).otherwise(0L)).as("n_same_as_mod"))
      .orderBy("shard")
  }

  /** Deterministic weighted reservoir sample (Efraimidis–Spirakis A-ES):
    * key = ln(u)/w with u hash-uniform from the doc id and w = n_chars;
    * the global top-20 by key IS the weighted sample without
    * replacement. Reproducible across runs, engines, and partitionings
    * — the seeded-sampling discipline of q66 extended to weights.
    */
  private val q265WeightedReservoir: Q = (s, d) => {
    val two60 = (1L << 60).toDouble
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .withColumn("u", (mdHash(col("doc_id")).cast(DoubleType) + 1.0) / lit(two60))
      .withColumn("es_key", log(col("u")) / col("n_chars").cast(DoubleType))
      .orderBy(col("es_key").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), col("n_chars"), round(col("es_key"), 9).as("es_key"))
  }

  val queries: Seq[Query] = Seq(
    Query("q255_skyline_3d", q255Skyline3d,
      """WITH docs AS (SELECT doc_id, n_chars::BIGINT x,
        |    len(list_distinct(str_split(text, ' ')))::BIGINT y,
        |    len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}'))::BIGINT z
        |  FROM documents)
        |SELECT doc_id, x, y, z FROM docs p
        |WHERE NOT EXISTS (SELECT 1 FROM docs q
        |  WHERE q.x >= p.x AND q.y >= p.y AND q.z >= p.z
        |    AND (q.x > p.x OR q.y > p.y OR q.z > p.z))
        |ORDER BY x DESC, doc_id""".stripMargin),
    Query("q256_stream_interval_join", q256StreamIntervalJoin,
      """WITH c AS (SELECT event_id click_id, user_id, ts c_ts FROM events
        |    WHERE event_type = 'click'),
        |p AS (SELECT event_id purchase_id, user_id, ts p_ts FROM events
        |    WHERE event_type = 'purchase'),
        |j AS (SELECT user_id, purchase_id, epoch_us(p_ts) - epoch_us(c_ts) delay_us
        |  FROM c JOIN p USING (user_id)
        |  WHERE p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTE)
        |SELECT count(*) AS n_pairs, count(DISTINCT user_id)::BIGINT AS n_users,
        |  round(sum(delay_us)::DOUBLE / count(*)::DOUBLE / 1000000.0, 6) AS avg_delay_s,
        |  max(purchase_id) AS max_purchase_id
        |FROM j""".stripMargin),
    Query("q257_stream_window_agg", q257StreamWindowAgg,
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
        |  round(sum(value), 6) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    Query("q258_anova_f", q258AnovaF,
      """WITH g AS (SELECT source, count(*) ng, sum(n_chars) sg,
        |    sum(n_chars * n_chars) qg FROM documents GROUP BY source),
        |t AS (SELECT ng, qg, sg,
        |    CAST(sg::DOUBLE * sg::DOUBLE / ng::DOUBLE AS DECIMAL(30,10)) bg FROM g),
        |m AS (SELECT count(*) k, sum(ng) n, sum(sg) s, sum(qg) q, sum(bg) b FROM t)
        |SELECT k::BIGINT AS k, n::BIGINT AS n,
        |  round(((b::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE) / (k::DOUBLE - 1.0)) /
        |    ((q::DOUBLE - b::DOUBLE) / (n::DOUBLE - k::DOUBLE)), 6) AS f_stat
        |FROM m""".stripMargin),
    Query("q259_kendall_tau", q259KendallTau,
      """WITH daily AS (SELECT CAST(ts AS DATE) dd, count(*) n FROM events GROUP BY 1),
        |idx AS (SELECT n, row_number() OVER (ORDER BY dd) t FROM daily),
        |p AS (SELECT sum(CASE WHEN b.n > a.n THEN 1 ELSE 0 END) c,
        |    sum(CASE WHEN b.n < a.n THEN 1 ELSE 0 END) disc, count(*) n0
        |  FROM idx a JOIN idx b ON a.t < b.t),
        |ties AS (SELECT sum(tv * (tv - 1) // 2) n2
        |  FROM (SELECT n, count(*) tv FROM idx GROUP BY n))
        |SELECT c::BIGINT AS c, disc::BIGINT AS d, n0::BIGINT AS n0,
        |  round((c - disc)::DOUBLE / sqrt(n0::DOUBLE * (n0 - n2)::DOUBLE), 6) AS tau_b
        |FROM p, ties""".stripMargin),
    Query("q260_markov_transitions", q260MarkovTransitions,
      """WITH tr AS (SELECT event_type ft,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) nt
        |  FROM events),
        |cnt AS (SELECT ft, nt, count(*) n FROM tr WHERE nt IS NOT NULL GROUP BY ft, nt),
        |tot AS (SELECT ft, sum(n) t FROM cnt GROUP BY ft)
        |SELECT ft AS from_type, nt AS to_type, n::BIGINT AS n,
        |  round(n::DOUBLE / t::DOUBLE, 6) AS p
        |FROM cnt JOIN tot USING (ft) ORDER BY from_type, to_type""".stripMargin),
    Query("q261_diversified_topk", q261DiversifiedTopk,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |q AS (SELECT v qv FROM e WHERE vec_id = 0),
        |cand AS (SELECT vec_id,
        |    list_dot_product(v, qv) /
        |      sqrt(list_dot_product(v, v) * list_dot_product(qv, qv)) cos,
        |    list_indexof(v, list_max(v))::BIGINT bucket
        |  FROM e, q WHERE vec_id <> 0),
        |capped AS (SELECT *, row_number() OVER (PARTITION BY bucket
        |    ORDER BY round(cos, 9) DESC, vec_id) rb FROM cand)
        |SELECT vec_id, bucket, round(cos, 6) AS cos FROM capped WHERE rb <= 2
        |ORDER BY round(cos, 9) DESC, vec_id LIMIT 10""".stripMargin),
    Query("q262_ols_trend", q262OlsTrend,
      """WITH daily AS (SELECT CAST(ts AS DATE) dd, count(*) n FROM events GROUP BY 1),
        |idx AS (SELECT n, row_number() OVER (ORDER BY dd) t FROM daily),
        |m AS (SELECT count(*) m, sum(t) st, sum(t * t) stt, sum(n) sn,
        |    sum(n * n) snn, sum(t * n) stn FROM idx),
        |md AS (SELECT m, m::DOUBLE md, st::DOUBLE std, stt::DOUBLE sttd,
        |    sn::DOUBLE snd, snn::DOUBLE snnd, stn::DOUBLE stnd FROM m)
        |SELECT m::BIGINT AS m,
        |  round((md * stnd - std * snd) / (md * sttd - std * std), 6) AS slope,
        |  round((snd - (md * stnd - std * snd) / (md * sttd - std * std) * std) / md, 6)
        |    AS intercept,
        |  round(((md * stnd - std * snd) * (md * stnd - std * snd)) /
        |    ((md * sttd - std * std) * (md * snnd - snd * snd)), 6) AS r2
        |FROM md""".stripMargin),
    Query("q263_cramers_v", q263CramersV,
      """WITH obs AS (SELECT lang, source, count(*) o FROM documents GROUP BY 1, 2),
        |rl AS (SELECT lang, sum(o) rl FROM obs GROUP BY lang),
        |cl AS (SELECT source, sum(o) cl FROM obs GROUP BY source),
        |n AS (SELECT sum(o) n FROM obs),
        |cells AS (SELECT rl.lang, cl.source, rl.rl, cl.cl, n.n,
        |    coalesce(o, 0) oo,
        |    rl::DOUBLE * cl::DOUBLE / n::DOUBLE e
        |  FROM rl CROSS JOIN cl CROSS JOIN n
        |  LEFT JOIN obs USING (lang, source)),
        |terms AS (SELECT n,
        |    CAST((oo::DOUBLE - e) * (oo::DOUBLE - e) / e AS DECIMAL(30,12)) term,
        |    lang, source FROM cells),
        |m AS (SELECT sum(term) chi2d, min(n) n, count(DISTINCT lang) r,
        |    count(DISTINCT source) c FROM terms)
        |SELECT r::BIGINT AS r, c::BIGINT AS c, n::BIGINT AS n,
        |  round(chi2d::DOUBLE, 6) AS chi2,
        |  round(sqrt(chi2d::DOUBLE / (n::DOUBLE * (least(r, c)::DOUBLE - 1.0))), 6)
        |    AS cramers_v
        |FROM m""".stripMargin),
    Query("q264_rendezvous_shards", q264RendezvousShards,
      s"""WITH h AS (SELECT doc_id, s,
         |    ${mdHashSql("s::VARCHAR || '|' || doc_id::VARCHAR")} hv
         |  FROM documents, range(0, 8) r(s)),
         |pick AS (SELECT doc_id, s,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s DESC) rn
         |  FROM h),
         |md AS (SELECT doc_id, ${mdHashSql("doc_id::VARCHAR")} % 8 ms FROM documents)
         |SELECT p.s::BIGINT AS shard, count(*) AS n_docs,
         |  sum(CASE WHEN p.s = md.ms THEN 1 ELSE 0 END)::BIGINT AS n_same_as_mod
         |FROM pick p JOIN md USING (doc_id) WHERE rn = 1
         |GROUP BY 1 ORDER BY shard""".stripMargin),
    Query("q265_weighted_reservoir", q265WeightedReservoir,
      s"""WITH w AS (SELECT doc_id, n_chars,
         |    (${mdHashSql("doc_id::VARCHAR")}::DOUBLE + 1.0) / 1152921504606846976.0 u
         |  FROM documents),
         |k AS (SELECT doc_id, n_chars, ln(u) / n_chars::DOUBLE es_key FROM w)
         |SELECT doc_id, n_chars::BIGINT AS n_chars, round(es_key, 9) AS es_key
         |FROM k ORDER BY es_key DESC, doc_id LIMIT 20""".stripMargin))
}
