package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, words, wordShingles}
import graft.sources.Tables

/** Round-11 wave 27: LLM-watermark green-list detection, an in-engine
  * Naive-Bayes language classifier, GRPO-style group-relative reward
  * advantages, prototypicality pruning over embeddings, and a
  * crawl-over-crawl shingle-novelty curve.
  */
object Curation58 {

  /** q440: LLM-watermark (green-list) detection — the Kirchenbauer
    * test: a watermarking sampler boosts tokens whose seeded hash of
    * (previous token, token) lands in a γ-fraction "green list", so
    * generated text shows a green fraction far above γ. The detector
    * is the one-sided binomial z-score per document,
    * z = (g − γT)/√(Tγ(1−γ)) with γ=1/4 over the T=|words|−1 bigram
    * transitions, green iff mdHash("wm", prev|cur) ≡ 0 (mod 4) — the
    * 60-bit md5 channel both engines share bit-exactly. Per-document
    * work is ONE array-local higher-order filter (no explode, no
    * shuffle — the whole detector is map-side); the only shuffle is
    * the per-source readout. On this un-watermarked corpus the z
    * distribution must center on 0 and the z>3 flag count stays noise
    * level — the calibration half of deploying the detector.
    */
  private val q440WatermarkGreenlist: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val green = size(filter(sequence(lit(2), size(col("w"))), i =>
      mdHash(lit("wm"), concat(element_at(col("w"), i - 1), lit("|"),
        element_at(col("w"), i))) % 4 === 0))
    val t = (size(col("w")) - 1).cast(DoubleType)
    val scored = docs.select(col("source"),
      round((green.cast(DoubleType) - lit(0.25) * t) / sqrt(lit(0.1875) * t), 9)
        .cast(DecimalType(20, 9)).as("z"))
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("z")).cast(DoubleType) / count(lit(1)), 6).as("mean_z"),
        round(max(col("z")).cast(DoubleType), 6).as("max_z"),
        sum(when(col("z") > 3, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy("source")
  }

  /** q441: multinomial Naive-Bayes language ID trained IN the engine —
    * the classic fast corpus classifier (quality gates, langid
    * fallbacks) as pure keyed aggregation: an 80/20 seeded-hash split,
    * per-(lang, token) Laplace counts on train, and test scoring as
    * Σ log((c+1)/(den+V)) decomposed into the sparse Σ log(c+1) part
    * (a token-keyed join touching ONLY observed (token, lang) pairs)
    * minus T·log(den+V) plus the class prior — so scoring never
    * materializes the dense doc×class×vocab cube. OOV test tokens are
    * skipped (the vocab contract). Argmax per doc via a doc-keyed
    * rank window at 9-dp rounding; output is the confusion matrix on
    * the bounded lang×lang domain.
    */
  private val q441NaiveBayesLangid: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), words(col("text")).as("w"))
    val split = mdHash(lit("nb"), col("doc_id")) % 5
    val train = docs.filter(split =!= 0)
    val test = docs.filter(split === 0)
    val trainTok = train.select(col("lang"), explode(col("w")).as("tok"))
    val tokCounts = trainTok.groupBy("lang", "tok")
      .agg(count(lit(1)).as("c"))
    val classes = trainTok.groupBy(col("lang").as("cl"))
      .agg(count(lit(1)).as("den"))
    val priors = train.groupBy(col("lang").as("cl")).agg(count(lit(1)).as("nd"))
    val scal = broadcast(trainTok.agg(countDistinct(col("tok")).as("v"))
      .crossJoin(train.agg(count(lit(1)).as("n_train"),
        countDistinct(col("lang")).as("n_cls"))))
    // bounded model frame: one row per class with its smoothing terms
    val model = broadcast(classes.join(priors, Seq("cl")).crossJoin(scal)
      .select(col("cl"),
        round(log(col("den") + col("v")), 9).cast(DecimalType(28, 9)).as("lden"),
        round(log((col("nd") + 1).cast(DoubleType) /
          (col("n_train") + col("n_cls"))), 9).cast(DecimalType(28, 9)).as("lprior")))
    val testTok = test.select(col("doc_id"), explode(col("w")).as("tok"))
    // ONE token-keyed shuffle does all the scoring work: each vocab
    // token carries its (lang, count) list, the inner join drops OOV
    // occurrences (the old left_semi + second join + two separate
    // aggregations shuffled the test tokens four times — the sf10
    // paired decade measured 64 s / 20.6×), and the pos==0 flag lets
    // the per-doc in-vocab count fold out of the same exploded frame
    val tokModel = tokCounts.groupBy("tok")
      .agg(collect_list(struct(col("lang"), col("c"))).as("langs"))
    val exploded = testTok.join(tokModel, Seq("tok"))
      .select(col("doc_id"), posexplode(col("langs")).as(Seq("pp", "lcs")))
      .select(col("doc_id"), col("lcs.lang").as("lang"),
        round(log(col("lcs.c") + 1), 9).cast(DecimalType(28, 9)).as("lc"),
        when(col("pp") === 0, 1L).otherwise(0L).as("first"))
    val s1 = exploded
      .groupBy(col("doc_id").as("sdoc"), col("lang").as("slang"))
      .agg(sum(col("lc")).as("s1"), sum(col("first")).as("n0"))
    val perDoc = s1.groupBy(col("sdoc").as("doc_id"))
      .agg(sum(col("n0")).as("t_iv"))
    val zeroDec = lit(0).cast(DecimalType(38, 9))
    val scoresAll = perDoc.crossJoin(model)
      .join(s1, col("doc_id") === col("sdoc") && col("cl") === col("slang"), "left")
      .select(col("doc_id"), col("cl"),
        (coalesce(col("s1").cast(DecimalType(38, 9)), zeroDec) -
          col("t_iv") * col("lden") + col("lprior")).as("score"))
    val pred = scoresAll.withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("cl").asc)))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cl").as("pred_lang"))
    test.select(col("doc_id"), col("lang").as("true_lang"))
      .join(pred, Seq("doc_id"))
      .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")
  }

  /** q442: GRPO-style group-relative advantage normalization — the
    * RLHF-data op that turns raw per-sample rewards into within-group
    * standardized advantages A = (r − μ_g)/σ_g (population σ), clipped
    * to ±2, with the degenerate all-identical-reward groups (σ=0 →
    * A=0, the known GRPO dead-group case) surfaced as a first-class
    * count. Group = user, reward = the event value at 2 dp; the group
    * moments are exact decimal sums (n, Σr, Σr²) so σ² = (nΣr² −
    * (Σr)²)/n² is exact before the one double √; everything is one
    * user-keyed aggregate joined back to the rows (no window, no
    * second shuffle — the join reuses the groupBy partitioning).
    */
  private val q442GrpoAdvantage: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).cast(DecimalType(18, 2)).as("r"))
    // moments are exact decimal sums; variance/σ derive in DOUBLE with
    // the identical expression order on both engines (a pure-decimal
    // n·Σr² − (Σr)² overflows DuckDB's 38-digit multiply at these sum
    // widths, and identical IEEE ops on identical inputs are just as
    // deterministic)
    val g = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"),
        sum((col("r") * col("r")).cast(DecimalType(38, 4))).as("sr2"))
      .withColumn("varnum", col("n").cast(DoubleType) * col("sr2").cast(DoubleType) -
        col("sr").cast(DoubleType) * col("sr").cast(DoubleType))
      .withColumn("mu", col("sr").cast(DoubleType) / col("n"))
      .withColumn("sigma", sqrt(col("varnum")) / col("n"))
    val a = ev.join(g, Seq("user_id"))
      .withColumn("adv", when(col("varnum") > 0,
        round((col("r").cast(DoubleType) - col("mu")) / col("sigma"), 9))
        .otherwise(lit(0.0)).cast(DecimalType(20, 9)))
      .withColumn("clipped", greatest(least(col("adv"),
        lit(2).cast(DecimalType(20, 9))), lit(-2).cast(DecimalType(20, 9))))
    a.groupBy((col("user_id") % 8).as("cohort"))
      .agg(count(lit(1)).as("n_samples"),
        countDistinct(when(col("varnum") <= 0, col("user_id"))).as("n_dead_groups"),
        round(sum(abs(col("clipped"))).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_abs_adv"),
        round(sum(when(abs(col("adv")) > 2, 1L).otherwise(0L)).cast(DoubleType) /
          count(lit(1)), 6).as("clip_frac"))
      .orderBy("cohort")
  }

  /** q443: prototypicality pruning — the data-pruning recipe that
    * drops the most prototypical (easiest) examples and keeps the
    * hard tail: per label, cosine of each vector to its own label
    * centroid (q309's decimal-exact centroid fit, rounded at 9 dp into
    * a broadcastable ≤|labels|-row model), rank by cosine descending
    * inside the label, drop the top 30%. Corpus work is one
    * posexplode aggregate (the fit) + one broadcast join + one
    * label-keyed rank window; the readout proves the pruned mean
    * cosine sits below the kept... dropped mean (the selection did
    * something) per label.
    */
  private val q443PrototypePruning: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), v => v.cast(DoubleType)).as("v"))
    val cells = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        col("x").cast(DecimalType(30, 12)).as("xd"))
    val cent = cells.groupBy("label", "pos")
      .agg(round(sum(col("xd")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 9).as("coord"))
      .groupBy(col("label").as("cl"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("coord")))),
        t => t.getField("coord")).as("cv"))
    val cos = e.join(broadcast(cent), col("label") === col("cl"))
      .select(col("vec_id"), col("label"),
        round(graft.functions.GraftFunctions.dotNative(col("v"), col("cv")) /
          sqrt(graft.functions.GraftFunctions.normSqNative(col("v")) *
            graft.functions.GraftFunctions.normSqNative(col("cv"))), 9)
          .cast(DecimalType(20, 9)).as("cos"))
    val w = Window.partitionBy("label")
    val ranked = cos
      .withColumn("rk", row_number().over(w.orderBy(col("cos").desc, col("vec_id").asc)))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("dropped", col("rk") <= floor(lit(3) * col("n") / 10))
    ranked.groupBy("label")
      .agg(count(lit(1)).as("n_total"),
        sum(when(!col("dropped"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(!col("dropped"), col("cos"))).cast(DoubleType) /
          sum(when(!col("dropped"), 1L).otherwise(0L)), 6).as("mean_cos_kept"),
        round(sum(when(col("dropped"), col("cos"))).cast(DoubleType) /
          sum(when(col("dropped"), 1L).otherwise(0L)), 6).as("mean_cos_dropped"))
      .orderBy("label")
  }

  /** q444: crawl-over-crawl shingle novelty — the "is the next crawl
    * still worth ingesting" curve: docs are assigned to 10 crawl days
    * (deterministic doc_id mod schedule), each day's distinct 3-gram
    * shingle set is compared against everything first seen earlier,
    * and the readout is per-day novelty rate (first-seen / seen) plus
    * the cumulative vocabulary growth curve. ONE shuffle on the
    * shingle key does all the work (min-day per shingle); the day
    * rollup lives on the bounded 10-row day domain (house rule for
    * unpartitioned windows).
    */
  private val q444CrawlNovelty: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select((col("doc_id") % 10).as("crawl_day"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
    val daySh = docs.select(col("crawl_day"), explode(wordShingles(col("w"), 3)).as("sh"))
      .distinct()
    val firstSeen = daySh.groupBy("sh").agg(min(col("crawl_day")).as("fd"))
    val seen = daySh.groupBy("crawl_day").agg(count(lit(1)).as("n_seen"))
    val fresh = firstSeen.groupBy(col("fd").as("crawl_day")).agg(count(lit(1)).as("n_new"))
    seen.join(fresh, Seq("crawl_day"))
      .withColumn("cum_vocab", sum(col("n_new")).over(
        Window.orderBy("crawl_day").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("crawl_day"), col("n_seen"), col("n_new"),
        round(col("n_new").cast(DoubleType) / col("n_seen"), 6).as("novelty_rate"),
        col("cum_vocab"))
      .orderBy("crawl_day")
  }

  val queries: Seq[Query] = Seq(
    Query("q440_watermark_greenlist", q440WatermarkGreenlist,
      """WITH docs AS (SELECT doc_id, source, str_split(text, ' ') w FROM documents
        |  WHERE len(str_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, source, len(w) - 1 t,
        |    sum(CASE WHEN ('0x' || substr(md5('wm|' || w[i - 1] || '|' || w[i]), 1, 15))::BIGINT
        |      % 4 = 0 THEN 1 ELSE 0 END) g
        |  FROM docs, unnest(generate_series(2, len(w))) AS t(i)
        |  GROUP BY doc_id, source, len(w)),
        |z AS (SELECT source,
        |    CAST(round((g - 0.25 * t) / sqrt(0.1875 * t), 9) AS DECIMAL(20,9)) z
        |  FROM bg)
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(z) AS DOUBLE) / count(*), 6) AS mean_z,
        |  round(CAST(max(z) AS DOUBLE), 6) AS max_z,
        |  sum(CASE WHEN z > 3 THEN 1 ELSE 0 END)::BIGINT AS n_flagged
        |FROM z GROUP BY source ORDER BY source""".stripMargin),
    Query("q441_naive_bayes_langid", q441NaiveBayesLangid,
      """WITH docs AS (SELECT doc_id, lang, str_split(text, ' ') w,
        |    ('0x' || substr(md5('nb|' || doc_id::VARCHAR), 1, 15))::BIGINT % 5 sp
        |  FROM documents),
        |train AS (SELECT * FROM docs WHERE sp <> 0),
        |test AS (SELECT * FROM docs WHERE sp = 0),
        |traintok AS (SELECT lang, unnest(w) tok FROM train),
        |tc AS (SELECT lang, tok, count(*) c FROM traintok GROUP BY lang, tok),
        |cls AS (SELECT lang cl, count(*) den FROM traintok GROUP BY lang),
        |pri AS (SELECT lang cl, count(*) nd FROM train GROUP BY lang),
        |scal AS (SELECT (SELECT count(DISTINCT tok) FROM traintok) v,
        |  (SELECT count(*) FROM train) n_train,
        |  (SELECT count(DISTINCT lang) FROM train) n_cls),
        |model AS (SELECT cl,
        |    CAST(round(ln(den + v), 9) AS DECIMAL(28,9)) lden,
        |    CAST(round(ln((nd + 1)::DOUBLE / (n_train + n_cls)), 9) AS DECIMAL(28,9)) lprior
        |  FROM cls JOIN pri USING (cl), scal),
        |testtok AS (SELECT doc_id, unnest(w) tok FROM test),
        |iv AS (SELECT doc_id, tok FROM testtok
        |  WHERE tok IN (SELECT DISTINCT tok FROM tc)),
        |perdoc AS (SELECT doc_id, count(*) t_iv FROM iv GROUP BY doc_id),
        |s1 AS (SELECT doc_id, lang,
        |    sum(CAST(round(ln(c + 1), 9) AS DECIMAL(28,9))) s1
        |  FROM iv JOIN tc USING (tok) GROUP BY doc_id, lang),
        |scores AS (SELECT p.doc_id, m.cl,
        |    coalesce(CAST(s1.s1 AS DECIMAL(38,9)), CAST(0 AS DECIMAL(38,9)))
        |      - p.t_iv * m.lden + m.lprior score
        |  FROM perdoc p CROSS JOIN model m
        |  LEFT JOIN s1 ON s1.doc_id = p.doc_id AND s1.lang = m.cl),
        |pred AS (SELECT doc_id, cl pred_lang FROM (SELECT doc_id, cl,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cl ASC) rk
        |  FROM scores) WHERE rk = 1)
        |SELECT t.lang AS true_lang, pred_lang, count(*) AS n
        |FROM test t JOIN pred USING (doc_id)
        |GROUP BY t.lang, pred_lang ORDER BY true_lang, pred_lang""".stripMargin),
    Query("q442_grpo_advantage", q442GrpoAdvantage,
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(round(value, 2) AS DECIMAL(18,2)) r FROM events),
        |g AS (SELECT user_id, count(*) n, sum(r) sr,
        |    sum(CAST(r * r AS DECIMAL(38,4))) sr2 FROM ev GROUP BY user_id),
        |gm AS (SELECT user_id, n,
        |    CAST(n AS DOUBLE) * CAST(sr2 AS DOUBLE)
        |      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) varnum,
        |    CAST(sr AS DOUBLE) / n mu,
        |    sqrt(CAST(n AS DOUBLE) * CAST(sr2 AS DOUBLE)
        |      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)) / n sigma
        |  FROM g),
        |a AS (SELECT ev.user_id, varnum,
        |    CAST(CASE WHEN varnum > 0
        |      THEN round((CAST(r AS DOUBLE) - mu) / sigma, 9) ELSE 0.0 END
        |      AS DECIMAL(20,9)) adv
        |  FROM ev JOIN gm USING (user_id)),
        |c AS (SELECT user_id, varnum, adv,
        |    greatest(least(adv, CAST(2 AS DECIMAL(20,9))),
        |      CAST(-2 AS DECIMAL(20,9))) clipped FROM a)
        |SELECT user_id % 8 AS cohort, count(*) AS n_samples,
        |  count(DISTINCT CASE WHEN varnum <= 0 THEN user_id END)::BIGINT
        |    AS n_dead_groups,
        |  round(CAST(sum(abs(clipped)) AS DOUBLE) / count(*), 6) AS mean_abs_adv,
        |  round(sum(CASE WHEN abs(adv) > 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |    AS clip_frac
        |FROM c GROUP BY cohort ORDER BY cohort""".stripMargin),
    Query("q443_prototype_pruning", q443PrototypePruning,
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |cells AS (SELECT label, i - 1 pos,
        |    CAST(v[i] AS DECIMAL(30,12)) xd
        |  FROM e, unnest(generate_series(1, len(v))) t(i)),
        |cm AS (SELECT label, pos,
        |    round(CAST(sum(xd) AS DOUBLE) / count(*), 9) coord
        |  FROM cells GROUP BY label, pos),
        |cent AS (SELECT label cl, list(coord ORDER BY pos) cv FROM cm GROUP BY label),
        |cos AS (SELECT vec_id, label,
        |    CAST(round(list_dot_product(v, cv) /
        |      sqrt(list_dot_product(v, v) * list_dot_product(cv, cv)), 9)
        |      AS DECIMAL(20,9)) cos
        |  FROM e JOIN cent ON label = cl),
        |rk AS (SELECT label, cos,
        |    row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_id ASC) rk,
        |    count(*) OVER (PARTITION BY label) n FROM cos),
        |fl AS (SELECT label, cos, rk <= floor(3 * n / 10.0) dropped FROM rk)
        |SELECT label, count(*) AS n_total,
        |  sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  round(CAST(sum(CASE WHEN NOT dropped THEN cos END) AS DOUBLE) /
        |    sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END), 6) AS mean_cos_kept,
        |  round(CAST(sum(CASE WHEN dropped THEN cos END) AS DOUBLE) /
        |    sum(CASE WHEN dropped THEN 1 ELSE 0 END), 6) AS mean_cos_dropped
        |FROM fl GROUP BY label ORDER BY label""".stripMargin),
    Query("q444_crawl_novelty", q444CrawlNovelty,
      """WITH docs AS (SELECT doc_id % 10 crawl_day, str_split(text, ' ') w FROM documents
        |  WHERE len(str_split(text, ' ')) >= 3),
        |daysh AS (SELECT DISTINCT crawl_day,
        |    w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] sh
        |  FROM docs, unnest(generate_series(1, len(w) - 2)) t(i)),
        |fs AS (SELECT sh, min(crawl_day) fd FROM daysh GROUP BY sh),
        |seen AS (SELECT crawl_day, count(*) n_seen FROM daysh GROUP BY crawl_day),
        |fresh AS (SELECT fd crawl_day, count(*) n_new FROM fs GROUP BY fd)
        |SELECT crawl_day, n_seen, n_new,
        |  round(n_new::DOUBLE / n_seen, 6) AS novelty_rate,
        |  CAST(sum(n_new) OVER (ORDER BY crawl_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
        |FROM seen JOIN fresh USING (crawl_day) ORDER BY crawl_day""".stripMargin))
}
