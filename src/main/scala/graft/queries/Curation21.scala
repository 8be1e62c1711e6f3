package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.sources.Tables

/** Round-7 fourth wave: SymSpell-style edit-distance-1 join, pairwise
  * Jensen-Shannon source divergence, time-decayed popularity, sketched
  * set-overlap estimation, and rank-biased overlap of two rankings.
  */
object Curation21 {

  /** Edit-distance-1 entity-name pairs by the SymSpell deletion-
    * neighborhood trick (near-identical customer names = the ID-typo
    * record-linkage shape): each name emits itself plus its |w|
    * one-char deletions IN-ROW, candidates share a variant via an
    * equi-join on the variant string (substitutions collide on the
    * same-position deletion, insert/delete pairs collide on the shorter
    * string), and an exact levenshtein == 1 filter confirms. Never an
    * all-pairs distance join — the standard way fuzzy matching scales.
    */
  private val q284SymspellJoin: Q = (s, d) => {
    val names = Tables.customer(s, d).select(col("c_name").as("w")).distinct()
    val variants = names.select(col("w"), explode(concat(
      array(col("w")),
      transform(sequence(lit(1), length(col("w"))), i =>
        concat(col("w").substr(lit(1), i - 1),
          col("w").substr(i + 1, length(col("w"))))))).as("v"))
    // one groupBy instead of a variant-table self-join (which would
    // compute the exploded variants twice): names sharing a deletion
    // collect into one bounded set (≤ alphabet-size collisions per
    // pattern; 100-cap guards a pathological hub) and pair IN-ROW.
    // The group key is xxhash64(variant) — half the shuffle width, and
    // a hash collision merely merges two candidate groups whose extra
    // pairs the exact levenshtein filter re-validates anyway.
    val cand = variants.select(xxhash64(col("v")).as("v"), col("w"))
      .groupBy("v")
      .agg(sort_array(collect_set(col("w"))).as("ws"))
      .filter(size(col("ws")).between(2, 100))
      .select(explode(graft.functions.GraftFunctions.pairs(col("ws"))).as("t"))
      .select(col("t.p1").as("w1"), col("t.p2").as("w2"))
      // levenshtein BEFORE the distinct: ~90% of deletion-collisions
      // are distance-2 (two names can share a variant via different
      // delete positions) — filtering map-side keeps the dedup shuffle
      // to true matches only
      .filter(levenshtein(col("w1"), col("w2")) === 1)
      .distinct()
    cand.orderBy("w1", "w2").limit(50)
  }

  /** Pairwise Jensen-Shannon divergence between source word
    * distributions: the both-present terms come from a word-keyed join
    * (cost Σ_word |sources_w|², never |corpus|²), and the absent-word
    * mass enters through the closed form ln2·(2 − Σp_both − Σq_both) —
    * no full-outer join, no zero-fill explode. Per-term doubles sum as
    * fixed-scale decimals. Top-10 most divergent pairs.
    */
  private val q285JsDivergence: Q = (s, d) => {
    val dist = Curation20.sourceWordCounts(Tables.documents(s, d))
      .select(col("source"), col("wd"),
        (col("k").cast(DoubleType) / col("n").cast(DoubleType)).as("p"))
    val a = dist.select(col("wd"), col("source").as("s1"), col("p").as("pa"))
    val b = dist.select(col("wd"), col("source").as("s2"), col("p").as("pb"))
    val both = a.join(b, Seq("wd")).filter(col("s1") < col("s2"))
      .select(col("s1"), col("s2"),
        ((col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb")))) +
          (col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb")))))
          .cast(DecimalType(20, 12)).as("term"),
        col("pa").cast(DecimalType(20, 12)).as("pam"),
        col("pb").cast(DecimalType(20, 12)).as("pbm"))
      .groupBy("s1", "s2")
      .agg(sum(col("term")).as("t"), sum(col("pam")).as("spa"),
        sum(col("pbm")).as("spb"))
    both.select(col("s1"), col("s2"),
        round((col("t").cast(DoubleType) +
          lit(math.log(2.0)) * (lit(2.0) - col("spa").cast(DoubleType) -
            col("spb").cast(DoubleType))) * 0.5, 6).as("js"))
      .orderBy(col("js").desc, col("s1"), col("s2")).limit(10)
  }

  /** Exponentially time-decayed part popularity (half-life-style
    * recency weighting, 30-day scale): score = Σ exp(−age/30) over the
    * part's order lines. The reference date is the corpus max (one
    * broadcast scalar); decay terms sum as decimals. The
    * trending-items primitive of every feed/recommender batch layer.
    */
  private val q286DecayedPopularity: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_orderkey"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val maxd = o.agg(max(col("o_orderdate")).as("maxd"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .crossJoin(broadcast(maxd))
      .select(col("l_partkey"),
        exp(-datediff(col("maxd"), col("o_orderdate")).cast(DoubleType) / 30.0)
          .cast(DecimalType(20, 12)).as("decay"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), sum(col("decay")).as("sc"))
      .select(col("l_partkey"), col("n"),
        round(col("sc").cast(DoubleType), 6).as("score"))
      .orderBy(round(col("sc").cast(DoubleType), 9).desc, col("l_partkey"))
      .limit(20)
  }

  /** Set-overlap estimation from HLL sketches by inclusion-exclusion:
    * |A∩B| ≈ hll(A) + hll(B) − hll(A∪B) for the two order-date halves'
    * customer sets — the sketch-only overlap readout that never needs
    * the exact sets co-located. Reported beside the exact overlap with
    * a 25% tolerance boolean (subtraction amplifies sketch error), the
    * q07 sketch-accuracy discipline.
    */
  private val q287HllOverlap: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val split = to_date(lit("1997-01-01"))
    val m = o.agg(
      countDistinct(when(col("o_orderdate") < split, col("o_custkey"))).as("exact_a"),
      countDistinct(when(col("o_orderdate") >= split, col("o_custkey"))).as("exact_b"),
      approx_count_distinct(when(col("o_orderdate") < split, col("o_custkey"))).as("ha"),
      approx_count_distinct(when(col("o_orderdate") >= split, col("o_custkey"))).as("hb"),
      approx_count_distinct(col("o_custkey")).as("hu"))
    val exact = o.select(col("o_custkey"),
        (col("o_orderdate") < split).as("ina"), (col("o_orderdate") >= split).as("inb"))
      .groupBy("o_custkey")
      .agg(max(col("ina")).as("a"), max(col("inb")).as("b"))
      .agg(sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("exact_overlap"))
    m.crossJoin(exact)
      .select(col("exact_a"), col("exact_b"), col("exact_overlap"),
        (abs((col("ha") + col("hb") - col("hu")) - col("exact_overlap"))
          .cast(DoubleType) / col("exact_overlap").cast(DoubleType) <= 0.25)
          .as("est_within_25pct"))
  }

  /** Rank-biased overlap (p = 0.9, depth 50) between the revenue and
    * quantity rankings of parts: each shared item enters the prefix
    * intersection at depth max(rank_a, rank_b); A_d follows by a
    * running count over the 50-row depth domain, and RBO@50 is the
    * weighted sum (1−p)·Σ p^(d−1)·A_d/d — top-weighted rank agreement,
    * the retrieval-eval metric ndcg/kendall don't cover. Everything
    * after the two top-50s is bounded by the depth constant.
    */
  private val q288RankBiasedOverlap: Q = (s, d) => {
    val k = 50
    val li = Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("rev"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
    val ra = li.select(col("l_partkey"),
      row_number().over(Window.orderBy(col("rev").desc, col("l_partkey"))).as("ra"))
      .filter(col("ra") <= k)
    val rb = li.select(col("l_partkey"),
      row_number().over(Window.orderBy(col("qty").desc, col("l_partkey"))).as("rb"))
      .filter(col("rb") <= k)
    val enter = ra.join(rb, Seq("l_partkey"))
      .select(greatest(col("ra"), col("rb")).as("d_enter"))
      .groupBy("d_enter").agg(count(lit(1)).as("c"))
    val depths = Tables.lineitem(s, d).sparkSession.range(1, k + 1)
      .select(col("id").cast(LongType).as("dd"))
    val ad = depths.join(enter, col("d_enter") <= col("dd"), "left")
      .groupBy("dd").agg(coalesce(sum(col("c")), lit(0L)).as("a_d"))
    ad.select(
        ((col("a_d").cast(DoubleType) / col("dd").cast(DoubleType)) *
          pow(lit(0.9), col("dd").cast(DoubleType) - 1.0))
          .cast(DecimalType(20, 12)).as("term"),
        when(col("dd") === k, col("a_d")).as("a_k"))
      .agg(max(col("a_k")).as("overlap_at_50"),
        round(sum(col("term")).cast(DoubleType) * 0.1, 6).as("rbo"))
  }

  val queries: Seq[Query] = Seq(
    Query("q284_symspell_join", q284SymspellJoin,
      """WITH names AS (SELECT DISTINCT c_name w FROM customer),
        |vars AS (SELECT DISTINCT w, unnest([w] || [w[1:i-1] || w[i+1:len(w)]
        |    for i in range(1, len(w) + 1)]) v FROM names),
        |cand AS (SELECT DISTINCT a.w w1, b.w w2 FROM vars a
        |  JOIN vars b ON a.v = b.v AND a.w < b.w)
        |SELECT w1, w2 FROM cand WHERE levenshtein(w1, w2) = 1
        |ORDER BY w1, w2 LIMIT 50""".stripMargin),
    Query("q285_js_divergence", q285JsDivergence,
      """WITH t AS (SELECT source, unnest(str_split(text, ' ')) wd FROM documents),
        |k AS (SELECT source, wd, count(*) k FROM t GROUP BY 1, 2),
        |n AS (SELECT source, sum(k) n FROM k GROUP BY source),
        |dist AS (SELECT k.source, wd, k::DOUBLE / n::DOUBLE p
        |  FROM k JOIN n USING (source)),
        |bt AS (SELECT a.source s1, b.source s2,
        |    CAST(a.p * ln(2.0 * a.p / (a.p + b.p)) +
        |      b.p * ln(2.0 * b.p / (a.p + b.p)) AS DECIMAL(20,12)) term,
        |    CAST(a.p AS DECIMAL(20,12)) pam, CAST(b.p AS DECIMAL(20,12)) pbm
        |  FROM dist a JOIN dist b ON a.wd = b.wd AND a.source < b.source),
        |g AS (SELECT s1, s2, sum(term) t, sum(pam) spa, sum(pbm) spb
        |  FROM bt GROUP BY 1, 2)
        |SELECT s1, s2, round((t::DOUBLE + ln(2.0) * (2.0 - spa::DOUBLE - spb::DOUBLE))
        |  * 0.5, 6) AS js
        |FROM g ORDER BY js DESC, s1, s2 LIMIT 10""".stripMargin),
    Query("q286_decayed_popularity", q286DecayedPopularity,
      """WITH maxd AS (SELECT max(o_orderdate) maxd FROM orders),
        |t AS (SELECT l_partkey,
        |    CAST(exp(-date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(maxd AS DATE))::DOUBLE / 30.0) AS DECIMAL(20,12)) decay
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey CROSS JOIN maxd),
        |g AS (SELECT l_partkey, count(*) n, sum(decay) sc FROM t GROUP BY 1)
        |SELECT l_partkey, n, round(sc::DOUBLE, 6) AS score
        |FROM g ORDER BY round(sc::DOUBLE, 9) DESC, l_partkey LIMIT 20""".stripMargin),
    Query("q287_hll_overlap", q287HllOverlap,
      """WITH f AS (SELECT o_custkey,
        |    max(CASE WHEN o_orderdate < DATE '1997-01-01' THEN 1 ELSE 0 END) a,
        |    max(CASE WHEN o_orderdate >= DATE '1997-01-01' THEN 1 ELSE 0 END) b
        |  FROM orders GROUP BY o_custkey)
        |SELECT count(DISTINCT CASE WHEN a = 1 THEN o_custkey END) AS exact_a,
        |  count(DISTINCT CASE WHEN b = 1 THEN o_custkey END) AS exact_b,
        |  sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)::BIGINT AS exact_overlap,
        |  true AS est_within_25pct
        |FROM f""".stripMargin),
    Query("q288_rank_biased_overlap", q288RankBiasedOverlap,
      """WITH g AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) rev,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) qty
        |  FROM lineitem GROUP BY 1),
        |ra AS (SELECT l_partkey, row_number() OVER (ORDER BY rev DESC, l_partkey) ra
        |  FROM g QUALIFY ra <= 50),
        |rb AS (SELECT l_partkey, row_number() OVER (ORDER BY qty DESC, l_partkey) rb
        |  FROM g QUALIFY rb <= 50),
        |enter AS (SELECT greatest(ra, rb) d_enter, count(*) c
        |  FROM ra JOIN rb USING (l_partkey) GROUP BY 1),
        |ad AS (SELECT dd, coalesce(sum(c), 0) a_d
        |  FROM range(1, 51) t(dd) LEFT JOIN enter ON d_enter <= dd GROUP BY dd),
        |terms AS (SELECT dd, a_d,
        |    CAST((a_d::DOUBLE / dd::DOUBLE) * pow(0.9, dd::DOUBLE - 1.0)
        |      AS DECIMAL(20,12)) term
        |  FROM ad)
        |SELECT max(CASE WHEN dd = 50 THEN a_d END)::BIGINT AS overlap_at_50,
        |  round(sum(term)::DOUBLE * 0.1, 6) AS rbo
        |FROM terms""".stripMargin))
}
