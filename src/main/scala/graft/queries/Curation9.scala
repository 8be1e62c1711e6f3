package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.words
import graft.sources.Tables

/** Round-5 wave 5: event attribution, fill-in-the-middle example
  * construction, leakage-free target encoding, Misra-Gries heavy
  * hitters, pointer-doubling thread flattening, ROUGE overlap eval,
  * skip-gram pair extraction, and NDCG ranking eval.
  */
object Curation9 {

  /** Last-touch attribution: every `purchase` event is credited to the
    * most recent non-purchase event of the same user within a 7-day
    * lookback, via `last(..., ignoreNulls)` over a RANGE frame keyed on
    * event time in microseconds ((user_id, ts) pairs are unique, so the
    * frame is a total order). Purchases with no prior touch fall back
    * to 'organic'. One keyed window per user timeline — the same shape
    * at any corpus size; revenue sums are DECIMAL (order-independent).
    */
  private val q201Attribution: Q = (s, d) => {
    val ev = Tables.events(s, d).select(
      col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-604800000000L, -1L)
    ev.withColumn("channel",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("channel"), lit("organic")).as("channel"))
      .agg(count(lit(1)).as("n_conv"),
        sum(col("value").cast(DecimalType(18, 2))).as("revenue"))
      .orderBy("channel")
  }

  /** Fill-in-the-middle (FIM) example construction — the code-model
    * pretraining transform: two deterministic pivots split each doc
    * into prefix/middle/suffix, re-rendered PSM (<PRE>p<SUF>s<MID>m)
    * for even docs and SPM for odd (the 50/50 mode mix of the FIM
    * recipe). Map-only per-row work; the rendered example is emitted
    * as an md5 so the row stays narrow while pinning every byte.
    */
  private val q202FimSplit: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")).cast(LongType))
      .filter(col("n") >= 3)
      .withColumn("p1", lit(1L) + pmod(col("doc_id") * 7919 + 13, col("n") - 1))
      .withColumn("p2", lit(1L) + pmod(col("doc_id") * 104729 + 101, col("n") - 1))
      .withColumn("lo", least(col("p1"), col("p2")))
      .withColumn("hi", greatest(col("p1"), col("p2")))
      .withColumn("pre", array_join(slice(col("w"), lit(1), col("lo")), " "))
      .withColumn("mid", array_join(slice(col("w"), col("lo") + 1, col("hi") - col("lo")), " "))
      .withColumn("suf", array_join(slice(col("w"), col("hi") + 1, col("n") - col("hi")), " "))
      .select(col("doc_id"), col("lo").as("n_prefix"),
        (col("hi") - col("lo")).as("n_middle"), (col("n") - col("hi")).as("n_suffix"),
        md5(when(col("doc_id") % 2 === 0,
            concat(lit("<PRE>"), col("pre"), lit("<SUF>"), col("suf"), lit("<MID>"), col("mid")))
          .otherwise(
            concat(lit("<SUF>"), col("suf"), lit("<PRE>"), col("pre"), lit("<MID>"), col("mid"))))
          .as("fim_md5"))
      .orderBy("doc_id")
  }

  /** Leakage-free (out-of-fold) target encoding — the feature-
    * engineering companion to q139's group k-fold: each (category,
    * fold) cell is encoded with the label mean computed from the OTHER
    * folds plus an m=10 prior toward the global rate, so a row never
    * sees its own label. Distributed as one (cat, fold) aggregation,
    * a per-category window total (|cats|×|folds| rows — tiny), and a
    * broadcast global prior: no per-row second pass, no driver state.
    */
  private val q203TargetEncode: Q = (s, d) => {
    val base = Tables.orders(s, d).select(
      col("o_orderpriority").as("cat"), (col("o_orderkey") % 5).as("fold"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val cf = base.groupBy("cat", "fold")
      .agg(count(lit(1)).as("n_cf"), sum("y").as("s_cf"))
    val wc = Window.partitionBy("cat")
    val g = base.agg((sum("y").cast(DoubleType) / count(lit(1))).as("pri"))
    cf.withColumn("n_c", sum("n_cf").over(wc))
      .withColumn("s_c", sum("s_cf").over(wc))
      .crossJoin(broadcast(g))
      .select(col("cat"), col("fold").cast(LongType).as("fold"),
        col("n_cf").as("n_rows"),
        round((col("s_c") - col("s_cf") + lit(10.0) * col("pri"))
          / (col("n_c") - col("n_cf") + lit(10)), 9).as("enc"))
      .orderBy("cat", "fold")
  }

  /** Heavy hitters via the mergeable Misra-Gries UDAF
    * ([[graft.functions.MisraGriesAgg]], k=15) over the corpus
    * CHARACTER stream (the word vocabulary is near-uniform, characters
    * are Zipf-skewed — the distribution heavy-hitter sketches exist
    * for): one bounded O(k) summary replaces the full-alphabet
    * shuffle, the ≤k candidates broadcast back, and an exact recount
    * (only candidate symbols are shuffled) thresholds at n/k. The MG
    * retention guarantee (any symbol with frequency > n/(k+1)
    * survives ANY merge order) makes the output EXACTLY "symbols with
    * frequency > n/k" — deterministic at any partitioning even though
    * the sketch's retained set is not — so the oracle is a plain
    * GROUP BY ... HAVING.
    */
  private val q204HeavyHitters: Q = (s, d) => {
    // spread the single-row-group doc scan (the per-char explode ran
    // single-task), and fuse the exact total into the Misra-Gries pass:
    // the sketch pass, the count pass and the re-count pass were three
    // full explodes of the corpus; the total rides the candidate frame
    // so two passes remain.
    val toks = graft.operators.Kernels.fanOut(Tables.documents(s, d).select(col("text")))
      .select(explode(split(translate(col("text"), " ", ""), "")).as("w"))
      .filter(col("w") =!= "")
    val cand = toks.agg(expr("graft_mg(w)").as("cs"),
        count(lit(1)).cast(DoubleType).as("tot"))
      .select(explode(col("cs")).as("w"), col("tot"))
    toks.join(broadcast(cand), "w")
      .groupBy("w").agg(count(lit(1)).as("n_exact"), max(col("tot")).as("tot"))
      .filter(col("n_exact") > col("tot") / 15.0)
      .select(col("w").as("word"), col("n_exact"))
      .orderBy(col("n_exact").desc, col("word"))
  }

  /** Conversation-thread flattening by POINTER DOUBLING: events form
    * parent chains (event_id-1, roots at id ≡ 0 mod 5), and each round
    * of the self-join doubles the ancestor hop — root>…>leaf paths in
    * O(log depth) keyed shuffles instead of O(depth), the trick that
    * makes deep-thread flattening feasible when chains are long.
    * State rows whose parent is missing drop out at the join, matching
    * the oracle CTE's reachable-from-a-root semantics.
    */
  private val q205ThreadPaths: Q = (s, d) => {
    var st = Tables.events(s, d).select(
      col("event_id").as("id"),
      when(col("event_id") % 5 === 0, lit(null).cast(LongType))
        .otherwise(col("event_id") - 1).as("anc"),
      col("event_id").cast("string").as("path"))
    for (_ <- 1 to 3) {
      val s2 = st.select(col("id").as("j_id"), col("anc").as("j_anc"), col("path").as("j_path"))
      val stepped = st.filter(col("anc").isNotNull)
        .join(s2, col("anc") === col("j_id"))
        .select(col("id"), col("j_anc").as("anc"),
          concat(col("j_path"), lit(">"), col("path")).as("path"))
      st = st.filter(col("anc").isNull).unionByName(stepped)
    }
    st.filter(col("anc").isNull)
      .select((size(split(col("path"), ">")) - 1).cast(LongType).as("depth"),
        element_at(split(col("path"), ">"), 1).cast(LongType).as("root"), col("path"))
      .groupBy("depth")
      .agg(count(lit(1)).as("n"), sum(col("root")).as("root_sum"),
        min(col("path")).as("min_path"), max(col("path")).as("max_path"))
      .orderBy("depth")
  }

  /** ROUGE-1/ROUGE-2 overlap eval — the summarization-metric shape:
    * each even doc's leading 30 tokens play the "generated summary",
    * the following odd doc the "reference", and the clipped-multiset
    * n-gram overlap is computed by keyed (pair, gram) joins — never a
    * per-pair cross product, so the metric scales with token count.
    * The sequence(2, n) bigram build guards size ≥ 2 (Spark sequences
    * run backwards when start > stop).
    */
  private val q206RougeOverlap: Q = (s, d) => {
    val t = Tables.documents(s, d).select(col("doc_id"), words(col("text")).as("w"))
    val candT = t.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") / 2).cast(LongType).as("pid"), slice(col("w"), 1, 30).as("w"))
    val refT = t.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") / 2).cast(LongType).as("pid"), col("w"))
    def grams1(df: org.apache.spark.sql.DataFrame) = df
      .select(col("pid"), explode(col("w")).as("g")).filter(col("g") =!= "")
    def grams2(df: org.apache.spark.sql.DataFrame) = df
      .filter(size(col("w")) >= 2)
      .select(col("pid"), explode(expr(
        "transform(sequence(2, size(w)), i -> concat(w[i-2], ' ', w[i-1]))")).as("g"))
    def overlap(cand: org.apache.spark.sql.DataFrame, ref: org.apache.spark.sql.DataFrame,
        ovName: String, totName: String) = {
      val c = cand.groupBy("pid", "g").agg(count(lit(1)).as("cc"))
      val r = ref.groupBy("pid", "g").agg(count(lit(1)).as("rc"))
      val ov = c.join(r, Seq("pid", "g"))
        .groupBy("pid").agg(sum(least(col("cc"), col("rc"))).as(ovName))
      ref.groupBy("pid").agg(count(lit(1)).as(totName))
        .join(ov, Seq("pid"), "left")
        .select(col("pid"), coalesce(col(ovName), lit(0L)).as(ovName), col(totName))
    }
    val r1 = overlap(grams1(candT), grams1(refT), "ov1", "reftot1")
    val r2 = overlap(grams2(candT), grams2(refT), "ov2", "reftot2")
    r1.join(r2, Seq("pid"), "left")
      .select(col("pid"), col("ov1"), col("reftot1"),
        round(col("ov1") / col("reftot1"), 6).as("rouge1"),
        coalesce(col("ov2"), lit(0L)).as("ov2"), coalesce(col("reftot2"), lit(0L)).as("reftot2"),
        round(col("ov2") / nullif(col("reftot2"), lit(0L)), 6).as("rouge2"))
      .orderBy("pid")
  }

  /** Skip-gram (center, context, distance) pair extraction over a ±3
    * token window — the word2vec training-pair generator. Pairs are
    * built IN-ROW with higher-order functions (no positional
    * self-join), then one keyed count; empty tokens are dropped after
    * pairing so distances keep their original positions.
    */
  private val q207SkipgramPairs: Q = (s, d) => {
    // spread the single-row-group doc scan before the ±3-window in-row
    // pair explode (≈7× token fan-out in one task otherwise)
    graft.operators.Kernels.fanOut(Tables.documents(s, d).select(col("text")))
      .select(words(col("text")).as("w")).filter(size(col("w")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(w)), i ->
             transform(filter(sequence(-3, 3), o -> o != 0 AND i + o >= 1 AND i + o <= size(w)),
               o -> struct(element_at(w, CAST(i AS INT)) AS x,
                           element_at(w, CAST(i + o AS INT)) AS y,
                           abs(o) AS dist))))""")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"), col("p.dist").cast(LongType).as("dist"))
      .filter(col("x") =!= "" && col("y") =!= "")
      .groupBy("x", "y", "dist").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("x"), col("y"), col("dist"))
      .limit(40)
  }

  /** NDCG@10 ranking eval per source: rank docs by length (the
    * "model" ranking), graded relevance (doc_id DIV 20) % 4, DCG and
    * ideal-DCG as DECIMAL term sums (order-independent), NDCG their
    * ratio. Two windows over the same keyed partition — the eval-stats
    * family shape (q157 AUC, q158 ECE) applied to ranking.
    */
  private val q208NdcgEval: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("source"), col("doc_id"),
      col("n_chars"), expr("(doc_id DIV 20) % 4").as("rel"))
    def dcgOf(rankCol: org.apache.spark.sql.Column, out: String) = {
      docs.withColumn("rnk", row_number().over(
          Window.partitionBy("source").orderBy(rankCol, col("doc_id"))))
        .filter(col("rnk") <= 10)
        .withColumn("term",
          ((pow(lit(2.0), col("rel")) - 1) / log2(col("rnk") + 1)).cast(DecimalType(20, 9)))
        .groupBy("source").agg(sum(col("term")).as(out), count(lit(1)).as(s"n_$out"))
    }
    val dcg = dcgOf(col("n_chars").desc, "dcg")
    val idcg = dcgOf(col("rel").desc, "idcg").drop("n_idcg")
    dcg.join(idcg, "source")
      .select(col("source"), col("n_dcg").as("n_ranked"),
        round(col("dcg").cast(DoubleType), 6).as("dcg"),
        round(col("idcg").cast(DoubleType), 6).as("idcg"),
        round(col("dcg").cast(DoubleType) / nullif(col("idcg").cast(DoubleType), lit(0.0)), 6)
          .as("ndcg"))
      .orderBy("source")
  }

  val queries: Seq[Query] = Seq(
    Query("q201_attribution", q201Attribution,
      """WITH ev AS (SELECT user_id, event_type, value, epoch_us(ts) us FROM events),
        |a AS (SELECT *, last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |        OVER (PARTITION BY user_id ORDER BY us RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING) channel
        |      FROM ev)
        |SELECT coalesce(channel, 'organic') AS channel, CAST(count(*) AS BIGINT) n_conv,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) revenue
        |FROM a WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q202_fim_split", q202FimSplit,
      """WITH t AS (SELECT doc_id, str_split(text, ' ') w, len(str_split(text, ' ')) n FROM documents
        |  WHERE len(str_split(text, ' ')) >= 3),
        |s AS (SELECT doc_id, n, 1 + (doc_id * 7919 + 13) % (n - 1) AS p1,
        |    1 + (doc_id * 104729 + 101) % (n - 1) AS p2, w FROM t),
        |x AS (SELECT doc_id, n, least(p1, p2) lo, greatest(p1, p2) hi, w FROM s),
        |r AS (SELECT doc_id, lo, hi, n,
        |    coalesce(array_to_string(w[1:lo], ' '), '') pre,
        |    coalesce(array_to_string(w[lo+1:hi], ' '), '') mid,
        |    coalesce(array_to_string(w[hi+1:n], ' '), '') suf FROM x)
        |SELECT doc_id, CAST(lo AS BIGINT) n_prefix, CAST(hi - lo AS BIGINT) n_middle,
        |  CAST(n - hi AS BIGINT) n_suffix,
        |  md5(CASE WHEN doc_id % 2 = 0 THEN '<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid
        |           ELSE '<SUF>' || suf || '<PRE>' || pre || '<MID>' || mid END) AS fim_md5
        |FROM r ORDER BY doc_id""".stripMargin),
    Query("q203_target_encode", q203TargetEncode,
      """WITH base AS (SELECT o_orderpriority cat, o_orderkey % 5 fold,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END y FROM orders),
        |cf AS (SELECT cat, fold, CAST(count(*) AS BIGINT) n_cf, CAST(sum(y) AS BIGINT) s_cf
        |  FROM base GROUP BY 1, 2),
        |ct AS (SELECT cat, sum(n_cf) n_c, sum(s_cf) s_c FROM cf GROUP BY 1),
        |g AS (SELECT sum(y)::DOUBLE / count(*) pri FROM base)
        |SELECT cat, CAST(fold AS BIGINT) fold, n_cf AS n_rows,
        |  round((s_c - s_cf + 10.0 * (SELECT pri FROM g)) / (n_c - n_cf + 10), 9) AS enc
        |FROM cf JOIN ct USING (cat) ORDER BY cat, fold""".stripMargin),
    Query("q204_heavy_hitters", q204HeavyHitters,
      """WITH t AS (SELECT unnest(str_split(replace(text, ' ', ''), '')) w FROM documents),
        |t2 AS (SELECT w FROM t WHERE w <> ''),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) n_exact FROM t2 GROUP BY w),
        |n AS (SELECT count(*)::DOUBLE tot FROM t2)
        |SELECT w AS word, n_exact FROM c, n WHERE n_exact > tot / 15.0
        |ORDER BY n_exact DESC, word""".stripMargin),
    Query("q205_thread_paths", q205ThreadPaths,
      """WITH RECURSIVE ch AS (
        |  SELECT event_id AS id, event_id AS root, 0 AS depth, CAST(event_id AS VARCHAR) AS path
        |  FROM events WHERE event_id % 5 = 0
        |  UNION ALL
        |  SELECT e.event_id, ch.root, ch.depth + 1, ch.path || '>' || CAST(e.event_id AS VARCHAR)
        |  FROM events e JOIN ch ON e.event_id - 1 = ch.id AND e.event_id % 5 <> 0)
        |SELECT CAST(depth AS BIGINT) depth, CAST(count(*) AS BIGINT) n,
        |  CAST(sum(root) AS BIGINT) root_sum, min(path) min_path, max(path) max_path
        |FROM ch GROUP BY depth ORDER BY depth""".stripMargin),
    Query("q206_rouge_overlap", q206RougeOverlap,
      """WITH t AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
        |candt AS (SELECT doc_id // 2 AS pid, w[1:30] w FROM t WHERE doc_id % 2 = 0),
        |reft AS (SELECT doc_id // 2 AS pid, w FROM t WHERE doc_id % 2 = 1),
        |c1 AS (SELECT pid, g, count(*) c FROM (SELECT pid, unnest(w) g FROM candt) WHERE g <> '' GROUP BY 1, 2),
        |r1 AS (SELECT pid, g, count(*) c FROM (SELECT pid, unnest(w) g FROM reft) WHERE g <> '' GROUP BY 1, 2),
        |c2 AS (SELECT pid, g, count(*) c FROM (SELECT pid,
        |    unnest([w[i-1] || ' ' || w[i] for i in range(2, len(w) + 1)]) g FROM candt) GROUP BY 1, 2),
        |r2 AS (SELECT pid, g, count(*) c FROM (SELECT pid,
        |    unnest([w[i-1] || ' ' || w[i] for i in range(2, len(w) + 1)]) g FROM reft) GROUP BY 1, 2),
        |ov1 AS (SELECT pid, CAST(sum(least(c1.c, r1.c)) AS BIGINT) ov1 FROM c1 JOIN r1 USING (pid, g) GROUP BY pid),
        |ov2 AS (SELECT pid, CAST(sum(least(c2.c, r2.c)) AS BIGINT) ov2 FROM c2 JOIN r2 USING (pid, g) GROUP BY pid),
        |rt1 AS (SELECT pid, CAST(count(*) AS BIGINT) reftot1 FROM (SELECT pid, unnest(w) g FROM reft) WHERE g <> '' GROUP BY pid),
        |rt2 AS (SELECT pid, CAST(count(*) AS BIGINT) reftot2 FROM (SELECT pid,
        |    unnest([w[i-1] || ' ' || w[i] for i in range(2, len(w) + 1)]) g FROM reft) GROUP BY pid)
        |SELECT rt1.pid, coalesce(ov1, 0) ov1, reftot1,
        |  round(coalesce(ov1, 0)::DOUBLE / reftot1, 6) rouge1,
        |  coalesce(ov2, 0) ov2, coalesce(reftot2, 0) reftot2,
        |  round(coalesce(ov2, 0)::DOUBLE / nullif(coalesce(reftot2, 0), 0), 6) rouge2
        |FROM rt1 LEFT JOIN ov1 USING (pid) LEFT JOIN rt2 USING (pid) LEFT JOIN ov2 USING (pid)
        |ORDER BY pid""".stripMargin),
    Query("q207_skipgram_pairs", q207SkipgramPairs,
      """WITH t AS (SELECT doc_id, str_split(text, ' ') l FROM documents),
        |p AS (SELECT doc_id, l[i] AS w, i FROM t, unnest(generate_series(1, len(l))) AS g(i)
        |  WHERE l[i] <> ''),
        |pr AS (SELECT a.w x, b.w y, abs(a.i - b.i) dist FROM p a JOIN p b
        |  ON a.doc_id = b.doc_id AND abs(a.i - b.i) BETWEEN 1 AND 3)
        |SELECT x, y, CAST(dist AS BIGINT) dist, CAST(count(*) AS BIGINT) n
        |FROM pr GROUP BY 1, 2, 3 ORDER BY n DESC, x, y, dist LIMIT 40""".stripMargin),
    Query("q208_ndcg_eval", q208NdcgEval,
      """WITH d AS (SELECT source, doc_id, n_chars, (doc_id // 20) % 4 rel FROM documents),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) rnk FROM d),
        |ik AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY rel DESC, doc_id) irnk FROM d),
        |dcg AS (SELECT source, sum(CAST((pow(2, rel) - 1) / log2(rnk + 1) AS DECIMAL(20,9))) dcg,
        |  CAST(count(*) AS BIGINT) n_ranked FROM rk WHERE rnk <= 10 GROUP BY source),
        |idcg AS (SELECT source, sum(CAST((pow(2, rel) - 1) / log2(irnk + 1) AS DECIMAL(20,9))) idcg
        |  FROM ik WHERE irnk <= 10 GROUP BY source)
        |SELECT source, n_ranked, round(CAST(dcg AS DOUBLE), 6) dcg,
        |  round(CAST(idcg AS DOUBLE), 6) idcg,
        |  round(CAST(dcg AS DOUBLE) / nullif(CAST(idcg AS DOUBLE), 0.0), 6) ndcg
        |FROM dcg JOIN idcg USING (source) ORDER BY source""".stripMargin))
}
