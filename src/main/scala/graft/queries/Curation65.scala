package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.D9
import graft.functions.TextFunctions.{mdHash, words}
import graft.operators.{Materialize, Ranking}
import graft.sources.Tables

/** Round-11 wave 34: greedy max-coverage source selection, B-cubed
  * dedup-cluster evaluation, gap-constrained sequential patterns, and
  * an approx_percentile rank-error audit.
  */
object Curation65 {

  /** q469: greedy max-coverage source selection (the weighted
    * set-cover heuristic with its (1-1/e) guarantee) — which 5 sources
    * to license/crawl first to cover the most vocabulary: each round
    * counts every remaining source's UNCOVERED distinct tokens (one
    * anti-join + one keyed aggregate over the persisted (source,
    * token) frame) and takes the argmax from a ≤|sources|-row frame
    * (bounded driver contract, the grid-DBSCAN round convention).
    * Readout per pick: marginal gain, cumulative coverage, fraction
    * of the full vocabulary.
    */
  private val q469SetCover: Q = (s, d) => {
    val st = Materialize.spillRelease(
      Tables.documents(s, d)
        .select(col("source"), explode(words(col("text"))).as("tok"))
        .distinct())
    val totalVocab = st.select("tok").distinct().count()
    val srcs = st.select("source").distinct()
    var chosen = Vector.empty[String]
    var covered: DataFrame = null
    val picks = (1 to 5).map { k =>
      val uncov = if (covered == null) st
        else st.join(covered, Seq("tok"), "left_anti")
      // zero-gain sources stay pickable (vocabulary can saturate before
      // 5 rounds — a groupBy alone would drop them and empty the frame)
      val gains = srcs.filter(!col("source").isin(chosen: _*))
        .join(uncov.groupBy("source").agg(countDistinct(col("tok")).as("g")),
          Seq("source"), "left")
        .na.fill(0L, Seq("g"))
        .orderBy(col("g").desc, col("source").asc)
        .head(1) // bounded: one row of a <=|sources|-row frame
      val (src, gain) = (gains(0).getString(0), gains(0).getLong(1))
      chosen :+= src
      if (covered != null) covered.unpersist()
      covered = st.filter(col("source").isin(chosen: _*))
        .select("tok").distinct().persist()
      val cum = covered.count()
      // HALF_UP like both engines' round(), not math.rint's HALF_EVEN
      val frac = BigDecimal(cum.toDouble / totalVocab)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (k, src, gain, cum, frac)
    }
    covered.unpersist()
    val spark = s
    import spark.implicits._
    picks.toDF("pick_order", "source", "newly_covered", "cum_covered", "cum_frac")
      .orderBy("pick_order")
  }

  /** q470: B-cubed evaluation of a dedup clustering against truth —
    * the cluster-quality readout that, unlike pairwise F1, weights
    * every ITEM equally: precision = E_item[|C∩T|/|C|], recall =
    * E_item[|C∩T|/|T|], both computable from the (pred, truth)
    * contingency counts alone (Σ n_ct²/n_c and Σ n_ct²/n_t — never
    * materializing item pairs). The corpus gets a deterministic
    * duplication structure (each doc spawns doc_id%3 extra copies, the
    * third mutated), truth = origin doc, predicted = exact-text hash
    * clusters; identical texts from DIFFERENT docs merging into one
    * predicted cluster is exactly the noise B-cubed is meant to price.
    */
  private val q470Bcubed: Q = (s, d) => {
    val items = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), (col("doc_id") % 3).cast("int"))).as("i"))
      .select(col("doc_id").as("t"),
        when(col("i") === 2, concat(col("text"), lit(" zz"), col("doc_id") % 7))
          .otherwise(col("text")).as("txt"))
      .withColumn("c", mdHash(col("txt")))
    val ct = items.groupBy("c", "t").agg(count(lit(1)).as("nct"))
    val nc = ct.groupBy("c").agg(sum(col("nct")).as("ncl"))
    val nt = ct.groupBy("t").agg(sum(col("nct")).as("ntl"))
    val tot = broadcast(ct.agg(sum(col("nct")).as("n_items"),
      countDistinct(col("c")).as("n_pred"),
      countDistinct(col("t")).as("n_true")))
    ct.join(nc, Seq("c")).join(nt, Seq("t"))
      .select(
        round((col("nct") * col("nct")).cast(DoubleType) / col("ncl"), 9)
          .cast(D9).as("tp"),
        round((col("nct") * col("nct")).cast(DoubleType) / col("ntl"), 9)
          .cast(D9).as("tr"))
      .agg(sum(col("tp")).as("sp"), sum(col("tr")).as("sr"))
      .crossJoin(tot)
      .select(col("n_items"), col("n_pred"), col("n_true"),
        round(col("sp").cast(DoubleType) / col("n_items"), 6).as("b3_precision"),
        round(col("sr").cast(DoubleType) / col("n_items"), 6).as("b3_recall"),
        round(lit(2.0) * (col("sp").cast(DoubleType) / col("n_items")) *
          (col("sr").cast(DoubleType) / col("n_items")) /
          (col("sp").cast(DoubleType) / col("n_items") +
            col("sr").cast(DoubleType) / col("n_items")), 6).as("b3_f1"))
  }

  /** q471: gap-constrained sequential pattern support — for every
    * ordered pair of event types (a then b within the next 3 events of
    * the same user), the number of distinct users exhibiting it and
    * the raw occurrence count. Strictly linear: lead(type, 1..3) over
    * the user-keyed window replaces the per-user positional self-join
    * (which is quadratic in a power user's history), so one shuffle by
    * user plus a bounded ×3 in-row expansion covers every pattern.
    */
  private val q471SeqPattern: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("b1", lead(col("event_type"), 1).over(w))
      .withColumn("b2", lead(col("event_type"), 2).over(w))
      .withColumn("b3", lead(col("event_type"), 3).over(w))
    val pairs = ev.select(col("user_id"), col("event_type").as("a"),
        explode(array(col("b1"), col("b2"), col("b3"))).as("b"))
      .filter(col("b").isNotNull)
    pairs.groupBy("a", "b")
      .agg(countDistinct(col("user_id")).as("support"),
        count(lit(1)).as("n_occur"))
      .orderBy(col("support").desc, col("n_occur").desc, col("a").asc, col("b").asc)
  }

  /** q472: approx_percentile rank-error audit — does the engine's GK
    * sketch honor its 1/accuracy rank guarantee on real data? Exact
    * P50/P95/P99 come from the bucketed global-rank machinery (order
    * statistic at rank ceil(p·n), never a single-task sort); the
    * sketch's returned values are re-ranked with one broadcast
    * aggregate, and the boolean readout asserts |rank − p·n| ≤
    * n/accuracy + 1. The q07 convention: the oracle pins the exact
    * order statistics and expects the bound check to hold, without
    * hashing the sketch's engine-specific outputs.
    */
  private val q472ApproxPercentileAudit: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("x"))
    val n = Tables.rowCount(s, d, "lineitem")
    val spark = s
    import spark.implicits._
    val tgt = Seq(0.5, 0.95, 0.99).toDF("p")
      .withColumn("r", greatest(lit(1L),
        ceil(col("p") * lit(n.toDouble)).cast(LongType)))
    val ranked = Ranking.globalRank(li, "rnk", col("x").asc)
    val exact = ranked.join(broadcast(tgt), col("rnk") === col("r"))
      .select(col("p"), col("x").as("exact_v"))
    val ap = li.agg(percentile_approx(col("x"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(1000)).as("av"))
      .select(posexplode(col("av")).as(Seq("idx", "av")))
      .withColumn("p", element_at(array(lit(0.5), lit(0.95), lit(0.99)),
        col("idx") + 1))
    val rankOfApprox = li.crossJoin(broadcast(ap))
      .groupBy("p")
      .agg(sum(when(col("x") <= col("av"), 1L).otherwise(0L)).as("rank_a"))
    exact.join(rankOfApprox, Seq("p"))
      .select(col("p"), col("exact_v"),
        (abs(col("rank_a") - col("p") * lit(n.toDouble)) <=
          lit(n.toDouble / 1000.0 + 1.0)).as("rank_ok"))
      .orderBy("p")
  }

  /** q469's oracle: five greedy rounds generated by one loop so the
    * pick/cover CTE pair can never drift between rounds; zero-gain
    * sources stay pickable via the LEFT JOIN against the source list
    * (mirrors the Spark side's saturation handling).
    */
  private def q469OracleSql: String = {
    def chosenUnion(k: Int): String =
      (1 to k).map(i => s"SELECT source FROM p$i").mkString(" UNION ")
    val rounds = (1 to 5).map { k =>
      val notChosen =
        if (k == 1) "" else s"WHERE source NOT IN (${chosenUnion(k - 1)})"
      val uncov =
        if (k == 1) "st"
        else s"(SELECT * FROM st WHERE tok NOT IN (SELECT tok FROM c${k - 1}))"
      s"""p$k AS (SELECT s.source, coalesce(g.g, 0) g
         |  FROM (SELECT DISTINCT source FROM st $notChosen) s
         |  LEFT JOIN (SELECT source, count(DISTINCT tok) g FROM $uncov u
         |    ${if (k == 1) "" else s"WHERE u.source NOT IN (${chosenUnion(k - 1)})"}
         |    GROUP BY source) g USING (source)
         |  ORDER BY g DESC, source LIMIT 1),
         |c$k AS (SELECT DISTINCT tok FROM st
         |  WHERE source IN (${chosenUnion(k)}))""".stripMargin
    }.mkString(",\n")
    val selects = (1 to 5).map { k =>
      s"""SELECT $k pick_order, source, g newly_covered,
         |    (SELECT count(*) FROM c$k) cum_covered,
         |    round((SELECT count(*) FROM c$k)::DOUBLE / (SELECT t FROM tot), 6)
         |      cum_frac FROM p$k""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH st AS (SELECT DISTINCT source, unnest(str_split(text, ' ')) tok
       |  FROM documents),
       |tot AS (SELECT count(DISTINCT tok) t FROM st),
       |$rounds
       |SELECT * FROM (
       |  $selects)
       |ORDER BY pick_order""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("q469_set_cover", q469SetCover, q469OracleSql),
    Query("q470_bcubed", q470Bcubed,
      """WITH items AS (SELECT doc_id t,
        |    CASE WHEN i = 2 THEN text || ' zz' || (doc_id % 7)::VARCHAR
        |      ELSE text END txt
        |  FROM documents, unnest(generate_series(0, doc_id % 3)) u(i)),
        |hashed AS (SELECT t,
        |    ('0x' || substr(md5(txt), 1, 15))::BIGINT c FROM items),
        |ct AS (SELECT c, t, count(*) nct FROM hashed GROUP BY c, t),
        |nc AS (SELECT c, sum(nct) ncl FROM ct GROUP BY c),
        |nt AS (SELECT t, sum(nct) ntl FROM ct GROUP BY t),
        |tot AS (SELECT sum(nct) n_items, count(DISTINCT c) n_pred,
        |    count(DISTINCT t) n_true FROM ct),
        |terms AS (SELECT
        |    CAST(round((nct * nct)::DOUBLE / ncl, 9) AS DECIMAL(24,9)) tp,
        |    CAST(round((nct * nct)::DOUBLE / ntl, 9) AS DECIMAL(24,9)) tr
        |  FROM ct JOIN nc USING (c) JOIN nt USING (t)),
        |agg AS (SELECT sum(tp) sp, sum(tr) sr FROM terms)
        |SELECT n_items::BIGINT AS n_items, n_pred, n_true,
        |  round(sp::DOUBLE / n_items, 6) AS b3_precision,
        |  round(sr::DOUBLE / n_items, 6) AS b3_recall,
        |  round(2.0 * (sp::DOUBLE / n_items) * (sr::DOUBLE / n_items)
        |    / (sp::DOUBLE / n_items + sr::DOUBLE / n_items), 6) AS b3_f1
        |FROM agg, tot""".stripMargin),
    Query("q471_seq_pattern", q471SeqPattern,
      """WITH ev AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w b1,
        |    lead(event_type, 2) OVER w b2,
        |    lead(event_type, 3) OVER w b3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |pairs AS (
        |  SELECT user_id, event_type a, b1 b FROM ev WHERE b1 IS NOT NULL
        |  UNION ALL SELECT user_id, event_type, b2 FROM ev WHERE b2 IS NOT NULL
        |  UNION ALL SELECT user_id, event_type, b3 FROM ev WHERE b3 IS NOT NULL)
        |SELECT a, b, count(DISTINCT user_id) AS support, count(*) AS n_occur
        |FROM pairs GROUP BY a, b
        |ORDER BY support DESC, n_occur DESC, a ASC, b ASC""".stripMargin),
    Query("q472_approx_pct_audit", q472ApproxPercentileAudit,
      """WITH v AS (SELECT l_extendedprice x FROM lineitem),
        |n AS (SELECT count(*) n FROM v),
        |ranked AS (SELECT x, row_number() OVER (ORDER BY x) rnk FROM v),
        |tgt AS (SELECT p, greatest(1, CAST(ceil(p * (SELECT n FROM n)::DOUBLE)
        |    AS BIGINT)) r
        |  FROM (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) p))
        |SELECT t.p, r1.x AS exact_v, TRUE AS rank_ok
        |FROM tgt t JOIN ranked r1 ON r1.rnk = t.r
        |ORDER BY t.p""".stripMargin))
}
