package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.operators.Materialize
import graft.sources.Tables

/** Round-8 wave 7: graph communities and paired/grouped hypothesis
  * tests — synchronous label propagation, partition modularity,
  * McNemar's paired test, and Levene's variance-homogeneity test.
  */
object Curation37 {

  /** The part co-purchase edge set (directed both ways, simple): the
    * q267/q345 construction — in-row pair generation from per-order
    * baskets (basket size is bounded by order shape, so the expansion
    * is linear in lineitem), never a lineitem self-join shuffle.
    */
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession, d: String,
      includeSelf: Boolean = false): DataFrame = {
    val pairs = graft.operators.Kernels.fanOut( // single-task map side otherwise
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))
      .groupBy("o").agg(collect_set(col("p")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
    (if (includeSelf) pairs else pairs.filter(col("u") =!= col("v"))).distinct()
  }

  /** q347: community detection by synchronous min-label propagation —
    * three rounds of label(v) ← min(label(v), min over neighbors) on
    * the co-purchase graph, the deterministic core of large-scale
    * connected-components / community engines (Raghavan et al. 2007).
    * Scale shape, per round: ONE equi-join of the edge list against
    * the label frame on the source id plus one keyed min — identical
    * to the q267 BFS frontier shape. The self-merge least(own,
    * neighbor-min) rides the SAME aggregate via self-loop edges
    * (min over neighbors ∪ self), so a round is join + groupBy and
    * nothing else; the edge list is persisted pre-partitioned on the
    * join key so no round re-shuffles it. Rounds are a fixed constant
    * and the bounded community-size readout spills through
    * [[Materialize.spillRelease]] so nothing leaks into the block
    * manager. Min-label ties are impossible (labels are node ids), so
    * the fixpoint trajectory is engine-exact.
    */
  private val q347LabelPropagation: Q = (s, d) => {
    val edges = copurchaseEdges(s, d, includeSelf = true)
      .repartition(col("u")).persist()
    val l0 = edges.filter(col("u") === col("v"))
      .select(col("u").as("node"), col("u").as("lbl")).persist()
    val rounds = (1 to 3).scanLeft(l0) { (lbl, _) =>
      edges.join(lbl, edges("u") === lbl("node"))
        .groupBy(edges("v").as("node")).agg(min(col("lbl")).as("lbl"))
        .persist()
    }
    val sizes = rounds.last.groupBy("lbl").agg(count(lit(1)).as("c"))
    val out = sizes.agg(
      count(lit(1)).as("n_communities"), sum(col("c")).as("n_nodes"),
      max(col("c")).as("max_size"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_singletons"))
    Materialize.spillRelease(out, edges +: rounds: _*)
  }

  /** q348: Newman modularity of the brand partition over the same
    * co-purchase graph — does TPC-H brand structure explain
    * co-purchase structure? Q = Σ_b (E_bb/E − (K_b/E)²) on the
    * directed-both-ways edge list (E = 2m). The part dimension
    * broadcasts onto both endpoints; every aggregate is an integer
    * keyed sum over the bounded brand domain, so the statistic is
    * exact in any partitioning.
    */
  private val q348Modularity: Q = (s, d) => {
    val edges = copurchaseEdges(s, d)
    val brand = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val tagged = edges
      .join(broadcast(brand.select(col("p_partkey").as("u"), col("p_brand").as("bu"))), "u")
      .join(broadcast(brand.select(col("p_partkey").as("v"), col("p_brand").as("bv"))), "v")
    val per = tagged.groupBy("bu").agg(
      count(lit(1)).as("k"),
      sum(when(col("bu") === col("bv"), 1L).otherwise(0L)).as("ecc"))
    val tot = per.agg(sum(col("k")).as("e")).select(col("e"))
    per.crossJoin(broadcast(tot))
      .agg(max(col("e")).as("n_edges_directed"), count(lit(1)).as("n_communities"),
        round(sum(col("ecc").cast(DoubleType) / col("e").cast(DoubleType) -
          (col("k").cast(DoubleType) / col("e").cast(DoubleType)) *
          (col("k").cast(DoubleType) / col("e").cast(DoubleType))), 6).as("modularity"))
  }

  /** q349: McNemar's paired test (continuity-corrected) for within-day
    * behavior change — the paired unit is (user, day), the two
    * conditions are morning (hour < 12) vs afternoon: did the user
    * purchase in each? The 2×2 discordant cells b/c come from one
    * keyed aggregate over pair units and the statistic
    * (|b−c|−1)²/(b+c) is closed-form after. One scan, one shuffle on
    * the pair key, a 1-row result.
    */
  private val q349McnemarPaired: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        hour(col("ts")).as("h"), col("event_type"))
    val per = ev
      .groupBy("user_id", "day")
      .agg(max(when(col("event_type") === "purchase" && col("h") < 12, 1L)
             .otherwise(0L)).as("x"),
           max(when(col("event_type") === "purchase" && col("h") >= 12, 1L)
             .otherwise(0L)).as("y"))
    per.agg(
        sum(when(col("x") === 1 && col("y") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("x") === 0 && col("y") === 1, 1L).otherwise(0L)).as("c"))
      .select(col("b"), col("c"),
        round(((abs(col("b") - col("c")) - 1) * (abs(col("b") - col("c")) - 1))
          .cast(DoubleType) / (col("b") + col("c")).cast(DoubleType), 6)
          .as("mcnemar_chi2"))
  }

  /** q350: Levene's test for homogeneity of variance across event
    * types (mean-centered original form — the center is a keyed
    * aggregate, so the whole test is two distributed passes; the
    * median-centered Brown–Forsythe variant would funnel each group
    * through one sort). Pass 1: per-group decimal mean. Pass 2: per-
    * group (n, Σz, Σz²) of z = |value − mean_g| with fixed-scale
    * decimal sums; W is closed-form on the bounded group domain.
    */
  private val q350LeveneVariance: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val means = ev.groupBy("event_type")
      .agg((sum(dec(col("value"))) / count(lit(1))).cast(DoubleType).as("m"))
    val z = ev.join(broadcast(means), "event_type")
      .select(col("event_type"), abs(col("value") - col("m")).as("z"))
    val per = z.groupBy("event_type").agg(
      count(lit(1)).as("ni"),
      sum(dec(col("z"))).cast(DoubleType).as("sz"),
      sum(dec(col("z") * col("z"))).cast(DoubleType).as("szz"))
    per.agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
        sum(col("sz")).as("szAll"),
        sum(col("ni").cast(DoubleType) * (col("sz") / col("ni")) * (col("sz") / col("ni")))
          .as("nzb2"),
        sum(col("szz") - (col("sz") * col("sz")) / col("ni")).as("wgss"))
      .select(col("k"), col("n"),
        round(((col("n") - col("k")).cast(DoubleType) / (col("k") - 1).cast(DoubleType)) *
          ((col("nzb2") - (col("szAll") * col("szAll")) / col("n")) / col("wgss")), 6)
          .as("levene_w"))
  }

  private val edgesSql =
    """edges AS (SELECT DISTINCT a.l_partkey u, b.l_partkey v
      |  FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q347_label_propagation", q347LabelPropagation,
      s"""WITH $edgesSql,
        |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM edges),
        |n1 AS (SELECT e.v node, min(l.lbl) nm FROM edges e JOIN l0 l ON l.node = e.u GROUP BY e.v),
        |l1 AS (SELECT l.node, least(l.lbl, coalesce(n.nm, l.lbl)) lbl FROM l0 l LEFT JOIN n1 n USING (node)),
        |n2 AS (SELECT e.v node, min(l.lbl) nm FROM edges e JOIN l1 l ON l.node = e.u GROUP BY e.v),
        |l2 AS (SELECT l.node, least(l.lbl, coalesce(n.nm, l.lbl)) lbl FROM l1 l LEFT JOIN n2 n USING (node)),
        |n3 AS (SELECT e.v node, min(l.lbl) nm FROM edges e JOIN l2 l ON l.node = e.u GROUP BY e.v),
        |l3 AS (SELECT l.node, least(l.lbl, coalesce(n.nm, l.lbl)) lbl FROM l2 l LEFT JOIN n3 n USING (node)),
        |sz AS (SELECT lbl, count(*) c FROM l3 GROUP BY lbl)
        |SELECT count(*)::BIGINT AS n_communities, sum(c)::BIGINT AS n_nodes,
        |  max(c)::BIGINT AS max_size,
        |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons
        |FROM sz""".stripMargin),
    Query("q348_modularity", q348Modularity,
      s"""WITH $edgesSql,
        |tagged AS (SELECT pu.p_brand bu, pv.p_brand bv FROM edges e
        |  JOIN part pu ON pu.p_partkey = e.u JOIN part pv ON pv.p_partkey = e.v),
        |per AS (SELECT bu, count(*) k,
        |    sum(CASE WHEN bu = bv THEN 1 ELSE 0 END) ecc FROM tagged GROUP BY bu),
        |tot AS (SELECT sum(k) e FROM per)
        |SELECT max(e)::BIGINT AS n_edges_directed, count(*)::BIGINT AS n_communities,
        |  round(sum(ecc::DOUBLE / e::DOUBLE -
        |    (k::DOUBLE / e::DOUBLE) * (k::DOUBLE / e::DOUBLE)), 6) AS modularity
        |FROM per CROSS JOIN tot""".stripMargin),
    Query("q349_mcnemar_paired", q349McnemarPaired,
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) dy, hour(ts) h, event_type
        |  FROM events),
        |per AS (SELECT user_id, dy,
        |    max(CASE WHEN event_type = 'purchase' AND h < 12 THEN 1 ELSE 0 END) x,
        |    max(CASE WHEN event_type = 'purchase' AND h >= 12 THEN 1 ELSE 0 END) y
        |  FROM ev GROUP BY user_id, dy),
        |cells AS (SELECT
        |    sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)::BIGINT b,
        |    sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT c FROM per)
        |SELECT b, c,
        |  round(((abs(b - c) - 1) * (abs(b - c) - 1))::DOUBLE / (b + c)::DOUBLE, 6)
        |    AS mcnemar_chi2
        |FROM cells""".stripMargin),
    Query("q350_levene_variance", q350LeveneVariance,
      """WITH ev AS (SELECT event_type, value FROM events),
        |means AS (SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(38,15))) / count(*) AS DOUBLE) m
        |  FROM ev GROUP BY event_type),
        |z AS (SELECT ev.event_type, abs(value - m) z FROM ev JOIN means USING (event_type)),
        |per AS (SELECT event_type, count(*) ni,
        |    CAST(sum(CAST(z AS DECIMAL(38,15))) AS DOUBLE) sz,
        |    CAST(sum(CAST(z * z AS DECIMAL(38,15))) AS DOUBLE) szz
        |  FROM z GROUP BY event_type),
        |m AS (SELECT count(*) k, sum(ni) n, sum(sz) szall,
        |    sum(ni::DOUBLE * (sz / ni) * (sz / ni)) nzb2,
        |    sum(szz - (sz * sz) / ni) wgss FROM per)
        |SELECT k::BIGINT AS k, n::BIGINT AS n,
        |  round(((n - k)::DOUBLE / (k - 1)::DOUBLE) *
        |    ((nzb2 - (szall * szall) / n) / wgss), 6) AS levene_w
        |FROM m""".stripMargin))
}
