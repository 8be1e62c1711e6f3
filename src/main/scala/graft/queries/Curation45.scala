package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.sources.Tables

/** Round-8 wave 15: survival inference, coreset selection, learned
  * indexes, concordance, and extreme-value tails — the two-sample
  * log-rank test, greedy k-center coreset over the embedding plane,
  * piecewise-linear learned-index error profiling, Kendall's W, and a
  * GPD peaks-over-threshold moment fit.
  */
object Curation45 {

  /** q386: two-sample log-rank test on time-to-first-purchase — the
    * survival-curve comparison q221/q332 describe but never test. Per
    * user: first-purchase day index or right-censoring at the horizon
    * (one keyed pass); per day: at-risk counts as reverse cumulative
    * sums and the hypergeometric O−E / variance terms — all integer
    * arithmetic on the bounded 30-day grid until the final χ².
    */
  private val q386LogrankTest: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
    val d0 = ev.agg(min(col("day")).as("d0"), max(col("day")).as("dmax"))
    val horizon = ev.crossJoin(broadcast(d0))
    val users = horizon.groupBy("user_id")
      .agg(min(when(col("event_type") === "purchase",
          datediff(col("day"), col("d0")))).as("tev"),
        max(datediff(col("dmax"), col("d0"))).as("tmax"))
      .select((col("user_id") % 2).as("arm"),
        coalesce(col("tev"), col("tmax")).as("t"),
        when(col("tev").isNotNull, 1L).otherwise(0L).as("ev"))
    val byDay = users.groupBy("t").agg(
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("l1"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("l0"),
      sum(when(col("arm") === 1, col("ev")).otherwise(0L)).as("d1"),
      sum(when(col("arm") === 0, col("ev")).otherwise(0L)).as("d0e"))
    val w = Window.orderBy(col("t").desc) // bounded day domain
    val risk = byDay.select(col("t"), col("d1"), col("d0e"),
        sum(col("l1")).over(w).as("n1"), sum(col("l0")).over(w).as("n0"))
      .select(col("t"), col("d1"), (col("d1") + col("d0e")).as("dd"),
        col("n1"), (col("n1") + col("n0")).as("nn"))
      .filter(col("dd") > 0 && col("nn") > 1)
    val terms = risk.select(
      (col("d1").cast(DoubleType) - col("dd").cast(DoubleType) *
        col("n1").cast(DoubleType) / col("nn").cast(DoubleType)).as("ome"),
      (col("dd").cast(DoubleType) *
        (col("n1").cast(DoubleType) / col("nn").cast(DoubleType)) *
        (lit(1.0) - col("n1").cast(DoubleType) / col("nn").cast(DoubleType)) *
        (col("nn") - col("dd")).cast(DoubleType) /
        (col("nn") - 1).cast(DoubleType)).as("v"))
    terms.agg(count(lit(1)).as("n_event_days"),
        sum(dec(col("ome"))).cast(DoubleType).as("s"),
        sum(dec(col("v"))).cast(DoubleType).as("vv"))
      .select(col("n_event_days"), round(col("s"), 6).as("o_minus_e"),
        round(col("vv"), 6).as("variance"),
        round(col("s") * col("s") / col("vv"), 6).as("logrank_chi2"))
  }

  /** q387: greedy k-center coreset selection (k = 8) over the first
    * two embedding dimensions — the farthest-point heuristic with its
    * 2-approximation guarantee, the standard coreset/diversity pick
    * for training-data condensation. Each of the 8 rounds is ONE
    * linear pass: min-distance to the bounded broadcast center set,
    * then a deterministic argmax (orderBy desc + vec_id tiebreak,
    * TakeOrdered — never a global sort). Distances are exact double
    * arithmetic on float-exact inputs; the center list is a bounded
    * driver contract like q362's matrix.
    */
  private val q387KcenterCoreset: Q = (s, d) => {
    import s.implicits._
    val xy = Tables.embeddings(s, d).select(col("vec_id"),
      element_at(col("embedding"), 1).cast(DoubleType).as("x"),
      element_at(col("embedding"), 2).cast(DoubleType).as("y")).persist()
    val first = xy.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("x"), col("y")).collect()(0)
    var centers = Vector((first.getLong(0), first.getDouble(1), first.getDouble(2), 0.0))
    for (_ <- 2 to 8) {
      val dists = centers.map { case (_, cx, cy, _) =>
        (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy)
      }
      val md = if (dists.size == 1) dists.head else least(dists: _*)
      val minDist = xy.select(col("vec_id"), col("x"), col("y"), md.as("md"))
      val nxt = minDist.orderBy(col("md").desc, col("vec_id")).limit(1).collect()(0)
      centers = centers :+ ((nxt.getLong(0), nxt.getDouble(1), nxt.getDouble(2),
        nxt.getDouble(3)))
    }
    // raw doubles into the frame, engine round() for oracle parity
    val out = centers.zipWithIndex.map { case ((id, _, _, dist), i) =>
      (i + 1, id, dist * 1000)
    }.toDF("rank", "vec_id", "d")
      .select(col("rank"), col("vec_id"), round(col("d"), 6).as("dist_sq_x1000"))
    xy.unpersist()
    out
  }

  /** q388: learned-index error profile (the RMI bottom layer, Kraska
    * et al. 2018): the root model is the linear key-scaling into m
    * equi-width segments, per-segment OLS of rank on key from decimal
    * moments, and the max absolute rank-prediction error — the number
    * that decides the index's search window. m is sized to the corpus
    * ([[graft.operators.Similarity.sqrtModulus]] convention, min = 8:
    * smallest power of two with m² ≥ n), so per-segment rank windows
    * stay O(n/m) = O(√n) and parallelism GROWS with the corpus — the
    * round-8 verdict's `weak` item was a hardwired 8-way fanout whose
    * per-segment window was a single-task n/8-row sort. The segment
    * count, key bounds, and assignment are all integer arithmetic off
    * a 1-row stats frame (broadcast), so the DuckDB oracle reproduces
    * them bit-for-bit with the generated CASE ladder; ranks come from
    * per-segment windows + cumulative base offsets over the bounded
    * (≤m-row) segment-count frame, so nothing sorts globally.
    */
  private val q388LearnedIndexFit: Q = (s, d) => {
    val keys = Tables.orders(s, d).select(col("o_orderkey").as("k")).distinct()
    val stats = keys.agg(count(lit(1)).as("c"),
        min(col("k")).as("kmin"), max(col("k")).as("kmax"))
      .select(graft.operators.Similarity.sqrtModulusLadderCol(col("c"), min = 8L)
          .as("m"),
        col("kmin"), col("kmax"))
    val seg = keys.crossJoin(broadcast(stats))
      .select(col("k"),
        (expr("(k - kmin) * m div (kmax - kmin + 1)") + lit(1L)).as("sg"))
    val counts = seg.groupBy("sg").agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy("sg") // bounded: ≤m ≈ √n rows
    val bases = counts.select(col("sg"), col("n"),
      (sum(col("n")).over(wCum) - col("n")).as("base"))
    val ranked = seg.join(broadcast(bases), "sg")
      .select(col("sg"), col("k"),
        (row_number().over(Window.partitionBy("sg").orderBy("k")) + col("base"))
          .as("r"))
    // Moments and the slope's numerator/denominator are EXACT integer
    // arithmetic (decimal-38 sums and products; keys and ranks are
    // integers), so slope = num/den is one double division on
    // bit-identical operands in both engines — the
    // sum-then-subtract-in-double form drifted by ulps per segment
    // (cancellation grows with the global rank offset).
    val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
    val mom = ranked.groupBy("sg").agg(count(lit(1)).as("n"),
      sum(col("k").cast(d380)).as("sk"),
      sum(col("r").cast(d380)).as("sr"),
      sum(col("k").cast(d380) * col("r").cast(d380)).as("skr"),
      sum(col("k").cast(d380) * col("k").cast(d380)).as("skk"))
    val fit = mom.select(col("sg"), col("n"),
      ((col("n").cast(d380) * col("skr") - col("sk") * col("sr"))
          .cast(DoubleType) /
        (col("n").cast(d380) * col("skk") - col("sk") * col("sk"))
          .cast(DoubleType)).as("slope"),
      col("sr"), col("sk"))
      .select(col("sg"), col("n"), col("slope"),
        ((col("sr").cast(DoubleType) - col("slope") * col("sk").cast(DoubleType)) /
          col("n").cast(DoubleType)).as("icept"))
    ranked.join(broadcast(fit), "sg")
      .select(col("sg"), col("n"), col("slope"), col("icept"),
        abs(col("r").cast(DoubleType) - (col("icept") +
          col("slope") * col("k").cast(DoubleType))).as("err"))
      .groupBy("sg", "n", "slope", "icept")
      .agg(max(col("err")).as("maxerr"))
      .select(col("sg").as("segment"), col("n"),
        round(col("slope") * 1000000, 6).as("slope_x1e6"),
        round(col("maxerr"), 6).as("max_abs_err"))
      .orderBy("segment")
  }

  /** q389: Kendall's coefficient of concordance W — do the first 12
    * months agree on the nation ranking by order volume? The corpus
    * collapses to the dense bounded (month × nation) grid (zero cells
    * included via a broadcast cross); within-month ranks break count
    * ties by nation key, so ranks are a permutation and the classic
    * W = 12S/(m²(n³−n)) needs no tie correction. Exact integer
    * arithmetic end-to-end except the final quotient.
    */
  private val q389KendallW: Q = (s, d) => {
    val nm = Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_nationkey").as("nk")), "o_custkey")
      .select(col("nk"), (year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).as("ym"))
      .groupBy("nk", "ym").agg(count(lit(1)).as("x"))
    val months = nm.select(col("ym")).distinct().orderBy("ym").limit(12)
    val nations = Tables.customer(s, d).select(col("c_nationkey").as("nk")).distinct()
    val grid = months.crossJoin(broadcast(nations))
      .join(nm, Seq("nk", "ym"), "left")
      .select(col("nk"), col("ym"), coalesce(col("x"), lit(0L)).as("x"))
    val ranked = grid.select(col("nk"), col("ym"),
      row_number().over(Window.partitionBy("ym")
        .orderBy(col("x").desc, col("nk"))).as("r"))
    val sums = ranked.groupBy("nk").agg(sum(col("r")).as("ri"))
    val mn = sums.agg(count(lit(1)).as("n"), sum(col("ri")).as("tot"),
      sum(col("ri") * col("ri")).as("rss"))
    mn.select(lit(12L).as("m"), col("n"),
        ((col("rss") - col("tot") * col("tot") / col("n")).cast(DoubleType)).as("ss"),
        col("n").cast(DoubleType).as("nd"))
      .select(col("m"), col("n"),
        round(lit(12.0) * col("ss") /
          (lit(144.0) * (col("nd") * col("nd") * col("nd") - col("nd"))), 6).as("w"),
        round(lit(12.0) * (col("nd") - 1) * lit(12.0) * col("ss") /
          (lit(144.0) * (col("nd") * col("nd") * col("nd") - col("nd"))), 6)
          .as("chi2"))
  }

  /** q390: GPD peaks-over-threshold tail fit for event values — the
    * extreme-value method behind tail-latency and risk SLOs: moment
    * estimators ξ = ½(1 − m²/s²), β = ½m(1 + m²/s²) over exceedances
    * of the P90 threshold, and the 1-in-10⁴ return level
    * u + β/ξ·((λ/p)^ξ − 1). Threshold from a broadcast percentile
    * frame, excess moments as decimal sums, closed-form tail math.
    */
  private val q390GpdTailFit: Q = (s, d) => {
    val v = Tables.events(s, d).select(col("value").as("x"))
    val th = v.agg(percentile(col("x"), lit(0.9)).as("u"), count(lit(1)).as("nt"))
    val exc = v.crossJoin(broadcast(th)).filter(col("x") > col("u"))
      .select((col("x") - col("u")).as("e"), col("u"), col("nt"))
    val mom = exc.groupBy("u", "nt").agg(count(lit(1)).as("ne"),
        sum(dec(col("e"))).cast(DoubleType).as("se"),
        sum(dec(col("e") * col("e"))).cast(DoubleType).as("see"))
      .select(col("u"), col("nt"), col("ne"),
        (col("se") / col("ne").cast(DoubleType)).as("m"),
        ((col("see") - col("se") * col("se") / col("ne").cast(DoubleType)) /
          (col("ne") - 1).cast(DoubleType)).as("s2"))
    val fit = mom.select(col("u"), col("nt"), col("ne"), col("m"),
      (lit(0.5) * (lit(1.0) - col("m") * col("m") / col("s2"))).as("xi"),
      (lit(0.5) * col("m") * (lit(1.0) + col("m") * col("m") / col("s2"))).as("beta"),
      (col("ne").cast(DoubleType) / col("nt").cast(DoubleType)).as("lam"))
    fit.select(round(col("u"), 6).as("threshold"), col("ne").as("n_exceed"),
      round(col("m"), 6).as("mean_excess"), round(col("xi"), 6).as("xi"),
      round(col("beta"), 6).as("beta"),
      round(col("u") + col("beta") / col("xi") *
        (pow(col("lam") / lit(0.0001), col("xi")) - lit(1.0)), 6)
        .as("return_level_1e4"))
  }

  val queries: Seq[Query] = Seq(
    Query("q386_logrank_test", q386LogrankTest,
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) dy, event_type FROM events),
        |d0 AS (SELECT min(dy) d0, max(dy) dmax FROM ev),
        |users AS (SELECT user_id % 2 arm,
        |    coalesce(min(CASE WHEN event_type = 'purchase'
        |      THEN date_diff('day', d0, dy) END),
        |      max(date_diff('day', d0, dmax))) t,
        |    CASE WHEN min(CASE WHEN event_type = 'purchase'
        |      THEN date_diff('day', d0, dy) END) IS NOT NULL THEN 1 ELSE 0 END ev
        |  FROM ev CROSS JOIN d0 GROUP BY user_id),
        |byday AS (SELECT t,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) l1,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) l0,
        |    sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) d1,
        |    sum(CASE WHEN arm = 0 THEN ev ELSE 0 END) d0e
        |  FROM users GROUP BY t),
        |risk AS (SELECT t, d1, d1 + d0e dd,
        |    sum(l1) OVER (ORDER BY t DESC) n1,
        |    sum(l1) OVER (ORDER BY t DESC) + sum(l0) OVER (ORDER BY t DESC) nn
        |  FROM byday),
        |terms AS (SELECT
        |    d1::DOUBLE - dd::DOUBLE * n1::DOUBLE / nn::DOUBLE ome,
        |    dd::DOUBLE * (n1::DOUBLE / nn::DOUBLE) *
        |      (1.0 - n1::DOUBLE / nn::DOUBLE) *
        |      (nn - dd)::DOUBLE / (nn - 1)::DOUBLE v
        |  FROM risk WHERE dd > 0 AND nn > 1)
        |SELECT count(*)::BIGINT AS n_event_days,
        |  round(CAST(sum(CAST(ome AS DECIMAL(38,15))) AS DOUBLE), 6) AS o_minus_e,
        |  round(CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE), 6) AS variance,
        |  round(CAST(sum(CAST(ome AS DECIMAL(38,15))) AS DOUBLE) *
        |    CAST(sum(CAST(ome AS DECIMAL(38,15))) AS DOUBLE) /
        |    CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE), 6) AS logrank_chi2
        |FROM terms""".stripMargin),
    Query("q387_kcenter_coreset", q387KcenterCoreset, {
      // greedy farthest-point, 8 rounds unrolled: cN picks the argmax
      // of min-distance to {c1..cN-1} with vec_id tiebreak
      val rounds = (2 to 8).map { i =>
        val dexprs = (1 until i).map(j =>
          s"(x.x - c$j.x) * (x.x - c$j.x) + (x.y - c$j.y) * (x.y - c$j.y)")
        val dists = if (dexprs.size == 1) dexprs.head
          else dexprs.mkString("least(", ", ", ")")
        val froms = (1 until i).map(j => s"c$j").mkString(", ")
        s"""c$i AS (SELECT x.vec_id, x.x, x.y, $dists md
           |  FROM xy x, $froms
           |  ORDER BY md DESC, x.vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 8).map { i =>
        val md = if (i == 1) "0.0" else "md"
        s"SELECT $i rank, vec_id, round($md * 1000, 6) dist_sq_x1000 FROM c$i"
      }.mkString("\nUNION ALL\n")
      s"""WITH xy AS (SELECT vec_id, embedding[1]::DOUBLE x, embedding[2]::DOUBLE y
        |  FROM embeddings),
        |c1 AS (SELECT vec_id, x, y FROM xy ORDER BY vec_id LIMIT 1),
        |$rounds
        |SELECT rank, vec_id, dist_sq_x1000 AS dist_sq_x1000 FROM (
        |$sel
        |) ORDER BY rank""".stripMargin
    }),
    Query("q388_learned_index_fit", q388LearnedIndexFit,
      s"""WITH keys AS (SELECT DISTINCT o_orderkey k FROM orders),
        |st AS (SELECT
        |    ${graft.operators.Similarity.sqrtModulusLadderSql("c", min = 8L)} m,
        |    kmin, kmax
        |  FROM (SELECT count(*) c, min(k) kmin, max(k) kmax FROM keys)),
        |seg AS (SELECT k, (k - kmin) * m // (kmax - kmin + 1) + 1 sg
        |  FROM keys CROSS JOIN st),
        |counts AS (SELECT sg, count(*) n FROM seg GROUP BY sg),
        |bases AS (SELECT sg, n, sum(n) OVER (ORDER BY sg) - n base FROM counts),
        |ranked AS (SELECT s.sg, s.k,
        |    row_number() OVER (PARTITION BY s.sg ORDER BY s.k) + b.base r
        |  FROM seg s JOIN bases b USING (sg)),
        |mom AS (SELECT sg, count(*) n,
        |    sum(CAST(k AS HUGEINT)) sk,
        |    sum(CAST(r AS HUGEINT)) sr,
        |    sum(CAST(k AS HUGEINT) * r) skr,
        |    sum(CAST(k AS HUGEINT) * k) skk
        |  FROM ranked GROUP BY sg),
        |fit AS (SELECT sg, n,
        |    CAST(n * skr - sk * sr AS DOUBLE) /
        |      CAST(n * skk - sk * sk AS DOUBLE) slope,
        |    (sk::DOUBLE) skd, (sr::DOUBLE) srd
        |  FROM mom),
        |fit2 AS (SELECT sg, n, slope,
        |    (srd - slope * skd) / n::DOUBLE icept FROM fit),
        |err AS (SELECT r.sg, f.n, f.slope, f.icept,
        |    max(abs(r.r::DOUBLE - (f.icept + f.slope * r.k::DOUBLE))) maxerr
        |  FROM ranked r JOIN fit2 f USING (sg) GROUP BY r.sg, f.n, f.slope, f.icept)
        |SELECT sg AS segment, n::BIGINT AS n,
        |  round(slope * 1000000, 6) AS slope_x1e6,
        |  round(maxerr, 6) AS max_abs_err
        |FROM err ORDER BY segment""".stripMargin),
    Query("q389_kendall_w", q389KendallW,
      """WITH nm AS (SELECT c.c_nationkey nk,
        |    year(o.o_orderdate) * 100 + month(o.o_orderdate) ym, count(*) x
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey GROUP BY 1, 2),
        |months AS (SELECT ym FROM (SELECT DISTINCT ym FROM nm) ORDER BY ym LIMIT 12),
        |nations AS (SELECT DISTINCT c_nationkey nk FROM customer),
        |grid AS (SELECT n.nk, m.ym, coalesce(nm.x, 0) x
        |  FROM months m CROSS JOIN nations n
        |  LEFT JOIN nm ON nm.nk = n.nk AND nm.ym = m.ym),
        |ranked AS (SELECT nk, ym,
        |    row_number() OVER (PARTITION BY ym ORDER BY x DESC, nk) r FROM grid),
        |sums AS (SELECT nk, sum(r) ri FROM ranked GROUP BY nk),
        |mn AS (SELECT count(*) n, sum(ri) tot, sum(ri * ri) rss FROM sums)
        |SELECT 12::BIGINT AS m, n::BIGINT AS n,
        |  round(12.0 * (rss - tot * tot / n)::DOUBLE /
        |    (144.0 * (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)), 6) AS w,
        |  round(12.0 * (n::DOUBLE - 1) * 12.0 * (rss - tot * tot / n)::DOUBLE /
        |    (144.0 * (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)), 6) AS chi2
        |FROM mn""".stripMargin),
    Query("q390_gpd_tail_fit", q390GpdTailFit,
      """WITH v AS (SELECT value x FROM events),
        |th AS (SELECT quantile_cont(x, 0.9) u, count(*) nt FROM v),
        |exc AS (SELECT x - u e, u, nt FROM v CROSS JOIN th WHERE x > u),
        |mom AS (SELECT u, nt, count(*) ne,
        |    CAST(sum(CAST(e AS DECIMAL(38,15))) AS DOUBLE) se,
        |    CAST(sum(CAST(e * e AS DECIMAL(38,15))) AS DOUBLE) see
        |  FROM exc GROUP BY u, nt),
        |st AS (SELECT u, nt, ne, se / ne::DOUBLE m,
        |    (see - se * se / ne::DOUBLE) / (ne - 1)::DOUBLE s2
        |  FROM mom),
        |fit AS (SELECT u, ne, m,
        |    0.5 * (1.0 - m * m / s2) xi,
        |    0.5 * m * (1.0 + m * m / s2) beta,
        |    ne::DOUBLE / nt::DOUBLE lam
        |  FROM st)
        |SELECT round(u, 6) AS threshold, ne::BIGINT AS n_exceed,
        |  round(m, 6) AS mean_excess, round(xi, 6) AS xi, round(beta, 6) AS beta,
        |  round(u + beta / xi * (pow(lam / 0.0001, xi) - 1.0), 6)
        |    AS return_level_1e4
        |FROM fit""".stripMargin))
}
