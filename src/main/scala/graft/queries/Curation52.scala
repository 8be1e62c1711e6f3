package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-9 wave 22: evaluation and index-planning statistics — DeLong
  * AUC confidence intervals, empirical LSH (bands, rows) selection,
  * and O'Brien–Fleming group-sequential monitoring boundaries.
  */
object Curation52 {

  /** q420: DeLong AUC variance and 95% CI — the number a model-gate
    * review needs NEXT to the AUC (q157 reports the point estimate).
    * Scores are quantized to 3 dp, collapsing the corpus to a BOUNDED
    * score-bucket domain (≤ ~2000 buckets for this feature's range)
    * so the cumulative pass is a bounded unpartitioned window — the
    * midrank placement formula is exact on the quantized scores.
    * Placements: V10 (per positive) = fraction of negatives below
    * (+½ ties); V01 symmetric; Var(AUC) = S10/P + S01/Q (DeLong,
    * DeLong & Clarke-Pearson 1988). Integer counts throughout;
    * decimal sums for the moment aggregates.
    */
  private val q420DelongAucCi: Q = (s, d) => {
    val scored = Tables.embeddings(s, d)
      .select((col("label") >= 5).cast("long").as("y"),
        round(element_at(col("embedding"), 1).cast(DoubleType), 3).as("sc"))
    val byS = scored.groupBy("sc")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      .select(col("sc"), col("p"), (col("n") - col("p")).as("q"))
    val w = Window.orderBy("sc") // bounded: ≤~2000 3-dp score buckets
    val cum = byS.select(col("sc"), col("p"), col("q"),
      (sum(col("q")).over(w) - col("q")).as("qBelow"),
      sum(col("p")).over(w).as("pUpTo"))
    val tot = byS.agg(sum(col("p")).as("tp"), sum(col("q")).as("tq"))
    val v = cum.crossJoin(broadcast(tot))
      .select(col("p"), col("q"),
        ((col("qBelow").cast(DoubleType) + lit(0.5) * col("q").cast(DoubleType)) /
          col("tq").cast(DoubleType)).as("v10"),
        (((col("tp") - col("pUpTo")).cast(DoubleType) +
          lit(0.5) * col("p").cast(DoubleType)) /
          col("tp").cast(DoubleType)).as("v01"),
        col("tp"), col("tq"))
    val mom = v.agg(max(col("tp")).as("tp"), max(col("tq")).as("tq"),
      sum(dec(col("p").cast(DoubleType) * col("v10"))).cast(DoubleType).as("s10"),
      sum(dec(col("p").cast(DoubleType) * col("v10") * col("v10")))
        .cast(DoubleType).as("s10sq"),
      sum(dec(col("q").cast(DoubleType) * col("v01") * col("v01")))
        .cast(DoubleType).as("s01sq"))
    mom.select(col("tp").as("n_pos"), col("tq").as("n_neg"),
        (col("s10") / col("tp").cast(DoubleType)).as("auc"),
        col("s10sq"), col("s01sq"), col("tp"), col("tq"))
      .select(col("n_pos"), col("n_neg"), col("auc"),
        (((col("s10sq") - col("tp").cast(DoubleType) * col("auc") * col("auc")) /
          (col("tp").cast(DoubleType) - 1.0)) / col("tp").cast(DoubleType) +
          ((col("s01sq") - col("tq").cast(DoubleType) * col("auc") * col("auc")) /
            (col("tq").cast(DoubleType) - 1.0)) / col("tq").cast(DoubleType))
          .as("varAuc"),
        col("auc").as("a2"))
      .select(col("n_pos"), col("n_neg"), round(col("a2"), 6).as("auc"),
        round(sqrt(col("varAuc")), 6).as("se"),
        round(col("a2") - lit(1.959964) * sqrt(col("varAuc")), 6).as("ci_lo"),
        round(col("a2") + lit(1.959964) * sqrt(col("varAuc")), 6).as("ci_hi"))
  }

  /** q421: empirical LSH (bands, rows) selection for the MinHash
    * dedup stack (q71's knobs): instead of the textbook S-curve at an
    * assumed similarity mix, integrate false-negative and
    * false-positive mass against the CORPUS'S OWN pair-Jaccard
    * histogram — a deterministic 100-doc seeded sample (bounded 4950
    * pairs, the q405 sampling contract), word-3-gram sets, 20
    * similarity bins — for every (b, r) with b·r ≤ 64. Detection at
    * bin midpoint s: 1 − (1 − s^r)^b; FN mass above the 0.8 target,
    * FP mass below. The argmin row is the config the corpus wants.
    */
  private val q421LshPlanner: Q = (s, d) => {
    val sample = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .orderBy(mdHash(concat_ws("|", lit("lshplan"), col("doc_id"))), col("doc_id"))
      .limit(100)
      .select(col("doc_id"), array_distinct(
        transform(sequence(lit(1), greatest(size(col("w")) - 2, lit(1))),
          i => mdHash(concat_ws(" ", slice(col("w"), i, lit(3)))))).as("h"))
    val pairs = sample.select(col("doc_id").as("ia"), col("h").as("ha"))
      .crossJoin(sample.select(col("doc_id").as("ib"), col("h").as("hb")))
      .filter(col("ia") < col("ib"))
      .select((size(array_intersect(col("ha"), col("hb"))).cast(DoubleType) /
        (size(col("ha")) + size(col("hb")) -
          size(array_intersect(col("ha"), col("hb")))).cast(DoubleType)).as("jac"))
    val hist = pairs
      .select(least(floor(col("jac") * 20), lit(19L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    val tot = hist.agg(sum(col("cnt")).as("np"))
    val grid = Seq((4, 2), (4, 4), (6, 4), (8, 2), (8, 3), (8, 4), (8, 6),
      (12, 4), (16, 2), (16, 3), (16, 4), (24, 2), (32, 2))
    import s.implicits._
    val gridDf = grid.toDF("b", "r")
    val scored = hist.crossJoin(broadcast(gridDf)).crossJoin(broadcast(tot))
      .select(col("b"), col("r"), col("cnt"), col("np"),
        ((col("bin").cast(DoubleType) + 0.5) / 20.0).as("sm"))
      .select(col("b"), col("r"),
        (lit(1.0) - pow(lit(1.0) - pow(col("sm"), col("r").cast(DoubleType)),
          col("b").cast(DoubleType))).as("pdet"),
        col("sm"), col("cnt"), col("np"))
      .select(col("b"), col("r"),
        when(col("sm") >= 0.8,
          (lit(1.0) - col("pdet")) * col("cnt").cast(DoubleType) /
            col("np").cast(DoubleType)).otherwise(0.0).as("fn"),
        when(col("sm") < 0.8,
          col("pdet") * col("cnt").cast(DoubleType) /
            col("np").cast(DoubleType)).otherwise(0.0).as("fp"))
      .groupBy("b", "r")
      .agg(round(sum(dec(col("fn"))).cast(DoubleType) * 1000, 6).as("fn_x1000"),
        round(sum(dec(col("fp"))).cast(DoubleType) * 1000, 6).as("fp_x1000"),
        round(sum(dec(col("fn") + col("fp"))).cast(DoubleType) * 1000, 6)
          .as("err_x1000"))
      .orderBy("err_x1000", "b", "r")
    scored
  }

  /** q422: O'Brien–Fleming group-sequential boundaries over 5 interim
    * looks — the peeking-safe monitoring plan q407's fixed-horizon
    * power analysis can't give. Looks are cumulative 6-day windows;
    * per look the two-proportion z between arms (purchase share of
    * events, user_id%2 arms) is compared against the OBF boundary
    * z_k = 2.0403·√(K/k) (the classical K=5, α=.05 two-sided
    * constant, a fixed literal like q407's z's). The corpus collapses
    * to the bounded (arm × day) grid before the 5-look expansion.
    */
  private val q422ObfSequential: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val d0 = ev.agg(min(to_date(col("ts"))).as("d0"))
    val byDay = ev.crossJoin(broadcast(d0))
      .select((col("user_id") % 2).as("arm"),
        datediff(to_date(col("ts")), col("d0")).as("dy"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("cv"))
      .groupBy("arm", "dy").agg(count(lit(1)).as("n"), sum(col("cv")).as("x"))
    import s.implicits._
    val looks = (1 to 5).toDF("look")
    val cum = byDay.crossJoin(broadcast(looks))
      .filter(col("dy") < col("look") * 6)
      .groupBy("look", "arm").agg(sum(col("n")).as("n"), sum(col("x")).as("x"))
    val wide = cum.groupBy("look").agg(
      sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n1"),
      sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("x1"),
      sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n0"),
      sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("x0"))
    wide.select(col("look"), col("n1"), col("n0"),
        ((col("x1") + col("x0")).cast(DoubleType) /
          (col("n1") + col("n0")).cast(DoubleType)).as("pp"),
        (col("x1").cast(DoubleType) / col("n1").cast(DoubleType) -
          col("x0").cast(DoubleType) / col("n0").cast(DoubleType)).as("diff"))
      .select(col("look"), col("n1"), col("n0"),
        (col("diff") / sqrt(col("pp") * (lit(1.0) - col("pp")) *
          (lit(1.0) / col("n1").cast(DoubleType) +
            lit(1.0) / col("n0").cast(DoubleType)))).as("z"),
        (lit(2.0403) * sqrt(lit(5.0) / col("look").cast(DoubleType)))
          .as("bound"))
      .select(col("look"), col("n1"), col("n0"), round(col("z"), 6).as("z"),
        round(col("bound"), 6).as("obf_bound"),
        (abs(col("z")) >= col("bound")).as("crossed"))
      .orderBy("look")
  }

  val queries: Seq[Query] = Seq(
    Query("q420_delong_auc_ci", q420DelongAucCi,
      """WITH scored AS (SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END y,
        |    round(embedding[1]::DOUBLE, 3) sc FROM embeddings),
        |bys AS (SELECT sc, sum(y) p, count(*) - sum(y) q
        |  FROM scored GROUP BY sc),
        |cum AS (SELECT sc, p, q,
        |    sum(q) OVER (ORDER BY sc) - q qBelow,
        |    sum(p) OVER (ORDER BY sc) pUpTo
        |  FROM bys),
        |tot AS (SELECT sum(p) tp, sum(q) tq FROM bys),
        |v AS (SELECT p, q,
        |    (qBelow::DOUBLE + 0.5 * q::DOUBLE) / tq::DOUBLE v10,
        |    ((tp - pUpTo)::DOUBLE + 0.5 * p::DOUBLE) / tp::DOUBLE v01,
        |    tp, tq
        |  FROM cum CROSS JOIN tot),
        |mom AS (SELECT max(tp) tp, max(tq) tq,
        |    CAST(sum(CAST(p::DOUBLE * v10 AS DECIMAL(38,15))) AS DOUBLE) s10,
        |    CAST(sum(CAST(p::DOUBLE * v10 * v10 AS DECIMAL(38,15))) AS DOUBLE) s10sq,
        |    CAST(sum(CAST(q::DOUBLE * v01 * v01 AS DECIMAL(38,15))) AS DOUBLE) s01sq
        |  FROM v),
        |fit AS (SELECT tp, tq, s10 / tp::DOUBLE auc, s10sq, s01sq FROM mom),
        |res AS (SELECT tp n_pos, tq n_neg, auc,
        |    ((s10sq - tp::DOUBLE * auc * auc) / (tp::DOUBLE - 1.0)) / tp::DOUBLE +
        |      ((s01sq - tq::DOUBLE * auc * auc) / (tq::DOUBLE - 1.0)) / tq::DOUBLE
        |      varAuc
        |  FROM fit)
        |SELECT n_pos::BIGINT AS n_pos, n_neg::BIGINT AS n_neg,
        |  round(auc, 6) AS auc, round(sqrt(varAuc), 6) AS se,
        |  round(auc - 1.959964 * sqrt(varAuc), 6) AS ci_lo,
        |  round(auc + 1.959964 * sqrt(varAuc), 6) AS ci_hi
        |FROM res""".stripMargin),
    Query("q421_lsh_planner", q421LshPlanner, {
      val h = mdHashSql("'lshplan|' || doc_id::VARCHAR")
      s"""WITH samp AS (SELECT doc_id, string_split(text, ' ') w FROM documents
        |  ORDER BY $h, doc_id LIMIT 100),
        |sh AS (SELECT doc_id, list_distinct(
        |    [('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT
        |      for i in range(1, greatest(len(w) - 2, 1) + 1)]) h
        |  FROM samp),
        |pairs AS (SELECT len(list_intersect(a.h, b.h))::DOUBLE /
        |    (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h)))::DOUBLE jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |hist AS (SELECT least(floor(jac * 20), 19) bin, count(*) cnt
        |  FROM pairs GROUP BY 1),
        |tot AS (SELECT sum(cnt) np FROM hist),
        |grid AS (SELECT b, r FROM (VALUES (4,2),(4,4),(6,4),(8,2),(8,3),(8,4),
        |    (8,6),(12,4),(16,2),(16,3),(16,4),(24,2),(32,2)) g(b, r)),
        |scored AS (SELECT b, r,
        |    1.0 - pow(1.0 - pow((bin::DOUBLE + 0.5) / 20.0, r::DOUBLE),
        |      b::DOUBLE) pdet,
        |    (bin::DOUBLE + 0.5) / 20.0 sm, cnt, np
        |  FROM hist CROSS JOIN grid CROSS JOIN tot),
        |err AS (SELECT b, r,
        |    CASE WHEN sm >= 0.8 THEN (1.0 - pdet) * cnt::DOUBLE / np::DOUBLE
        |      ELSE 0.0 END fn,
        |    CASE WHEN sm < 0.8 THEN pdet * cnt::DOUBLE / np::DOUBLE
        |      ELSE 0.0 END fp
        |  FROM scored)
        |SELECT b::INT AS b, r::INT AS r,
        |  round(CAST(sum(CAST(fn AS DECIMAL(38,15))) AS DOUBLE) * 1000, 6)
        |    AS fn_x1000,
        |  round(CAST(sum(CAST(fp AS DECIMAL(38,15))) AS DOUBLE) * 1000, 6)
        |    AS fp_x1000,
        |  round(CAST(sum(CAST(fn + fp AS DECIMAL(38,15))) AS DOUBLE) * 1000, 6)
        |    AS err_x1000
        |FROM err GROUP BY b, r ORDER BY err_x1000, b, r""".stripMargin
    }),
    Query("q422_obf_sequential", q422ObfSequential,
      """WITH d0 AS (SELECT min(CAST(ts AS DATE)) d0 FROM events),
        |byday AS (SELECT user_id % 2 arm,
        |    date_diff('day', d0, CAST(ts AS DATE)) dy,
        |    count(*) n,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) x
        |  FROM events CROSS JOIN d0 GROUP BY 1, 2),
        |cum AS (SELECT look, arm, sum(n) n, sum(x) x
        |  FROM byday CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) look)
        |  WHERE dy < look * 6 GROUP BY look, arm),
        |wide AS (SELECT look,
        |    sum(CASE WHEN arm = 1 THEN n ELSE 0 END) n1,
        |    sum(CASE WHEN arm = 1 THEN x ELSE 0 END) x1,
        |    sum(CASE WHEN arm = 0 THEN n ELSE 0 END) n0,
        |    sum(CASE WHEN arm = 0 THEN x ELSE 0 END) x0
        |  FROM cum GROUP BY look),
        |z AS (SELECT look, n1, n0,
        |    (x1::DOUBLE / n1::DOUBLE - x0::DOUBLE / n0::DOUBLE) /
        |      sqrt(((x1 + x0)::DOUBLE / (n1 + n0)::DOUBLE) *
        |        (1.0 - (x1 + x0)::DOUBLE / (n1 + n0)::DOUBLE) *
        |        (1.0 / n1::DOUBLE + 1.0 / n0::DOUBLE)) z,
        |    2.0403 * sqrt(5.0 / look::DOUBLE) bound
        |  FROM wide)
        |SELECT look::INT AS look, n1::BIGINT AS n1, n0::BIGINT AS n0,
        |  round(z, 6) AS z, round(bound, 6) AS obf_bound,
        |  abs(z) >= bound AS crossed
        |FROM z ORDER BY look""".stripMargin))
}
