package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.sources.Tables

/** Round-8 wave 5: corpus-growth and graph-structure readouts —
  * Heaps'-law vocabulary growth and degree assortativity.
  */
object Curation35 {

  /** q344: Heaps'-law fit V(N) ≈ K·N^β of vocabulary growth along the
    * ingestion order — the sublinearity exponent that sizes tokenizer
    * vocabularies and predicts new-term rates. Ten checkpoints are
    * integer-arithmetic doc-id thresholds (bit-identical in both
    * engines); V_k and N_k come from a ≤-join against the broadcast
    * 10-row checkpoint frame whose 10× fanout is map-side combined to
    * 10 rows per partition; the log-log OLS runs over the bounded
    * 10-point domain. Nothing is ever per-word state beyond the
    * (word, first_doc) keyed aggregate.
    */
  private val q344HeapsLaw: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val ks = s.range(1, 11).toDF("k")
    val cps = ks.crossJoin(broadcast(bounds))
      .select(col("k"), (col("lo") + (col("hi") - col("lo")) * col("k") / 10)
        .cast(LongType).as("t"))
    val firstDoc = docs
      .select(col("doc_id"), explode(array_distinct(col("ws"))).as("w"))
      .groupBy("w").agg(min(col("doc_id")).as("fd"))
    val vk = firstDoc.join(broadcast(cps), col("fd") <= col("t"))
      .groupBy("k").agg(count(lit(1)).as("v"))
    val nk = docs.select(col("doc_id"), size(col("ws")).cast(LongType).as("nt"))
      .join(broadcast(cps), col("doc_id") <= col("t"))
      .groupBy("k").agg(sum(col("nt")).as("n"))
    val pts = vk.join(nk, "k")
      .select(ln(col("n").cast(DoubleType)).as("x"), ln(col("v").cast(DoubleType)).as("y"))
    pts.agg(count(lit(1)).as("n_points"),
        sum(col("x").cast(DecimalType(30, 15))).cast(DoubleType).as("sx"),
        sum(col("y").cast(DecimalType(30, 15))).cast(DoubleType).as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(30, 15))).cast(DoubleType).as("sxx"),
        sum((col("x") * col("y")).cast(DecimalType(30, 15))).cast(DoubleType).as("sxy"))
      .select(col("n_points"),
        round((col("n_points") * col("sxy") - col("sx") * col("sy")) /
          (col("n_points") * col("sxx") - col("sx") * col("sx")), 6).as("beta"),
        round((col("sy") - ((col("n_points") * col("sxy") - col("sx") * col("sy")) /
          (col("n_points") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n_points"), 6).as("ln_k"))
  }

  /** q345: degree assortativity of the part co-purchase graph (q267's
    * edge set) — does a hub connect to hubs (r > 0) or to the
    * periphery (r < 0)? Distinct directed edges from in-row basket
    * pairs, degrees from one keyed count, and the Pearson moments over
    * edge endpoints are ALL-INTEGER sums (degrees are longs) — exact
    * at any scale, doubles only in the final quotient.
    */
  private val q345DegreeAssortativity: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val edges = li.groupBy("o").agg(collect_set(col("p")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = edges.groupBy("u").agg(count(lit(1)).as("du"))
    val joined = edges
      .join(deg, "u")
      .join(deg.select(col("u").as("v"), col("du").as("dv")), "v")
    // moments stay exact integers; the combination runs in
    // Decimal(38,0) (n·Σxy ≈ 10²¹ overflows Long under ANSI)
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
    joined.agg(count(lit(1)).as("n_edges"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"),
        sum(col("du") * col("dv")).as("sxy"))
      .select(col("n_edges"),
        round((dec(col("n_edges")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy")))
          .cast(DoubleType) /
          (sqrt((dec(col("n_edges")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
            .cast(DoubleType)) *
           sqrt((dec(col("n_edges")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy")))
            .cast(DoubleType))),
          6).as("assortativity"))
  }

  val queries: Seq[Query] = Seq(
    Query("q344_heaps_law", q344HeapsLaw,
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |bounds AS (SELECT min(doc_id) lo, max(doc_id) hi FROM docs),
        |cps AS (SELECT k, (lo + (hi - lo) * k // 10)::BIGINT t
        |  FROM range(1, 11) r(k) CROSS JOIN bounds),
        |fd AS (SELECT w, min(doc_id) fd
        |  FROM (SELECT doc_id, unnest(list_distinct(ws)) w FROM docs) GROUP BY w),
        |vk AS (SELECT k, count(*) v FROM fd JOIN cps ON fd <= t GROUP BY k),
        |nk AS (SELECT k, sum(len(ws))::BIGINT n FROM docs JOIN cps ON doc_id <= t
        |  GROUP BY k),
        |pts AS (SELECT ln(n::DOUBLE) x, ln(v::DOUBLE) y FROM vk JOIN nk USING (k)),
        |m AS (SELECT count(*) np,
        |    CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(30,15))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(x * y AS DECIMAL(30,15))) AS DOUBLE) sxy
        |  FROM pts)
        |SELECT np AS n_points,
        |  round((np * sxy - sx * sy) / (np * sxx - sx * sx), 6) AS beta,
        |  round((sy - ((np * sxy - sx * sy) / (np * sxx - sx * sx)) * sx) / np, 6)
        |    AS ln_k
        |FROM m""".stripMargin),
    Query("q345_degree_assortativity", q345DegreeAssortativity,
      """WITH edges AS (SELECT DISTINCT a.l_partkey u, b.l_partkey v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT u, count(*) du FROM edges GROUP BY u),
        |j AS (SELECT e.u, e.v, da.du, db.du dv FROM edges e
        |  JOIN deg da ON da.u = e.u JOIN deg db ON db.u = e.v),
        |m AS (SELECT count(*) ne, sum(du) sx, sum(dv) sy,
        |    sum(du * du) sxx, sum(dv * dv) syy, sum(du * dv) sxy FROM j)
        |SELECT ne AS n_edges,
        |  round((ne * sxy - sx * sy)::DOUBLE /
        |    (sqrt((ne * sxx - sx * sx)::DOUBLE) *
        |     sqrt((ne * syy - sy * sy)::DOUBLE)), 6) AS assortativity
        |FROM m""".stripMargin))
}
