package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.operators.Materialize
import graft.sources.Tables

/** Round-5 wave 3: graph structure metrics, inference batching,
  * late-interaction retrieval, and feature standardization.
  */
object Curation7 {

  import graft.functions.TextFunctions.words

  /** Distributed triangle counting with degree-ordered orientation —
    * the classic trick that makes triangle enumeration feasible on
    * power-law graphs: orient every undirected edge from its
    * (degree, id)-smaller endpoint to the larger, so each triangle is
    * enumerated exactly once and every join fan-out is bounded by
    * out-degree ≤ O(√m) instead of max-degree. Path join + closure
    * semi-check are plain equi-joins; the oriented edge list is
    * spilled once and read by all three join legs. Also reports the
    * global clustering coefficient (3·triangles / wedges).
    * Graph: deterministic projection of lineitem onto 300 nodes.
    */
  private val q191TriangleCount: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 300).as("ka"), (col("l_partkey") % 300).as("kb"))
    val e = li.filter(col("ka") =!= col("kb"))
      .select(least(col("ka"), col("kb")).as("a"), greatest(col("ka"), col("kb")).as("b"))
      .distinct()
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("dg").as("db")), "b")
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val o = Materialize.spillRelease(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("x"),
      when(aFirst, col("b")).otherwise(col("a")).as("y")))
    val paths = o.as("e1").join(o.as("e2"), col("e1.y") === col("e2.x"))
      .select(col("e1.x").as("px"), col("e2.y").as("pz"))
    val tri = paths.join(o.as("e3"),
        col("px") === col("e3.x") && col("pz") === col("e3.y"))
      .agg(count(lit(1)).as("t"))
    val wed = deg.agg(sum(col("dg") * (col("dg") - 1)).as("w2"))
    val ne = e.agg(count(lit(1)).as("ne"))
    tri.crossJoin(broadcast(wed)).crossJoin(broadcast(ne))
      .select(col("ne").as("n_edges"), expr("w2 DIV 2").as("n_wedges"),
        col("t").as("n_triangles"),
        round(lit(3.0) * col("t") / (col("w2").cast(DoubleType) / 2.0), 6)
          .as("clustering"))
  }

  /** Length-bucketed inference batching: documents are bucketed by
    * token-length band (16-token bands), batched 16-at-a-time inside
    * each bucket, and the padding waste (batch-max minus actual
    * length, the tokens a serving engine pads and throws away) is
    * accounted per bucket. Per-bucket windows only — buckets are the
    * parallelism unit at any corpus size.
    */
  private val q192LengthBatching: Q = (s, d) => {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), size(words(col("text"))).cast(LongType).as("n_tok"))
    val b = t.withColumn("bucket", expr("n_tok DIV 16"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("bucket").orderBy("doc_id")))
      .withColumn("batch", expr("(rn - 1) DIV 16"))
    b.groupBy("bucket", "batch")
      .agg(count(lit(1)).as("n_in_batch"), max(col("n_tok")).as("mx"),
        sum(col("n_tok")).as("tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_batches"), sum(col("n_in_batch")).as("n_docs"),
        sum(col("mx") * col("n_in_batch") - col("tok")).as("pad_tokens"),
        sum(col("mx") * col("n_in_batch")).as("slot_tokens"))
      .orderBy("bucket")
  }

  /** Late-interaction retrieval (the ColBERT MaxSim shape): documents
    * and queries are bags of 8 sub-vectors; score(q, x) =
    * Σ over query sub-vectors of the max dot product against any
    * document sub-vector. The query bag broadcasts; the corpus side is
    * map-only dot products plus two partial-aggregable reductions
    * (max per query token, DECIMAL sum per pair) and a per-query
    * top-3 — no corpus self-join, no full-vector shuffle.
    */
  private val q193MaxsimSearch: Q = (s, d) => {
    // spread the single-row-group embedding scan: the crossJoin + 8-dim
    // dot kernel otherwise runs as one 2.2 s task (Kernels.fanOut)
    val e = graft.operators.Kernels.fanOut(Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("e")))
    val sub = e
      .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("s"), col("e"))
      .select(col("vec_id"), col("s"), slice(col("e"), col("s") * 8 + 1, lit(8)).as("v"))
    val qs = sub.filter(col("vec_id") % 100 === 7 && col("vec_id") < 1000)
      .select(col("vec_id").as("q_id"), col("s").as("qi"), col("v").as("qv"))
    val xs = sub.filter(!(col("vec_id") % 100 === 7 && col("vec_id") < 1000))
      .select(col("vec_id").as("x_id"), col("v").as("xv"))
    val dot = aggregate(zip_with(col("qv"), col("xv"), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val sc = xs.crossJoin(broadcast(qs))
      .select(col("q_id"), col("x_id"), col("qi"), dot.as("dp"))
      .groupBy("q_id", "x_id", "qi").agg(max(col("dp")).as("mx"))
      .groupBy("q_id", "x_id")
      .agg(sum(col("mx").cast(DecimalType(25, 12))).as("score"))
    sc.withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("x_id"))))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("x_id"),
        round(col("score").cast(DoubleType), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** Feature standardization (z-score scaling): per-dimension mean and
    * sample stddev over the corpus (64 stat rows — a broadcastable
    * model, the fit step), then every vector is scaled and the scaled
    * column is re-aggregated to PROVE the contract — mean 0 within
    * 1e-9, stddev 1 within 1e-6 per dimension (the q148 bounds-boolean
    * pattern for float-valued contracts). Two aggregation passes and
    * one broadcast join; nothing is driver-side.
    */
  private val q194FeatureScaling: Q = (s, d) => {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(transform(col("embedding"), v => v.cast(DoubleType)))
          .as(Seq("dim", "val")))
    val st = x.groupBy("dim")
      .agg(avg(col("val")).as("mu"), stddev_samp(col("val")).as("sd"))
    x.join(broadcast(st), "dim")
      .select(col("dim"), col("mu"), col("sd"),
        ((col("val") - col("mu")) / col("sd")).as("zv"))
      .groupBy("dim")
      .agg(round(max(col("mu")), 6).as("mean_raw"),
        round(max(col("sd")), 6).as("std_raw"),
        (abs(avg(col("zv"))) < 1e-9).as("centered_ok"),
        (abs(stddev_samp(col("zv")) - 1.0) < 1e-6).as("unit_ok"))
      .orderBy("dim")
  }

  val queries: Seq[Query] = Seq(
    Query("q191_triangle_count", q191TriangleCount,
      """WITH e AS (SELECT DISTINCT least(l_orderkey % 300, l_partkey % 300) a,
        |    greatest(l_orderkey % 300, l_partkey % 300) b
        |  FROM lineitem WHERE l_orderkey % 300 <> l_partkey % 300),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) dg FROM (
        |    SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
        |o AS (SELECT CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.a ELSE e.b END x,
        |             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.b ELSE e.a END y
        |      FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
        |tri AS (SELECT count(*) t FROM o e1 JOIN o e2 ON e2.x = e1.y
        |        JOIN o e3 ON e3.x = e1.x AND e3.y = e2.y),
        |w AS (SELECT CAST(sum(dg * (dg - 1)) AS BIGINT) w2 FROM deg)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) n_edges,
        |  w.w2 // 2 AS n_wedges, CAST(tri.t AS BIGINT) n_triangles,
        |  round(3.0 * tri.t / (CAST(w.w2 AS DOUBLE) / 2.0), 6) AS clustering
        |FROM tri, w""".stripMargin),
    Query("q192_length_batching", q192LengthBatching,
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) n_tok FROM documents),
        |b AS (SELECT doc_id, n_tok, CAST(n_tok // 16 AS BIGINT) AS bucket,
        |  row_number() OVER (PARTITION BY n_tok // 16 ORDER BY doc_id) rn FROM t),
        |m AS (SELECT bucket, CAST((rn - 1) // 16 AS BIGINT) AS batch, n_tok FROM b),
        |g AS (SELECT bucket, batch, count(*) n_in_batch, max(n_tok) mx,
        |    CAST(sum(n_tok) AS BIGINT) tok FROM m GROUP BY 1, 2)
        |SELECT bucket, count(*) AS n_batches,
        |  CAST(sum(n_in_batch) AS BIGINT) AS n_docs,
        |  CAST(sum(mx * n_in_batch - tok) AS BIGINT) AS pad_tokens,
        |  CAST(sum(mx * n_in_batch) AS BIGINT) AS slot_tokens
        |FROM g GROUP BY bucket ORDER BY bucket""".stripMargin),
    Query("q193_maxsim_search", q193MaxsimSearch,
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) e FROM embeddings),
        |sub AS (SELECT vec_id, s, e[s*8+1 : s*8+8] AS sv
        |  FROM v, (SELECT unnest(range(0, 8)) s) ss),
        |qs AS (SELECT vec_id q_id, s qi, sv qv FROM sub WHERE vec_id % 100 = 7 AND vec_id < 1000),
        |xs AS (SELECT vec_id x_id, sv xv FROM sub WHERE NOT (vec_id % 100 = 7 AND vec_id < 1000)),
        |dots AS (SELECT q_id, x_id, qi,
        |    max(list_sum([qv[i] * xv[i] for i in range(1, 9)])) mx
        |  FROM qs JOIN xs ON TRUE GROUP BY q_id, x_id, qi),
        |sc AS (SELECT q_id, x_id, sum(CAST(mx AS DECIMAL(25,12))) score
        |  FROM dots GROUP BY 1, 2),
        |rk AS (SELECT q_id, x_id, score,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, x_id) rnk FROM sc)
        |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, x_id,
        |  round(CAST(score AS DOUBLE), 6) AS score
        |FROM rk WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin),
    Query("q194_feature_scaling", q194FeatureScaling,
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) e FROM embeddings),
        |x AS (SELECT vec_id, p AS dim, e[p + 1] AS val
        |  FROM v, unnest(range(0, 64)) AS u(p)),
        |st AS (SELECT dim, avg(val) mu, stddev_samp(val) sd FROM x GROUP BY dim),
        |z AS (SELECT x.dim, mu, sd, (val - mu) / sd AS zv FROM x JOIN st USING (dim))
        |SELECT CAST(dim AS BIGINT) AS dim,
        |  round(max(mu), 6) AS mean_raw, round(max(sd), 6) AS std_raw,
        |  (abs(avg(zv)) < 1e-9) AS centered_ok,
        |  (abs(stddev_samp(zv) - 1.0) < 1e-6) AS unit_ok
        |FROM z GROUP BY dim ORDER BY dim""".stripMargin))
}
