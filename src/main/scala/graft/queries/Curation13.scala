package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, mdHashSql, words}
import graft.operators.Materialize
import graft.sources.Tables

/** Round-5 wave 9: reciprocal-rank fusion, join-key skew profiling,
  * Kneser-Ney bigram smoothing, Johnson-Lindenstrauss projection, and
  * SCD2 validity-interval construction.
  */
object Curation13 {

  /** Reciprocal-rank fusion of two retrieval rankings (term-frequency
    * and length) — the standard hybrid-search merge. Each ranking is a
    * native sort-limit top-100 (TakeOrderedAndProject, never a corpus
    * window); ranks are assigned by a window over the bounded candidate
    * list only, and the fusion is a full outer join of two 100-row
    * frames. Absent ranks read as 0 so the output is null-free.
    */
  private val q225RrfFusion: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
      size(filter(split(col("text"), " "), w => w === lit("join"))).as("tf"))
    val wa = Window.orderBy(col("tf").desc, col("doc_id"))
    val ra = docs.orderBy(col("tf").desc, col("doc_id")).limit(100)
      .withColumn("ra", row_number().over(wa))
      .select(col("doc_id"), col("ra").cast(LongType).as("ra"))
    val wb = Window.orderBy(col("n_chars").desc, col("doc_id"))
    val rb = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(100)
      .withColumn("rb", row_number().over(wb))
      .select(col("doc_id").as("db"), col("rb").cast(LongType).as("rb"))
    ra.join(rb, col("doc_id") === col("db"), "full")
      .select(coalesce(col("doc_id"), col("db")).as("doc_id"),
        coalesce(col("ra"), lit(0L)).as("rank_tf"),
        coalesce(col("rb"), lit(0L)).as("rank_len"))
      .withColumn("rrf",
        when(col("rank_tf") > 0, lit(1.0) / (col("rank_tf") + 60)).otherwise(lit(0.0)) +
        when(col("rank_len") > 0, lit(1.0) / (col("rank_len") + 60)).otherwise(lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("rank_tf"), col("rank_len"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** Join-key skew profile — the diagnostic a planner (or an engineer
    * sizing a salted join) reads before shuffling on a key. Everything
    * derives from the count-of-counts table: two partial-aggregable
    * aggregations collapse the corpus to |distinct frequency| rows, and
    * the exact Gini coefficient falls out of integer sums over that
    * tiny frame (grouped-rank identity Σᵢi·xᵢ = Σⱼ cⱼmⱼ(2cumNⱼ−mⱼ+1)/2)
    * — no per-key window ever runs.
    */
  private val q226SkewProfile: Q = (s, d) => {
    val kc = Tables.orders(s, d).groupBy("o_custkey").agg(count(lit(1)).as("c"))
    val coc = kc.groupBy("c").agg(count(lit(1)).as("m"))
    val w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = coc.withColumn("cumN", sum(col("m")).over(w))
    val tot = coc.agg(sum(col("m")).as("nk"), sum(col("c") * col("m")).as("nr"))
    cum.crossJoin(broadcast(tot))
      .agg(max(col("nk")).as("n_keys"), max(col("nr")).as("n_rows"),
        max(col("c")).as("max_freq"),
        min(when(col("cumN") * 2 >= col("nk"), col("c"))).as("p50_freq"),
        min(when(col("cumN") * 10 >= col("nk") * 9, col("c"))).as("p90_freq"),
        sum(col("c") * col("m") * (lit(2) * col("cumN") - col("m") + 1)).as("ssum"))
      .select(col("n_keys"), col("n_rows"), col("max_freq"),
        col("p50_freq"), col("p90_freq"),
        round(col("max_freq").cast(DoubleType) / col("n_rows"), 6).as("top1_share"),
        round(col("ssum").cast(DoubleType) /
            (col("n_keys").cast(DoubleType) * col("n_rows")) -
          (col("n_keys") + 1).cast(DoubleType) / col("n_keys"), 6).as("gini"))
  }

  /** Interpolated Kneser-Ney bigram probabilities (D = 0.75) for the
    * ten most frequent bigrams. The three model tables (context counts
    * + fertilities, continuation counts, type total) all derive from
    * ONE shared distinct-bigram aggregate — reused via persist, so the
    * corpus tokenizes once; the probe set is a native sort-limit. At
    * scale every piece is a keyed partial-aggregable shuffle of the
    * bigram-type table, never of raw tokens.
    */
  private val q227KneserNey: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val bigrams = docs.select(explode(transform(sequence(lit(2), size(col("w"))), i =>
        struct(element_at(col("w"), i - 1).as("w1"),
          element_at(col("w"), i).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bc = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c")).persist()
    val ctx = bc.groupBy("w1").agg(sum(col("c")).as("cw1"), count(lit(1)).as("fert"))
    val cont = bc.groupBy("w2").agg(count(lit(1)).as("ccont"))
    val tt = bc.agg(count(lit(1)).as("tt"))
    val out = bc.orderBy(col("c").desc, col("w1"), col("w2")).limit(10)
      .join(ctx, "w1").join(cont, "w2").crossJoin(broadcast(tt))
      .select(col("w1"), col("w2"), col("c"),
        round(greatest(col("c") - 0.75, lit(0.0)) / col("cw1") +
          lit(0.75) * col("fert") / col("cw1") *
            (col("ccont").cast(DoubleType) / col("tt")), 6).as("pkn"))
      .orderBy(col("c").desc, col("w1"), col("w2"))
    Materialize.spillRelease(out, bc)
  }

  /** Sparse Johnson-Lindenstrauss projection (Achlioptas ±1/0 with
    * s = 3) from 64 to 16 dimensions, with the distance-preservation
    * audit. The projection matrix is GENERATED — a pure hash of (k,j),
    * assembled once into a broadcast single-row frame — so nothing is
    * fit, shipped, or stored; each row projects with 16 in-row dots and
    * the norm-ratio profile is one partial-aggregable rollup per label.
    */
  private val q228JlProjection: Q = (s, d) => {
    val scale = math.sqrt(3.0 / 16)
    val pm = s.range(16).select(col("id").as("k"))
      .crossJoin(s.range(64).select(col("id").as("j")))
      .withColumn("h", mdHash(concat(lit("jl|"), col("k").cast("string"),
        lit("|"), col("j").cast("string"))) % 6)
      .withColumn("v", when(col("h") === 0, 1.0).when(col("h") === 1, -1.0)
        .otherwise(0.0))
      .groupBy("k")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("v")))),
        t => t.getField("v")).as("r"))
      .agg(transform(array_sort(collect_list(struct(col("k"), col("r")))),
        t => t.getField("r")).as("pm"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      .crossJoin(broadcast(pm))
      .withColumn("y", transform(col("pm"), r =>
        round(aggregate(zip_with(col("v"), r, (a, b) => a * b), lit(0.0),
          (ac, x) => ac + x) * lit(scale), 9)))
      .withColumn("ratio", round(
        sqrt(aggregate(col("y"), lit(0.0), (a, x) => a + x * x)) /
        sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)), 6))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sum(col("ratio").cast(DecimalType(12, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_ratio"),
        round(min(col("ratio")), 6).as("min_ratio"),
        round(max(col("ratio")), 6).as("max_ratio"))
      .orderBy("label")
  }

  /** SCD2 validity intervals: per-user attribute history (value
    * kilobucket) compressed into [valid_from, valid_to) segments by the
    * lag-change / running-segment-id construction. Both windows are
    * PARTITIONED BY user — per-entity state never crosses executors —
    * and the final rollup is a tiny keyed aggregation, so the build
    * parallelizes by entity exactly as a warehouse dimension load must.
    */
  private val q229Scd2Intervals: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts"),
      floor(col("value") / 100).cast(LongType).as("attr"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seg = ev
      .withColumn("is_start", when(lag(col("attr"), 1).over(w).isNull ||
        lag(col("attr"), 1).over(w) =!= col("attr"), 1).otherwise(0))
      .withColumn("seg_id", sum(col("is_start")).over(wr))
    val segs = seg.groupBy(col("user_id"), col("seg_id"), col("attr"))
      .agg(min(col("ts")).as("vfrom"), count(lit(1)).as("n_ev"))
    val w2 = Window.partitionBy("user_id").orderBy("seg_id")
    val iv = segs.withColumn("vto", lead(col("vfrom"), 1).over(w2))
    iv.groupBy("attr")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("vto").isNotNull, 1L).otherwise(0L)).as("n_closed"),
        sum(when(col("vto").isNotNull,
          datediff(to_date(col("vto")), to_date(col("vfrom"))).cast(LongType))
          .otherwise(0L)).as("sd"),
        sum(col("user_id") * col("seg_id")).as("checksum"),
        max(col("n_ev")).as("max_events"))
      .select(col("attr"), col("n_segments"), col("n_closed"),
        when(col("n_closed") > 0,
          round(col("sd").cast(DoubleType) / col("n_closed"), 6)).as("avg_days"),
        col("checksum"), col("max_events"))
      .orderBy("attr")
  }

  val queries: Seq[Query] = Seq(
    Query("q225_rrf_fusion", q225RrfFusion,
      """WITH docs AS (SELECT doc_id, n_chars,
        |    len(list_filter(string_split(text, ' '), w -> w = 'join')) tf
        |  FROM documents),
        |ra AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS BIGINT) ra
        |  FROM docs ORDER BY tf DESC, doc_id LIMIT 100),
        |rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) rb
        |  FROM docs ORDER BY n_chars DESC, doc_id LIMIT 100),
        |f AS (SELECT coalesce(ra.doc_id, rb.doc_id) doc_id,
        |    coalesce(ra, 0) rank_tf, coalesce(rb, 0) rank_len,
        |    (CASE WHEN coalesce(ra, 0) > 0 THEN 1.0 / (ra + 60) ELSE 0.0 END) +
        |    (CASE WHEN coalesce(rb, 0) > 0 THEN 1.0 / (rb + 60) ELSE 0.0 END) rrf
        |  FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id)
        |SELECT doc_id, rank_tf, rank_len, round(rrf, 6) rrf
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    Query("q226_skew_profile", q226SkewProfile,
      """WITH kc AS (SELECT o_custkey, count(*) c FROM orders GROUP BY o_custkey),
        |coc AS (SELECT c, count(*) m FROM kc GROUP BY c),
        |cum AS (SELECT c, m, sum(m) OVER (ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cumN FROM coc),
        |tot AS (SELECT sum(m) nk, sum(c * m) nr FROM coc),
        |st AS (SELECT max(nk) n_keys, max(nr) n_rows, max(c) max_freq,
        |    min(CASE WHEN cumN * 2 >= nk THEN c END) p50_freq,
        |    min(CASE WHEN cumN * 10 >= nk * 9 THEN c END) p90_freq,
        |    sum(c * m * (2 * cumN - m + 1)) ssum
        |  FROM cum, tot)
        |SELECT CAST(n_keys AS BIGINT) n_keys, CAST(n_rows AS BIGINT) n_rows,
        |  CAST(max_freq AS BIGINT) max_freq, CAST(p50_freq AS BIGINT) p50_freq,
        |  CAST(p90_freq AS BIGINT) p90_freq,
        |  round(CAST(max_freq AS DOUBLE) / n_rows, 6) top1_share,
        |  round(CAST(ssum AS DOUBLE) / (CAST(n_keys AS DOUBLE) * n_rows)
        |    - CAST(n_keys + 1 AS DOUBLE) / n_keys, 6) gini
        |FROM st""".stripMargin),
    Query("q227_kneser_ney", q227KneserNey,
      """WITH t AS (SELECT str_split(text, ' ') w FROM documents
        |  WHERE len(str_split(text, ' ')) >= 2),
        |bg AS (SELECT w[i - 1] w1, w[i] w2
        |  FROM (SELECT w, unnest(generate_series(2, len(w))) i FROM t)),
        |bc AS (SELECT w1, w2, count(*) c FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c) cw1, count(*) fert FROM bc GROUP BY 1),
        |cont AS (SELECT w2, count(*) ccont FROM bc GROUP BY 1),
        |tt AS (SELECT count(*) tt FROM bc),
        |probe AS (SELECT * FROM bc ORDER BY c DESC, w1, w2 LIMIT 10)
        |SELECT w1, w2, CAST(c AS BIGINT) c,
        |  round(greatest(c - 0.75, 0) / cw1 + 0.75 * fert / cw1 *
        |    (CAST(ccont AS DOUBLE) / tt), 6) pkn
        |FROM probe JOIN ctx USING (w1) JOIN cont USING (w2), tt
        |ORDER BY c DESC, w1, w2""".stripMargin),
    Query("q228_jl_projection", q228JlProjection,
      s"""WITH cells AS (SELECT k, j,
         |    ${mdHashSql("'jl|' || k || '|' || j")} % 6 h
         |  FROM (SELECT unnest(generate_series(0, 15)) k),
         |    (SELECT unnest(generate_series(0, 63)) j)),
         |rows_ AS (SELECT k, list(CASE WHEN h = 0 THEN 1.0 WHEN h = 1 THEN -1.0
         |    ELSE 0.0 END ORDER BY j) r FROM cells GROUP BY k),
         |pm AS (SELECT list(r ORDER BY k) pm FROM rows_),
         |e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
         |pj AS (SELECT label,
         |    [round(list_dot_product(v, pm[k]) * sqrt(0.1875), 9)
         |      for k in range(1, 17)] y, v
         |  FROM e, pm),
         |rt AS (SELECT label,
         |    round(sqrt(list_sum(list_transform(y, x -> x * x))) /
         |      sqrt(list_sum(list_transform(v, x -> x * x))), 6) ratio
         |  FROM pj)
         |SELECT label, CAST(count(*) AS BIGINT) n,
         |  round(CAST(sum(CAST(ratio AS DECIMAL(12,6))) AS DOUBLE) / count(*), 6)
         |    mean_ratio,
         |  round(min(ratio), 6) min_ratio, round(max(ratio), 6) max_ratio
         |FROM rt GROUP BY label ORDER BY label""".stripMargin),
    Query("q229_scd2_intervals", q229Scd2Intervals,
      """WITH ev AS (SELECT user_id, event_id, ts,
        |    CAST(floor(value / 100) AS BIGINT) attr FROM events),
        |seg AS (SELECT *, CASE WHEN lag(attr) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) IS DISTINCT FROM attr
        |    THEN 1 ELSE 0 END is_start FROM ev),
        |seg2 AS (SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) seg_id FROM seg),
        |segs AS (SELECT user_id, seg_id, attr, min(ts) vfrom, count(*) n_ev
        |  FROM seg2 GROUP BY 1, 2, 3),
        |iv AS (SELECT *, lead(vfrom) OVER (PARTITION BY user_id ORDER BY seg_id) vto
        |  FROM segs)
        |SELECT attr, CAST(count(*) AS BIGINT) n_segments,
        |  CAST(sum(CASE WHEN vto IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_closed,
        |  CASE WHEN sum(CASE WHEN vto IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN
        |    round(CAST(sum(CASE WHEN vto IS NOT NULL THEN
        |        date_diff('day', CAST(vfrom AS DATE), CAST(vto AS DATE))
        |      ELSE 0 END) AS DOUBLE)
        |      / sum(CASE WHEN vto IS NOT NULL THEN 1 ELSE 0 END), 6) END avg_days,
        |  CAST(sum(user_id * seg_id) AS BIGINT) checksum,
        |  CAST(max(n_ev) AS BIGINT) max_events
        |FROM iv GROUP BY attr ORDER BY attr""".stripMargin))
}
