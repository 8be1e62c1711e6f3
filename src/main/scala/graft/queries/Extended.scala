package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Query}
import graft.operators.Multimodal
import graft.sources.Tables

/** Queries exercising the engine-extension surface: the native
  * LogitExpr/UDAF registrations and the multimodal binary-column
  * pipeline.
  */
object Extended {

  /** Typed-Aggregator UDAF (geometric mean) next to stock aggregates. */
  private val q33Geomean: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("graft_geomean(l_extendedprice)").as("geo_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Count-min sketch UDAF: one mergeable 4×256 sketch over the event
    * page stream, then per-page estimates = min over rows of the
    * page's cells — compared against exact counts. The sketch is
    * deterministic (md5 hash family), so the oracle rebuilds the
    * identical grid from exact counts and the estimates match
    * bit-for-bit.
    */
  private val q115CountMin: Q = (s, d) => {
    import graft.functions.TextFunctions.mdHash
    val ev = Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("long").cast("string").as("page"))
    val sketch = ev.agg(expr("graft_cm_sketch(page)").as("sk"))
    val exact = ev.groupBy("page").agg(count(lit(1)).as("n_exact"))
    val est = (0 until graft.functions.CountMinAgg.depth).map { i =>
      element_at(col("sk"),
        (lit(i * graft.functions.CountMinAgg.width) +
          pmod(mdHash(lit(s"cm$i"), col("page")),
            lit(graft.functions.CountMinAgg.width.toLong))).cast("int") + 1)
    }.reduceLeft(least(_, _))
    exact.crossJoin(broadcast(sketch))
      .select(col("page").cast("long").as("page"), col("n_exact"), est.as("est"))
      .orderBy("page")
  }

  /** Native codegen'd logit expression through the SQL registry. */
  private val q34NativeLogit: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(expr("graft_logit(l_discount + 0.05)"), 6).as("logit_disc"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Multimodal pipeline: binary payload + metadata struct → typed
    * partition-wise decode → per-item features (see operators.Multimodal;
    * decode itself is a deterministic stub, the plumbing is real).
    */
  private val q35Multimodal: Q = (s, d) => {
    val feats = Multimodal.decodeFeatures(
      Multimodal.mediaFromDocuments(Tables.documents(s, d)))
    feats.toDF()
      .select(
        col("id"), col("source"),
        col("nBytes").as("n_bytes"),
        col("checksum"),
        col("frameHex").as("frame_hex"),
        col("width"), col("height"))
      .orderBy("id")
  }

  /** ASCII-only media subset: byte index == char index, so the DuckDB
    * oracle can reproduce byte-level sampling with char substr. The
    * kernels themselves are byte-based and encoding-agnostic.
    */
  private def asciiMedia(s: org.apache.spark.sql.SparkSession, d: String) =
    Multimodal.mediaFromDocuments(
      Tables.documents(s, d).filter(
        col("doc_id") < 300 &&
          octet_length(col("text")) === length(col("text")) &&
          length(col("text")) > 0))

  /** Multimodal nearest-neighbor resize: 8×6 thumbnail raster sampled
    * from the (fake) width×height payload raster; checksum of the
    * resampled bytes is oracle-verified.
    */
  private val q83MultimodalResize: Q = (s, d) =>
    Multimodal.resizeNearest(asciiMedia(s, d), 8, 6).toDF()
      .select(col("id"), col("outW").as("out_w"), col("outH").as("out_h"),
        col("nBytes").as("n_bytes"), col("checksum"))
      .orderBy("id")

  /** Multimodal frame sampling: 32-byte frames, every 3rd kept;
    * counts + sampled-bytes checksum oracle-verified.
    */
  private val q84MultimodalFrameSample: Q = (s, d) =>
    Multimodal.frameSample(asciiMedia(s, d), 32, 3).toDF()
      .select(col("id"), col("nFrames").as("n_frames"),
        col("nSampled").as("n_sampled"), col("checksum"))
      .orderBy("id")

  /** Custom Generator (UDTF) through the SQL surface: text → shingle
    * rows → top-15 histogram.
    */
  private val q36CustomGenerator: Q = (s, d) => {
    Tables.documents(s, d).createOrReplaceTempView("documents_v")
    s.sql(
      """SELECT shingle, count(*) AS n FROM (
        |  SELECT explode_shingles(text, 3) AS shingle FROM documents_v)
        |GROUP BY shingle ORDER BY n DESC, shingle ASC LIMIT 15""".stripMargin)
  }

  val queries: Seq[Query] = Seq(
    Query("q115_count_min", q115CountMin,
      """WITH pages AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT)::VARCHAR AS page
        |  FROM events),
        |exact AS (SELECT page, count(*) AS n_exact FROM pages GROUP BY page),
        |h AS (SELECT page, i,
        |    ('0x' || substr(md5('cm' || i || '|' || page), 1, 15))::BIGINT % 256 AS b
        |  FROM exact, range(0, 4) t(i)),
        |cells AS (SELECT i, b, sum(n_exact) AS cell
        |  FROM h JOIN exact USING (page) GROUP BY i, b),
        |est AS (SELECT h.page, min(c.cell)::BIGINT AS est
        |  FROM h JOIN cells c ON h.i = c.i AND h.b = c.b GROUP BY h.page)
        |SELECT CAST(e.page AS BIGINT) AS page, e.n_exact, est.est
        |FROM exact e JOIN est USING (page) ORDER BY page""".stripMargin),
    Query("q36_custom_generator", q36CustomGenerator,
      """WITH t AS (SELECT str_split(text, ' ') w FROM documents),
        |sh AS (SELECT unnest([array_to_string(w[i:i+2], ' ')
        |    for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS shingle FROM t)
        |SELECT shingle, count(*) AS n FROM sh
        |GROUP BY shingle ORDER BY n DESC, shingle ASC LIMIT 15""".stripMargin),
    Query("q33_udaf_geomean", q33Geomean,
      """SELECT l_returnflag, exp(avg(ln(l_extendedprice))) AS geo_price, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q34_native_logit", q34NativeLogit,
      """SELECT l_orderkey, l_linenumber,
        |  round(ln((l_discount + 0.05) / (1.0 - (l_discount + 0.05))), 6) AS logit_disc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q83_multimodal_resize", q83MultimodalResize,
      """WITH t AS (SELECT doc_id AS id, text,
        |    ((doc_id % 8) * 160 + 320)::INT AS w,
        |    ((doc_id % 8) * 90 + 180)::INT AS h,
        |    length(text) AS len
        |  FROM documents
        |  WHERE doc_id < 300 AND octet_length(encode(text)) = length(text)
        |    AND length(text) > 0),
        |px AS (SELECT id,
        |    array_to_string([substr(text,
        |        ((((i // 8) * h) // 6) * w + (((i % 8) * w) // 8)) % len + 1, 1)
        |      for i in range(0, 48)], '') AS out
        |  FROM t)
        |SELECT id, 8 AS out_w, 6 AS out_h, 48 AS n_bytes,
        |  ('0x' || substr(md5(out), 1, 15))::BIGINT AS checksum
        |FROM px ORDER BY id""".stripMargin),
    Query("q84_multimodal_frame_sample", q84MultimodalFrameSample,
      """WITH t AS (SELECT doc_id AS id, text, length(text) AS len
        |  FROM documents
        |  WHERE doc_id < 300 AND octet_length(encode(text)) = length(text)
        |    AND length(text) > 0),
        |fr AS (SELECT id, ((len + 31) // 32)::INT AS n_frames,
        |    array_to_string([substr(text, f * 32 + 1, 32)
        |      for f in range(0, ((len + 31) // 32)) if f % 3 = 0], '') AS samp
        |  FROM t)
        |SELECT id, n_frames, ((n_frames + 2) // 3)::INT AS n_sampled,
        |  ('0x' || substr(md5(samp), 1, 15))::BIGINT AS checksum
        |FROM fr ORDER BY id""".stripMargin),
    Query("q35_multimodal_decode", q35Multimodal,
      """SELECT doc_id AS id, source,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS checksum,
        |  upper(hex(encode(substr(text, 1, 16)))) AS frame_hex,
        |  ((doc_id % 8) * 160 + 320)::INT AS width,
        |  ((doc_id % 8) * 90 + 180)::INT AS height
        |FROM documents ORDER BY id""".stripMargin))
}
