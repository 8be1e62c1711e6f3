package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.sources.Tables

/** Round-7 wave 9: per-label embedding centroids with inter-centroid
  * similarity, oracle-checked streaming session windows, a multimodal
  * image channel-statistics kernel face, bounded k-core peeling, and
  * per-source winsorization.
  */
object Curation27 {

  /** q309: per-label embedding centroid (decimal-exact coordinate sums,
    * the q100 k-means discipline) and the pairwise cosine between label
    * centroids — the class-separation readout an embedding-quality
    * review starts from. Corpus work is one posexplode + keyed agg; the
    * pair matrix lives on the bounded |labels|² domain.
    */
  private val q309LabelCentroids: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val cells = e.select(col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        col("x").cast(DoubleType).cast(DecimalType(30, 12)).as("xd"))
    val cent = cells.groupBy("label", "pos")
      .agg(round(sum(col("xd")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 9).as("coord"))
    val vecs = cent.groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("coord")))),
        t => t.getField("coord")).as("v"))
    val a = vecs.select(col("label").as("l1"), col("v").as("va"))
    val b = vecs.select(col("label").as("l2"), col("v").as("vb"))
    a.join(b, col("l1") < col("l2"))
      .select(col("l1"), col("l2"),
        round(graft.functions.GraftFunctions.dotNative(col("va"), col("vb")) /
          sqrt(graft.functions.GraftFunctions.normSqNative(col("va")) *
            graft.functions.GraftFunctions.normSqNative(col("vb"))), 6).as("cos"))
      .orderBy("l1", "l2")
  }

  /** q310: session windows through the REAL streaming engine (30-minute
    * inactivity gap per user), reduced to an engine-exact per-user
    * summary. A single AvailableNow micro-batch over the parquet source
    * means no session is split by a batch boundary, so the streaming
    * result is batch-identical — which the gaps-and-islands oracle
    * checks.
    */
  private val q310StreamSession: Q = (s, d) => {
    val stream = graft.streaming.StreamingOps.readEventStream(s, d)
    val sessions = Curation18.runStream(
      graft.streaming.StreamingOps.sessionCounts(stream, "30 minutes", "1 minute"),
      "complete")
    sessions.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"),
        min(col("session_start")).as("first_session_start"))
      .orderBy("user_id")
  }

  /** q311: interleaved-channel byte statistics over the multimodal
    * payload (position mod 3 = R/G/B of a raw frame) — integer count /
    * sum / sum-of-squares per (source, channel) from one partition-wise
    * kernel pass, exact in any partitioning; mean and a population std
    * from the integer sums with one double division each.
    *
    * ORACLE CONTRACT (ASCII corpus): channelStats consumes UTF-8 BYTES
    * (`text.cast(binary)`) while the DuckDB oracle reads `ord(text[i])`
    * per CHARACTER — identical only while the synthetic documents.text
    * is pure ASCII (the data-contract canary pins that). A non-ASCII
    * corpus would shift channel assignment; if the corpus ever changes,
    * re-encode the oracle over bytes (DuckDB `encode(text)`), same
    * convention as the q280/q292 byte oracles in Curation23/24.
    */
  private val q311ImageChannels: Q = (s, d) => {
    val media = graft.operators.Multimodal
      .mediaFromDocuments(Tables.documents(s, d))
    graft.operators.Multimodal.channelStats(media, channels = 3)
      .toDF()
      .groupBy("source", "channel")
      .agg(sum(col("n")).as("n_bytes"),
        round(sum(col("sum")).cast(DoubleType) /
          sum(col("n")).cast(DoubleType), 6).as("mean"),
        round(sqrt(sum(col("sumSq")).cast(DoubleType) /
          sum(col("n")).cast(DoubleType) -
          pow(sum(col("sum")).cast(DoubleType) /
            sum(col("n")).cast(DoubleType), 2)), 6).as("std"),
        min(col("min")).as("min_v"), max(col("max")).as("max_v"))
      .orderBy("source", "channel")
  }

  /** q312: k-core peeling (k=3, 4 bounded rounds) of the q240 user
    * co-occurrence graph — the standard "remove low-degree noise until
    * the dense core remains" graph-curation pass. Each round is one
    * keyed degree aggregate + two semi-joins over the bounded pair
    * table (hub-capped cells keep it quadratic-free); rounds are a
    * fixed constant, so the lineage depth is bounded by construction.
    */
  private val q312KcorePeel: Q = (s, d) => {
    val k = 3
    val rounds = 4
    val cells = Tables.events(s, d)
      .filter(col("event_type") === "error")
      .select(col("user_id"), expr("unix_millis(ts) DIV 3600000").as("cell"))
      .distinct()
    val cellN = cells.groupBy("cell").agg(count(lit(1)).as("nc"))
      .filter(col("nc") <= 100 && col("nc") >= 2)
    val co = cells.join(cellN, Seq("cell"))
    val a = co.select(col("cell"), col("user_id").as("ua"))
    val b = co.select(col("cell"), col("user_id").as("ub"))
    var edges = a.join(b, Seq("cell")).filter(col("ua") < col("ub"))
      .select("ua", "ub").distinct()
    edges = graft.operators.Materialize.spillRelease(edges)
    val out = (1 to rounds).map { r =>
      val deg = edges.select(col("ua").as("u"))
        .union(edges.select(col("ub").as("u")))
        .groupBy("u").agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= k).select("u")
      edges = edges
        .join(keep.withColumnRenamed("u", "ua"), Seq("ua"), "left_semi")
        .join(keep.withColumnRenamed("u", "ub"), Seq("ub"), "left_semi")
        .select("ua", "ub")
      edges = graft.operators.Materialize.spillRelease(edges)
      val nn = edges.select(explode(array(col("ua"), col("ub"))).as("u"))
        .agg(countDistinct(col("u")).as("n_nodes"), count(lit(1)).as("ends"))
      nn.select(lit(r.toLong).as("round"), col("n_nodes"),
        (col("ends") / 2).cast(LongType).as("n_edges"))
    }
    out.reduce(_.unionAll(_)).orderBy("round")
  }

  /** q313: per-source winsorization of document length at the discrete
    * p05/p95 fences (the q253 cum/count percentile over the grouped
    * value domain — no per-row sort), reporting clamp counts and the
    * before/after means. The trimmed-mean companion (q270 drops tails;
    * this clamps them).
    */
  private val q313Winsorize: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
    val byv = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("source")).orderBy(col("n_chars"))
    val cum = byv
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
    val fences = cum.groupBy("source").agg(
      min(when(col("cum") * 20 >= col("n"), col("n_chars"))).as("p05"),
      min(when(col("cum") * 20 >= col("n") * 19, col("n_chars"))).as("p95"))
    docs.join(broadcast(fences), Seq("source"))
      .select(col("source"), col("n_chars"), col("p05"), col("p95"),
        greatest(col("p05"), least(col("p95"), col("n_chars"))).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        min(col("p05")).as("p05"), min(col("p95")).as("p95"),
        sum((col("n_chars") < col("p05")).cast(LongType)).as("n_low"),
        sum((col("n_chars") > col("p95")).cast(LongType)).as("n_high"),
        round(sum(col("n_chars")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("mean_raw"),
        round(sum(col("w")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("mean_winsor"))
      .orderBy("source")
  }

  val queries: Seq[Query] = Seq(
    Query("q309_label_centroids", q309LabelCentroids,
      """WITH e AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |cells AS MATERIALIZED (SELECT label, (i - 1)::INT pos, v[i] x
        |  FROM e, range(1, 65) t(i)),
        |cent AS (SELECT label, pos,
        |    round(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*), 9) coord
        |  FROM cells GROUP BY label, pos),
        |vecs AS (SELECT label, list(coord ORDER BY pos) v FROM cent GROUP BY label)
        |SELECT a.label AS l1, b.label AS l2,
        |  round(list_dot_product(a.v, b.v) /
        |    sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6) AS cos
        |FROM vecs a JOIN vecs b ON a.label < b.label
        |ORDER BY l1, l2""".stripMargin),
    Query("q310_stream_session", q310StreamSession,
      """WITH ord AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_ts
        |  FROM events),
        |marked AS (SELECT user_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
        |      THEN 1 ELSE 0 END brk
        |  FROM ord),
        |sess AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) sid
        |  FROM marked),
        |per AS (SELECT user_id, sid, count(*) n, min(ts) st
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(*)::BIGINT AS n_sessions, sum(n)::BIGINT AS n_events,
        |  max(n)::BIGINT AS max_session_events, min(st) AS first_session_start
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q311_image_channels", q311ImageChannels,
      """WITH f AS (SELECT doc_id, source, text, len(text) n FROM documents),
        |cells AS MATERIALIZED (SELECT source, (i - 1) % 3 channel, ord(text[i]) b
        |  FROM f, LATERAL (SELECT unnest(range(1, n + 1)) i))
        |SELECT source, channel::BIGINT AS channel, count(*)::BIGINT AS n_bytes,
        |  round(sum(b)::DOUBLE / count(*)::DOUBLE, 6) AS mean,
        |  round(sqrt(sum(b*b)::DOUBLE / count(*)::DOUBLE -
        |    (sum(b)::DOUBLE / count(*)::DOUBLE) ^ 2), 6) AS std,
        |  min(b)::BIGINT AS min_v, max(b)::BIGINT AS max_v
        |FROM cells GROUP BY source, channel ORDER BY source, channel""".stripMargin),
    Query("q312_kcore_peel", q312KcorePeel,
      """WITH cells AS MATERIALIZED (SELECT DISTINCT user_id, epoch_ms(ts) // 3600000 cell
        |  FROM events WHERE event_type = 'error'),
        |cn AS MATERIALIZED (SELECT cell, count(*) nc FROM cells GROUP BY cell
        |  HAVING count(*) BETWEEN 2 AND 100),
        |co AS MATERIALIZED (SELECT cells.cell, user_id FROM cells JOIN cn USING (cell)),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.user_id ua, b.user_id ub
        |  FROM co a JOIN co b ON a.cell = b.cell AND a.user_id < b.user_id),
        |d1 AS MATERIALIZED (SELECT u FROM (SELECT ua u FROM e0 UNION ALL SELECT ub FROM e0)
        |  GROUP BY u HAVING count(*) >= 3),
        |e1 AS MATERIALIZED (SELECT * FROM e0 WHERE ua IN (SELECT u FROM d1) AND ub IN (SELECT u FROM d1)),
        |d2 AS MATERIALIZED (SELECT u FROM (SELECT ua u FROM e1 UNION ALL SELECT ub FROM e1)
        |  GROUP BY u HAVING count(*) >= 3),
        |e2 AS MATERIALIZED (SELECT * FROM e1 WHERE ua IN (SELECT u FROM d2) AND ub IN (SELECT u FROM d2)),
        |d3 AS MATERIALIZED (SELECT u FROM (SELECT ua u FROM e2 UNION ALL SELECT ub FROM e2)
        |  GROUP BY u HAVING count(*) >= 3),
        |e3 AS MATERIALIZED (SELECT * FROM e2 WHERE ua IN (SELECT u FROM d3) AND ub IN (SELECT u FROM d3)),
        |d4 AS MATERIALIZED (SELECT u FROM (SELECT ua u FROM e3 UNION ALL SELECT ub FROM e3)
        |  GROUP BY u HAVING count(*) >= 3),
        |e4 AS MATERIALIZED (SELECT * FROM e3 WHERE ua IN (SELECT u FROM d4) AND ub IN (SELECT u FROM d4))
        |SELECT 1::BIGINT AS round,
        |  (SELECT count(DISTINCT u) FROM (SELECT ua u FROM e1 UNION ALL SELECT ub FROM e1))::BIGINT AS n_nodes,
        |  (SELECT count(*) FROM e1)::BIGINT AS n_edges
        |UNION ALL SELECT 2,
        |  (SELECT count(DISTINCT u) FROM (SELECT ua u FROM e2 UNION ALL SELECT ub FROM e2)),
        |  (SELECT count(*) FROM e2)
        |UNION ALL SELECT 3,
        |  (SELECT count(DISTINCT u) FROM (SELECT ua u FROM e3 UNION ALL SELECT ub FROM e3)),
        |  (SELECT count(*) FROM e3)
        |UNION ALL SELECT 4,
        |  (SELECT count(DISTINCT u) FROM (SELECT ua u FROM e4 UNION ALL SELECT ub FROM e4)),
        |  (SELECT count(*) FROM e4)
        |ORDER BY round""".stripMargin),
    Query("q313_winsorize", q313Winsorize,
      """WITH byv AS (SELECT source, n_chars, count(*) c FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, n_chars, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars ROWS UNBOUNDED PRECEDING) cum,
        |    sum(c) OVER (PARTITION BY source) n FROM byv),
        |fences AS (SELECT source,
        |    min(CASE WHEN cum * 20 >= n THEN n_chars END) p05,
        |    min(CASE WHEN cum * 20 >= n * 19 THEN n_chars END) p95
        |  FROM cum GROUP BY source)
        |SELECT d.source, count(*)::BIGINT AS n, min(p05)::BIGINT AS p05,
        |  min(p95)::BIGINT AS p95,
        |  sum(CASE WHEN n_chars < p05 THEN 1 ELSE 0 END)::BIGINT AS n_low,
        |  sum(CASE WHEN n_chars > p95 THEN 1 ELSE 0 END)::BIGINT AS n_high,
        |  round(sum(n_chars)::DOUBLE / count(*)::DOUBLE, 6) AS mean_raw,
        |  round(sum(greatest(p05, least(p95, n_chars)))::DOUBLE /
        |    count(*)::DOUBLE, 6) AS mean_winsor
        |FROM documents d JOIN fences USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin))
}
