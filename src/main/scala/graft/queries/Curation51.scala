package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.sources.Tables

/** Round-9 wave 21: corpus statistics and training-prep planning —
  * best-of-n sampling yield from exact order statistics, session-window
  * state across a real restart (completing the q411/q412 lifecycle
  * trilogy), covariate-shift importance reweighting between hash
  * splits, and the word2vec-style negative-sampling table.
  */
object Curation51 {

  /** q416: best-of-n sampling yield curve — what quality does
    * rejection sampling buy? For the empirical quality distribution,
    * E[max of n draws] = Σᵢ q₍ᵢ₎·((i/N)ⁿ − ((i−1)/N)ⁿ) over the sorted
    * corpus — exact order statistics, no simulation. Ranks come from
    * [[graft.operators.Ranking.globalRank]] (range-partitioned bucket
    * offsets — no unpartitioned window over the corpus) with a doc-id
    * tiebreak so both engines sort the multiset identically; one
    * decimal-summed pass per curve point via an in-row explode of the
    * n grid. The curve's flattening point is the rejection-sampling
    * budget answer.
    */
  private val q416BestOfNYield: Q = (s, d) => {
    val q = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextFunctions
          .qualityScore(col("text"), split(col("text"), " ")).as("q"))
    val ranked = graft.operators.Ranking
      .globalRank(q, "r", col("q").asc, col("doc_id").asc)
    val tot = ranked.agg(count(lit(1)).as("nn"))
    ranked.crossJoin(broadcast(tot))
      .select(col("q"), col("r").cast(DoubleType).as("r"),
        col("nn").cast(DoubleType).as("nn"),
        explode(array(lit(1), lit(2), lit(4), lit(8), lit(16))).as("n"))
      .select(col("n"),
        (col("q") * (pow(col("r") / col("nn"), col("n").cast(DoubleType)) -
          pow((col("r") - 1.0) / col("nn"), col("n").cast(DoubleType))))
          .as("term"))
      .groupBy("n")
      .agg(round(sum(dec(col("term"))).cast(DoubleType), 6).as("expected_max_q"))
      .orderBy("n")
  }

  /** q417: session-window MERGE state survives a restart — the third
    * panel of the state-lifecycle trilogy (q411 agg watermark, q412
    * dedup keys, here the merging session store). Run 1 streams the
    * first 23 days and stops; run 2 (same checkpoint) streams the
    * rest, EXTENDING any session still open at the boundary — a fresh
    * restart would emit the boundary sessions split in two (wrong
    * n_events, wrong starts) and lose nothing-but-run-1 sessions
    * entirely. Append mode emits a session once the watermark passes
    * its end, so the final no-data batch flushes everything except
    * sessions ending inside the last 24 h — the oracle's batch gap
    * sessionization keeps exactly that set.
    */
  private val q417RestartSessions: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    val mx = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val root = graft.operators.Materialize.jvmScratch(
      "restartsw-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val (ckpt, outDir) = (s"$root/ckpt", s"$root/out")
    def agg = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/input")
      .withWatermark("ts", "24 hours")
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"), col("user_id"),
        col("n_events"))
    val cut = col("ts") <= lit(mx) - expr("INTERVAL 7 DAYS")
    Curation50.addBatchFile(ev.filter(cut), root, "01_batch.parquet", 2)
    Curation50.runRestartable(agg, ckpt, outDir, "append")
    Curation50.addBatchFile(ev.filter(!cut), root, "02_batch.parquet", 1)
    Curation50.runRestartable(agg, ckpt, outDir, "append")
    // RAW rows, no grouping: append mode emits each closed session
    // exactly once, and the batchId-keyed idempotent sink guarantees
    // no replay duplicates — so a groupBy/max read-back would only
    // launder a broken sink. A replayed or split session now breaks
    // rows_match/hash directly (r9 verdict item 3).
    Curation50.readSink(s, outDir)
      .select(col("s_start"), col("user_id"), col("n_events"))
      .orderBy("s_start", "user_id")
  }

  /** q418: covariate-shift importance reweighting between hash splits
    * — when a validation split's length profile drifts from training,
    * its quality metrics must be importance-weighted before they are
    * comparable. Train/val = seeded md5 split (9:1), density ratio
    * from 10 equal-width token-length bins (smoothed +0.5), the
    * reweighted type-token-ratio mean next to the naive one, and the
    * largest bin weight (the overlap red flag). Two keyed passes over
    * the corpus; the bin grid is bounded and broadcast.
    */
  private val q418CovariateShift: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("len"),
        (size(array_distinct(split(col("text"), " "))).cast(DoubleType) /
          size(split(col("text"), " ")).cast(DoubleType)).as("ttr"),
        (mdHash(concat_ws("|", lit("covshift"), col("doc_id"))) % 10 < 9)
          .as("is_train"))
    val b = docs.agg(min(col("len")).as("lo"), max(col("len")).as("hi"))
    val binned = docs.crossJoin(broadcast(b))
      .select(least(expr("(len - lo) * 10 div (hi - lo + 1)"), lit(9L)).as("bin"),
        col("is_train"), col("ttr"))
    val grid = binned.groupBy("bin").agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("tr"),
      sum(when(!col("is_train"), 1L).otherwise(0L)).as("va"))
    val tot = grid.agg(sum(col("tr")).as("nt"), sum(col("va")).as("nv"))
    val w = grid.crossJoin(broadcast(tot))
      .select(col("bin"),
        (((col("tr").cast(DoubleType) + 0.5) / (col("nt").cast(DoubleType) + 5.0)) /
          ((col("va").cast(DoubleType) + 0.5) / (col("nv").cast(DoubleType) + 5.0)))
          .as("w"))
    binned.filter(!col("is_train")).join(broadcast(w), "bin")
      .agg(count(lit(1)).as("n_val"),
        round(sum(dec(col("ttr"))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("naive_ttr"),
        round(sum(dec(col("w") * col("ttr"))).cast(DoubleType) /
          sum(dec(col("w"))).cast(DoubleType), 6).as("weighted_ttr"),
        round(max(col("w")), 6).as("max_bin_weight"))
  }

  /** q419: negative-sampling table (unigram^0.75, word2vec / sampled
    * softmax): per-token weight c^0.75 normalized over the WHOLE
    * vocabulary, reported for the top-20 tokens with the cumulative
    * head mass — the numbers that size a sampled-softmax table and
    * expose stopword domination. One keyed count, a 1-row broadcast
    * total, a bounded 20-row cumulative window.
    */
  private val q419NegSampling: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = counts.agg(
      sum(dec(pow(col("c").cast(DoubleType), 0.75))).cast(DoubleType).as("z"))
    val top = counts.orderBy(col("c").desc, col("w")).limit(20)
    val wCum = Window.orderBy(col("c").desc, col("w")) // bounded: 20 rows
    top.crossJoin(broadcast(tot))
      .select(col("w"), col("c"),
        (pow(col("c").cast(DoubleType), 0.75) / col("z")).as("p"))
      .select(col("w"), col("c"), round(col("p") * 1000, 6).as("p_x1000"),
        round(sum(col("p")).over(wCum) * 1000, 6).as("cum_p_x1000"))
      .orderBy(col("c").desc, col("w"))
  }

  val queries: Seq[Query] = Seq(
    Query("q416_best_of_n_yield", q416BestOfNYield, {
      val qs = Curation.qScore
      s"""WITH q AS (SELECT doc_id,
        |    $qs q
        |  FROM documents),
        |ranked AS (SELECT q, row_number() OVER (ORDER BY q, doc_id)::DOUBLE r
        |  FROM q),
        |tot AS (SELECT count(*)::DOUBLE nn FROM ranked),
        |terms AS (SELECT n, q * (pow(r / nn, n::DOUBLE) -
        |      pow((r - 1.0) / nn, n::DOUBLE)) term
        |  FROM ranked CROSS JOIN tot
        |  CROSS JOIN (SELECT unnest([1, 2, 4, 8, 16]) n))
        |SELECT n::INT AS n,
        |  round(CAST(sum(CAST(term AS DECIMAL(38,15))) AS DOUBLE), 6)
        |    AS expected_max_q
        |FROM terms GROUP BY n ORDER BY n""".stripMargin
    }),
    // batch gap sessionization; a session is emitted iff the final
    // watermark (max ts − 24 h) passed its end (last event + gap).
    // Break on gap >= 1 hour, NOT >: session_window's range is
    // [start, last + gap) — an event exactly one gap after its
    // predecessor falls outside and starts a NEW session (the q82
    // convention at TimeWindows.scala; a `>` oracle only agreed with
    // Spark because no exact-gap pair existed in the test data).
    Query("q417_restart_sessions", q417RestartSessions,
      """WITH mx AS (SELECT max(ts) m FROM events),
        |marked AS (SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      >= INTERVAL 1 HOUR OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      IS NULL THEN 1 ELSE 0 END brk
        |  FROM events),
        |sess AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts) sid
        |  FROM marked),
        |agg AS (SELECT user_id, sid, min(ts) s_start, max(ts) s_end,
        |    count(*) n_events
        |  FROM sess GROUP BY user_id, sid)
        |SELECT s_start, user_id, n_events::BIGINT AS n_events
        |FROM agg CROSS JOIN mx
        |WHERE s_end + INTERVAL 1 HOUR <= m - INTERVAL 24 HOUR
        |ORDER BY s_start, user_id""".stripMargin),
    Query("q418_covariate_shift", q418CovariateShift, {
      val h = mdHashSql("'covshift|' || doc_id::VARCHAR")
      s"""WITH docs AS (SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT len,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE /
        |      len(string_split(text, ' '))::DOUBLE ttr,
        |    $h % 10 < 9 is_train
        |  FROM documents),
        |b AS (SELECT min(len) lo, max(len) hi FROM docs),
        |binned AS (SELECT least((len - lo) * 10 // (hi - lo + 1), 9) bin,
        |    is_train, ttr FROM docs CROSS JOIN b),
        |grid AS (SELECT bin,
        |    sum(CASE WHEN is_train THEN 1 ELSE 0 END) tr,
        |    sum(CASE WHEN is_train THEN 0 ELSE 1 END) va
        |  FROM binned GROUP BY bin),
        |tot AS (SELECT sum(tr) nt, sum(va) nv FROM grid),
        |w AS (SELECT bin,
        |    ((tr::DOUBLE + 0.5) / (nt::DOUBLE + 5.0)) /
        |      ((va::DOUBLE + 0.5) / (nv::DOUBLE + 5.0)) w
        |  FROM grid CROSS JOIN tot)
        |SELECT count(*)::BIGINT AS n_val,
        |  round(CAST(sum(CAST(ttr AS DECIMAL(38,15))) AS DOUBLE) /
        |    count(*)::DOUBLE, 6) AS naive_ttr,
        |  round(CAST(sum(CAST(w.w * ttr AS DECIMAL(38,15))) AS DOUBLE) /
        |    CAST(sum(CAST(w.w AS DECIMAL(38,15))) AS DOUBLE), 6) AS weighted_ttr,
        |  round(max(w.w), 6) AS max_bin_weight
        |FROM binned JOIN w USING (bin) WHERE NOT is_train""".stripMargin
    }),
    Query("q419_neg_sampling", q419NegSampling,
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) w FROM documents),
        |counts AS (SELECT w, count(*) c FROM tok WHERE w <> '' GROUP BY w),
        |tot AS (SELECT CAST(sum(CAST(pow(c::DOUBLE, 0.75) AS DECIMAL(38,15)))
        |    AS DOUBLE) z FROM counts),
        |top AS (SELECT w, c FROM counts ORDER BY c DESC, w LIMIT 20),
        |p AS (SELECT w, c, pow(c::DOUBLE, 0.75) / z p FROM top CROSS JOIN tot)
        |SELECT w, c::BIGINT AS c, round(p * 1000, 6) AS p_x1000,
        |  round(sum(p) OVER (ORDER BY c DESC, w) * 1000, 6) AS cum_p_x1000
        |FROM p ORDER BY c DESC, w""".stripMargin))
}
