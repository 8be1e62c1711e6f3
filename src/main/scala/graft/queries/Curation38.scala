package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dec
import graft.sources.Tables

/** Round-8 wave 8: calibration and sequential statistics — isotonic
  * (PAV) calibration via the bounded-bin minimax closed form, Holt
  * linear-trend smoothing as an ordered-array fold, Page-Hinkley drift
  * detection as pure window algebra, and HITS hubs/authorities on the
  * bipartite purchase graph.
  */
object Curation38 {

  /** q351: isotonic calibration (pool-adjacent-violators) of the
    * purchase rate against the event value — fit_i =
    * max_{j≤i} min_{k≥i} mean(y over bins j..k), the minimax closed
    * form of PAV. The corpus collapses to ≤20 equal-width score bins
    * in ONE keyed pass; prefix sums and the (i,j,k) triangular
    * expansion (≤20³ rows) live entirely on the bounded bin domain, so
    * the fit costs the same at any corpus size. Bin ids, counts, and
    * positive counts are integers — engine-exact; only the final rate
    * quotients are doubles.
    */
  private val q351IsotonicPav: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("value"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val bounds = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val binned = ev.crossJoin(broadcast(bounds))
      .select(least(floor(((col("value") - col("lo")) * 20) / (col("hi") - col("lo")))
        .cast(LongType), lit(19L)).as("bin"), col("y"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    isotonicFit(binned)
  }

  /** The minimax PAV closed form over a bounded (bin, n, pos) frame —
    * see q351. Package-visible for the spec, which checks it against a
    * direct pool-adjacent-violators stack implementation.
    */
  private[graft] def isotonicFit(binned: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.orderBy("bin") // bounded domain: ≤20 rows
    val cum = binned
      .select(col("bin"), col("n"), col("pos"),
        sum(col("n")).over(w).as("cw"), sum(col("pos")).over(w).as("cs"),
        row_number().over(w).as("r"))
    val base = cum.select(col("r"), col("bin"), col("n"), col("pos"), col("cw"), col("cs"))
    val jk = base.select(col("r").as("j"), (col("cw") - col("n")).as("wj"),
        (col("cs") - col("pos")).as("sj"))
      .join(base.select(col("r").as("k"), col("cw").as("wk"), col("cs").as("sk")),
        col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("sk") - col("sj")).cast(DoubleType) /
          (col("wk") - col("wj")).cast(DoubleType)).as("a"))
    val fit = base.select(col("r").as("i"))
      .join(jk, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min(col("a")).as("mn"))
      .groupBy("i").agg(max(col("mn")).as("iso"))
    cum.join(fit, cum("r") === fit("i"))
      .select(col("bin"), col("n"),
        round(col("pos").cast(DoubleType) / col("n").cast(DoubleType), 6).as("raw_rate"),
        round(col("iso"), 6).as("iso_rate"))
      .orderBy("bin")
  }

  /** q352: Holt's linear-trend exponential smoothing (α=0.5, β=0.3)
    * over the daily purchase-count series. The corpus reduces to one
    * row per day (keyed aggregate); the inherently sequential
    * recursion then runs as an ordered-array fold over the bounded day
    * domain — the same shape as q319's pseudo-epoch fold — so nothing
    * sequential ever touches per-event data. Both engines execute the
    * identical literal-constant arithmetic in the identical order,
    * making the doubles bit-equal.
    */
  private val q352HoltLinear: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast(DoubleType).as("y"))
    val series = daily.agg(sort_array(collect_list(struct(col("day"), col("y"))))
      .as("sd"))
      .select(transform(col("sd"), x => x.getField("y")).as("ys"))
    series.select(size(col("ys")).as("n_days"),
        aggregate(
          expr("slice(ys, 2, size(ys) - 1)"),
          struct(element_at(col("ys"), 1).as("l"), lit(0.0).as("b")),
          (acc, y) => {
            val lNew = y * 0.5 + (acc.getField("l") + acc.getField("b")) * 0.5
            struct(lNew.as("l"),
              ((lNew - acc.getField("l")) * 0.3 + acc.getField("b") * 0.7).as("b"))
          }).as("st"))
      .select(col("n_days"),
        round(col("st").getField("l"), 6).as("level"),
        round(col("st").getField("b"), 6).as("trend"),
        round(col("st").getField("l") + col("st").getField("b"), 6).as("forecast_1"))
  }

  /** q353: Page-Hinkley drift detection over the daily event-count
    * series — m_t = Σ_{i≤t}(x_i − mean_{1..i}), PH_t = max_{s≤t} m_s −
    * m_t, alarm at the largest PH. The running mean and both cum
    * series are window algebra over the bounded day domain (no
    * recursion at all); counts are integers so every division is the
    * same exact quotient in both engines.
    */
  private val q353PageHinkley: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy("day") // bounded domain: one row per day
    val m = daily.select(col("day"), col("x"),
        (sum(col("x")).over(w).cast(DoubleType) /
          row_number().over(w).cast(DoubleType)).as("rmean"))
      .select(col("day"), col("x"), (col("x").cast(DoubleType) - col("rmean")).as("dev"))
      .select(col("day"), col("x"), sum(col("dev")).over(w).as("m"))
      .select(col("day"), col("x"), (max(col("m")).over(w) - col("m")).as("ph"))
    val top = m.agg(max(col("ph")).as("mx"))
    m.crossJoin(broadcast(top)).filter(col("ph") === col("mx"))
      .agg(min(col("day")).as("alarm_day"), round(min(col("ph")), 6).as("ph_stat"))
  }

  /** q354: HITS hubs/authorities (Kleinberg) on the bipartite
    * customer→part purchase graph, two synchronous power-iteration
    * rounds. Each half-round is ONE equi-join of the edge list against
    * the opposite score frame plus one keyed INTEGER sum — power
    * iteration is scale-invariant, so the L1 normalization happens
    * exactly once, on the final 1-row aggregate, instead of as three
    * extra global-scalar actions that would each re-run the join chain
    * (measured 8.8 → ~3 s at sf0.1). Un-normalized scores after two
    * rounds are pure edge-path counts (longs at this scale; the
    * production knob at 100 TB is per-round scalar normalization, which
    * trades two cheap scalar jobs for bounded magnitudes). Output:
    * top-5 authority parts.
    */
  private val q354HitsBipartite: Q = (s, d) => {
    val edges = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey").as("c"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey").as("p")), "o_orderkey")
      .select(col("c"), col("p")).distinct()
    val a0 = edges.select(col("p")).distinct().select(col("p"), lit(1L).as("a"))
    val h1 = edges.join(a0, "p").groupBy("c").agg(sum(col("a")).as("h"))
    val a1 = edges.join(h1, "c").groupBy("p").agg(sum(col("h")).as("a"))
    val h2 = edges.join(a1, "p").groupBy("c")
      .agg(sum(col("a").cast(DecimalType(38, 0))).as("h"))
    val a2 = edges.join(h2, "c").groupBy("p")
      .agg(sum(col("h")).as("a")).persist()
    val norm = a2.agg(sum(col("a")).as("s"))
    val out = a2.crossJoin(broadcast(norm))
      .select(col("p").as("partkey"),
        round((col("a").cast(DoubleType) / col("s").cast(DoubleType)) * 1000000, 6)
          .as("auth_ppm"))
      .orderBy(col("auth_ppm").desc, col("partkey")).limit(5)
    graft.operators.Materialize.spillRelease(out, a2)
  }

  /** q355: surprisal filtering with a SELF-TRAINED character-bigram
    * language model (add-one smoothing) — the classic perplexity-style
    * quality signal, with the KenLM stand-in trained on the corpus
    * itself so the whole pipeline is deterministic. Training is one
    * linear bigram-explode pass into a charset²-bounded count table;
    * scoring joins each doc's bigrams against the BROADCAST model and
    * decimal-sums the ln-probabilities, so partition order never
    * perturbs a doc's score. Output: the 5 most surprising docs.
    */
  private val q355BigramSurprisal: Q = (s, d) => {
    // spread the single-row-group doc scan before the per-char bigram
    // kernels (three >2 s single-task stages otherwise — Kernels.fanOut)
    val docs = graft.operators.Kernels.fanOut(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    val bigrams = docs
      .filter(length(col("text")) >= 2) // sequence(1, 0) would descend
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), length(col("text")) - 1),
          i => col("text").substr(i, lit(2)))).as("bg"))
    // spill the (|alphabet|² ≈ 114-row) bigram LM once: its two
    // consumers (context totals, the model join) otherwise each re-run
    // the full 2.7M-row explode+aggregate pass (round-11 event log:
    // two identical 10-cpu-sec stages per run)
    val bgCounts = graft.operators.Materialize.spillRelease(
      bigrams.groupBy("bg").agg(count(lit(1)).as("cbg")))
    val ctxCounts = bgCounts.groupBy(substring(col("bg"), 1, 1).as("cx"))
      .agg(sum(col("cbg")).as("cctx"))
    val vocab = docs.select(explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .agg(countDistinct(col("ch")).as("v"))
    val model = bgCounts
      .join(ctxCounts, substring(col("bg"), 1, 1) === col("cx"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        ln((col("cbg") + 1).cast(DoubleType) / (col("cctx") + col("v")).cast(DoubleType))
          .as("lp"))
    bigrams.join(broadcast(model), "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(dec(col("lp"))).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .as("nll"))
      .select(col("doc_id"), col("n_bigrams"), round(col("nll"), 6).as("avg_nll_nats"))
      .orderBy(col("avg_nll_nats").desc, col("doc_id")).limit(5)
  }

  val queries: Seq[Query] = Seq(
    Query("q351_isotonic_pav", q351IsotonicPav,
      """WITH ev AS (SELECT value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y FROM events),
        |bounds AS (SELECT min(value) lo, max(value) hi FROM ev),
        |binned AS (SELECT least(floor((value - lo) * 20 / (hi - lo))::BIGINT, 19) bin,
        |    count(*) n, sum(y) pos FROM ev CROSS JOIN bounds GROUP BY 1),
        |cum AS (SELECT bin, n, pos,
        |    sum(n) OVER (ORDER BY bin) cw, sum(pos) OVER (ORDER BY bin) cs,
        |    row_number() OVER (ORDER BY bin) r FROM binned),
        |jk AS (SELECT a.r j, b.r k,
        |    (b.cs - (a.cs - a.pos))::DOUBLE / (b.cw - (a.cw - a.n))::DOUBLE a
        |  FROM cum a JOIN cum b ON a.r <= b.r),
        |fit AS (SELECT i, max(mn) iso FROM (
        |    SELECT c.r i, jk.j, min(jk.a) mn FROM cum c
        |    JOIN jk ON jk.j <= c.r AND jk.k >= c.r GROUP BY c.r, jk.j)
        |  GROUP BY i)
        |SELECT bin, n, round(pos::DOUBLE / n::DOUBLE, 6) AS raw_rate,
        |  round(iso, 6) AS iso_rate
        |FROM cum JOIN fit ON r = i ORDER BY bin""".stripMargin),
    Query("q352_holt_linear", q352HoltLinear,
      """WITH RECURSIVE daily AS (SELECT CAST(ts AS DATE) dy, count(*)::DOUBLE y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |idx AS (SELECT row_number() OVER (ORDER BY dy) i, y FROM daily),
        |n AS (SELECT max(i) nd FROM idx),
        |holt(i, l, b) AS (
        |  SELECT 1::BIGINT, y, 0.0::DOUBLE FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.i, idx.y * 0.5 + (h.l + h.b) * 0.5,
        |    (idx.y * 0.5 + (h.l + h.b) * 0.5 - h.l) * 0.3 + h.b * 0.7
        |  FROM holt h JOIN idx ON idx.i = h.i + 1)
        |SELECT nd::BIGINT AS n_days, round(l, 6) AS level, round(b, 6) AS trend,
        |  round(l + b, 6) AS forecast_1
        |FROM holt JOIN n ON i = nd""".stripMargin),
    Query("q353_page_hinkley", q353PageHinkley,
      """WITH daily AS (SELECT CAST(ts AS DATE) dy, count(*) x FROM events GROUP BY 1),
        |rm AS (SELECT dy, x,
        |    (sum(x) OVER (ORDER BY dy))::DOUBLE /
        |      (row_number() OVER (ORDER BY dy))::DOUBLE rmean FROM daily),
        |m AS (SELECT dy, x, sum(x::DOUBLE - rmean) OVER (ORDER BY dy) m FROM rm),
        |ph AS (SELECT dy, (max(m) OVER (ORDER BY dy)) - m ph FROM m),
        |mx AS (SELECT max(ph) mxv FROM ph)
        |SELECT min(dy) AS alarm_day, round(min(ph), 6) AS ph_stat
        |FROM ph CROSS JOIN mx WHERE ph = mxv""".stripMargin),
    Query("q354_hits_bipartite", q354HitsBipartite,
      """WITH edges AS (SELECT DISTINCT o.o_custkey c, l.l_partkey p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |a0 AS (SELECT DISTINCT p, 1::BIGINT a FROM edges),
        |h1 AS (SELECT c, sum(a) h FROM edges JOIN a0 USING (p) GROUP BY c),
        |a1 AS (SELECT p, sum(h) a FROM edges JOIN h1 USING (c) GROUP BY p),
        |h2 AS (SELECT c, sum(CAST(a AS DECIMAL(38,0))) h
        |  FROM edges JOIN a1 USING (p) GROUP BY c),
        |a2 AS (SELECT p, sum(h) a FROM edges JOIN h2 USING (c) GROUP BY p),
        |norm AS (SELECT sum(a) s FROM a2)
        |SELECT p AS partkey,
        |  round((a::DOUBLE / s::DOUBLE) * 1000000, 6) AS auth_ppm
        |FROM a2 CROSS JOIN norm ORDER BY auth_ppm DESC, partkey LIMIT 5""".stripMargin),
    Query("q355_bigram_surprisal", q355BigramSurprisal,
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |bigrams AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(text)),
        |    i -> substr(text, i::INT, 2))) bg FROM docs WHERE len(text) >= 2),
        |bgc AS (SELECT bg, count(*) cbg FROM bigrams GROUP BY bg),
        |ctx AS (SELECT substr(bg, 1, 1) cx, sum(cbg) cctx FROM bgc GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT ch) v FROM (SELECT
        |  unnest(list_transform(range(1, len(text) + 1),
        |    i -> substr(text, i::INT, 1))) ch FROM docs)),
        |model AS (SELECT bg,
        |    ln((cbg + 1)::DOUBLE / (cctx + v)::DOUBLE) lp
        |  FROM bgc JOIN ctx ON substr(bg, 1, 1) = cx CROSS JOIN vocab)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  round(-CAST(sum(CAST(lp AS DECIMAL(38,15))) AS DOUBLE) / count(*)::DOUBLE, 6)
        |    AS avg_nll_nats
        |FROM bigrams JOIN model USING (bg)
        |GROUP BY doc_id ORDER BY avg_nll_nats DESC, doc_id LIMIT 5""".stripMargin))
}
