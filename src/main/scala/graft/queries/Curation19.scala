package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.GraftFunctions.dsum
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.operators.Dedup
import graft.sources.Tables

/** Round-7 second wave: streaming stateful dedup through the real
  * engine, multi-source BFS over a co-occurrence graph, sequence
  * pattern matching (MATCH_RECOGNIZE-lite), equi-width histogram,
  * trimmed mean, differentially-private release with deterministic
  * Laplace noise, near-dup threshold sweep, grid-density peaks over
  * embeddings, frequent triples from in-row combination generation,
  * and batch sessionization.
  */
object Curation19 {

  /** Streaming exact dedup on (user_id, event_type) executed by the
    * REAL streaming engine (dropDuplicatesWithinWatermark keeps one
    * state row per key inside the horizon), then reduced to the
    * deterministic face: per-type distinct-user counts — which row of
    * a dup group survives is arrival-order-dependent, the count of
    * surviving keys is not. Oracle = batch COUNT(DISTINCT).
    */
  private val q266StreamDedup: Q = (s, d) => {
    val stream = graft.streaming.StreamingOps.readEventStream(s, d)
    val dd = stream.withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    Curation18.runStream(dd, "append")
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /** Multi-source BFS over the part co-occurrence graph (parts sharing
    * an order are adjacent): exact hop-0/1/2 distance histogram per
    * seed. Frontier expansion is one keyed join per round with a
    * left-anti visited filter — state is (seed, node) pairs, never
    * paths, so rounds stay keyed shuffles at any scale. The oracle is
    * DuckDB's recursive CTE over the same edge set.
    */
  private val q267PartBfs: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    // edges from IN-ROW pair generation over per-order baskets (the
    // q237 discipline) — one keyed agg + explode instead of a second
    // full lineitem shuffle through a self-join
    // no edge-level distinct: BFS is multiplicity-insensitive (the
    // frontier expansion dedups per round), so the 2.6M-pair shuffle a
    // distinct would cost buys nothing
    val edges = li.groupBy("o").agg(collect_set(col("p")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") =!= col("v"))
      .select("u", "v")
    val seeds = li.select(col("p").as("sd")).filter(col("sd") % 500 === 0).distinct()
    graft.operators.Graph.bfsHops(edges, seeds, maxHop = 2)
      .groupBy("sd", "hop")
      .agg(count(lit(1)).as("n_parts"), sum(col("node")).as("sum_partkey"))
      .orderBy("sd", "hop")
  }

  /** Sequence-pattern matching over per-user event streams — the
    * MATCH_RECOGNIZE shape: each user's time-ordered event-type
    * initials collapse to one symbol string (sort_array over
    * (ts, event_id, sym) structs = a deterministic keyed sort), and a
    * regex counts click→view*→purchase runs. Distribution of per-user
    * match counts comes back; the per-user strings are bounded by
    * events-per-user, never by corpus size.
    */
  private val q268EventRegex: Q = (s, d) => {
    val seqs = Tables.events(s, d)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("sym")).as("r"))
      .groupBy("user_id").agg(sort_array(collect_list(col("r"))).as("rs"))
      .select(col("user_id"),
        concat_ws("", transform(col("rs"), r => r.getField("sym"))).as("seq"))
    seqs.select(col("user_id"),
        regexp_count(col("seq"), lit("cv*p")).cast(LongType).as("n_matches"))
      .groupBy("n_matches")
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("sum_user"))
      .orderBy("n_matches")
  }

  /** Equi-width histogram of line-item revenue (5000-wide buckets):
    * the one-pass binned profile every monitoring surface needs —
    * bucket id is a pure projection, so the whole query is one keyed
    * aggregate with decimal-exact sums.
    */
  private val q269Histogram: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select(floor(col("l_extendedprice") / lit(5000.0)).cast(LongType).as("bucket"),
        col("l_extendedprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy("bucket")
  }

  /** 10% trimmed mean of order value per priority — the robust-mean
    * variant that drops both tails by per-group rank before averaging.
    * Rank and group size are one keyed window pass; the mean is a
    * decimal-exact sum with a single double division at the end.
    */
  private val q270TrimmedMean: Q = (s, d) => {
    val wr = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wc = Window.partitionBy("o_orderpriority")
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wc))
      .withColumn("lo", floor(col("n") / 10))
      .filter(col("rn") > col("lo") && col("rn") <= col("n") - col("lo"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_kept"),
        round(dsum(col("o_totalprice")) / count(lit(1)).cast(DoubleType), 6)
          .as("trimmed_mean"))
      .orderBy("o_orderpriority")
  }

  /** Differentially-private release of per-source doc counts: Laplace
    * noise from the inverse CDF of a hash-uniform draw (seeded by the
    * group key — deterministic across runs, engines, partitionings),
    * plus k-suppression of tiny groups. The raw count never leaves the
    * query; everything after the one keyed aggregate is per-group
    * scalar math.
    */
  private val q271DpRelease: Q = (s, d) => {
    val two60 = (1L << 60).toDouble
    Tables.documents(s, d).groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("u", (mdHash(col("source")).cast(DoubleType) + 1.0) / lit(two60))
      .withColumn("v", col("u") - lit(0.5))
      .withColumn("noise", -signum(col("v")) *
        log(greatest(lit(1e-12), lit(1.0) - lit(2.0) * abs(col("v")))))
      .filter(col("n") >= 5)
      .select(col("source"), round(col("n") + col("noise"), 4).as("noisy_n"))
      .orderBy("source")
  }

  /** Near-duplicate threshold sweep: ONE pass of the blocked n-gram
    * Jaccard kernel scores candidates once, and every threshold in
    * {0.5..0.9} reads off its pair count and mean similarity from that
    * shared score set — the tuning curve that would cost five kernel
    * runs done for the price of one.
    */
  private val q272ThresholdSweep: Q = (s, d) => {
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, d),
      "doc_id", "text", "lang", n = 3, threshold = 0.5)
    val th = explode(array((5 to 9).map(t => lit(t / 10.0)): _*)).as("t")
    pairs.select(col("jac"), th)
      .filter(col("jac") >= col("t"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(round(col("jac"), 6).cast(DecimalType(20, 6))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 6).as("avg_jac"))
      .orderBy("t")
  }

  /** Grid-density peaks over the embedding space (DBSCAN's density
    * estimation step): points bin into 0.1-wide cells on the first two
    * coordinates, and a cell is a peak if it beats all 8 neighbors and
    * holds ≥ 10 points. Neighborhood lookup is an equi-join on
    * exploded neighbor claims — never a cell×cell distance join — so
    * the pass scales with |cells|, which the fixed grid bounds.
    */
  private val q273GridDensity: Q = (s, d) => {
    val pts = Tables.embeddings(s, d).select(
      floor(element_at(col("embedding"), 1).cast(DoubleType) / lit(0.1))
        .cast(LongType).as("cx"),
      floor(element_at(col("embedding"), 2).cast(DoubleType) / lit(0.1))
        .cast(LongType).as("cy"))
    val cells = pts.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val offs = array((for { dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0 }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val claims = cells.withColumn("o", explode(offs))
      .select((col("cx") + col("o.dx")).as("cx"),
        (col("cy") + col("o.dy")).as("cy"), col("n").as("nn"))
    val nbr = claims.groupBy("cx", "cy")
      .agg(max(col("nn")).as("nmax"), sum(col("nn")).as("nsum"))
    cells.join(nbr, Seq("cx", "cy"), "left")
      .filter(col("n") >= 10 && col("n") > coalesce(col("nmax"), lit(0L)))
      .select(col("cx"), col("cy"), col("n"),
        coalesce(col("nsum"), lit(0L)).as("n_neighbors"))
      .orderBy("cx", "cy")
  }

  /** Frequent part triples per order basket — the Apriori step past
    * q237's pairs. Combinations generate IN-ROW from each sorted
    * basket array (C(b,3) per order, b ≈ a handful), so there is no
    * three-way self-join shuffle; the only exchange is the final count
    * by triple. Top-20 by (support, triple) is exact and total-ordered.
    */
  private val q274Itemsets3: Q = (s, d) => {
    val baskets = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) >= 3)
    baskets.select(explode(graft.functions.GraftFunctions.triples(col("ps"))).as("t"))
      .select(col("t.p1").as("p1"), col("t.p2").as("p2"), col("t.p3").as("p3"))
      .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p1"), col("p2"), col("p3"))
      .limit(20)
  }

  /** Batch sessionization: a 30-minute inactivity gap starts a new
    * session (lag + running sum inside the per-user window — fully
    * keyed, no global pass), then session-level stats reduce to one
    * bounded summary row. The batch twin of q82's streaming
    * session_window, exact on microsecond timestamps.
    */
  private val q275Sessionize: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("unix_micros(ts)").as("tus"))
    val sess = graft.operators.Sessionize.assign(ev, col("user_id"), col("tus"),
        Seq(col("event_id")), gapMicros = 1800000000L)
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        expr("(max(tus) - min(tus)) DIV 1000000").as("span_s"))
    sess.agg(count(lit(1)).as("n_sessions"),
      countDistinct(col("user_id")).as("n_users"),
      round(sum(col("n_events")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("avg_events"),
      max(col("span_s")).as("max_span_s"),
      max(col("n_events")).as("max_events"))
  }

  val queries: Seq[Query] = Seq(
    Query("q266_stream_dedup", q266StreamDedup,
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),
    Query("q267_part_bfs", q267PartBfs,
      """WITH RECURSIVE
        |edges AS (SELECT DISTINCT a.l_partkey u, b.l_partkey v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |seeds AS (SELECT DISTINCT l_partkey s FROM lineitem WHERE l_partkey % 500 = 0),
        |bfs(sd, node, hop) AS (
        |  SELECT s, s, 0 FROM seeds
        |  UNION
        |  SELECT bfs.sd, e.v, bfs.hop + 1 FROM bfs JOIN edges e ON e.u = bfs.node
        |  WHERE bfs.hop < 2),
        |dst AS (SELECT sd, node, min(hop) hop FROM bfs GROUP BY 1, 2)
        |SELECT sd, hop::BIGINT AS hop, count(*) AS n_parts,
        |  sum(node)::BIGINT AS sum_partkey
        |FROM dst GROUP BY sd, hop ORDER BY sd, hop""".stripMargin),
    Query("q268_event_regex", q268EventRegex,
      """WITH s AS (SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) seq
        |  FROM events GROUP BY user_id),
        |m AS (SELECT user_id,
        |    len(regexp_extract_all(seq, 'cv*p'))::BIGINT n_matches FROM s)
        |SELECT n_matches, count(*) AS n_users, sum(user_id)::BIGINT AS sum_user
        |FROM m GROUP BY 1 ORDER BY n_matches""".stripMargin),
    Query("q269_histogram", q269Histogram,
      """SELECT CAST(floor(l_extendedprice / CAST(5000.0 AS DOUBLE)) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin),
    Query("q270_trimmed_mean", q270TrimmedMean,
      """WITH r AS (SELECT o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) n
        |  FROM orders),
        |k AS (SELECT * FROM r WHERE rn > n // 10 AND rn <= n - n // 10)
        |SELECT o_orderpriority, count(*) AS n_kept,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) /
        |    count(*)::DOUBLE, 6) AS trimmed_mean
        |FROM k GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),
    Query("q271_dp_release", q271DpRelease,
      s"""WITH g AS (SELECT source, count(*) n FROM documents GROUP BY source),
         |u AS (SELECT source, n,
         |    (${mdHashSql("source")}::DOUBLE + 1.0) / 1152921504606846976.0 u
         |  FROM g),
         |z AS (SELECT source, n, u - 0.5 v FROM u)
         |SELECT source,
         |  round(n + (-sign(v) * ln(greatest(1e-12, 1.0 - 2.0 * abs(v)))), 4)
         |    AS noisy_n
         |FROM z WHERE n >= 5 ORDER BY source""".stripMargin),
    Query("q272_threshold_sweep", q272ThresholdSweep,
      s"""${DedupSim.shinglesCte},
         |hs AS (SELECT doc_id, lang, list_transform(s, x -> ${mdHashSql("x")}) hh FROM sh),
         |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b,
         |    len(list_intersect(a.hh, b.hh))::DOUBLE /
         |      (len(a.hh)::DOUBLE + len(b.hh)::DOUBLE
         |       - len(list_intersect(a.hh, b.hh))::DOUBLE) jac
         |  FROM hs a JOIN hs b ON a.lang = b.lang AND a.doc_id < b.doc_id),
         |p5 AS (SELECT * FROM pairs WHERE jac >= 0.5),
         |th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) t)
         |SELECT t, count(*) AS n_pairs,
         |  round(sum(CAST(round(jac, 6) AS DECIMAL(20,6)))::DOUBLE /
         |    count(*)::DOUBLE, 6) AS avg_jac
         |FROM p5 JOIN th ON jac >= t GROUP BY t ORDER BY t""".stripMargin),
    Query("q273_grid_density", q273GridDensity,
      """WITH pts AS (SELECT
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) / CAST(0.1 AS DOUBLE)) AS BIGINT) cx,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) / CAST(0.1 AS DOUBLE)) AS BIGINT) cy
        |  FROM embeddings),
        |cells AS (SELECT cx, cy, count(*) n FROM pts GROUP BY 1, 2),
        |offs AS (SELECT dx, dy FROM range(-1, 2) t1(dx), range(-1, 2) t2(dy)
        |  WHERE NOT (dx = 0 AND dy = 0)),
        |claims AS (SELECT cx + dx cx, cy + dy cy, n nn FROM cells, offs),
        |nbr AS (SELECT cx, cy, max(nn) nmax, sum(nn) nsum FROM claims GROUP BY 1, 2)
        |SELECT c.cx, c.cy, c.n, coalesce(nsum, 0)::BIGINT AS n_neighbors
        |FROM cells c LEFT JOIN nbr USING (cx, cy)
        |WHERE c.n >= 10 AND c.n > coalesce(nmax, 0)
        |ORDER BY cx, cy""".stripMargin),
    Query("q274_itemsets3", q274Itemsets3,
      """WITH b AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem)
        |SELECT a.p AS p1, c.p AS p2, e.p AS p3, count(*) AS n
        |FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
        |JOIN b e ON c.o = e.o AND c.p < e.p
        |GROUP BY 1, 2, 3 ORDER BY n DESC, p1, p2, p3 LIMIT 20""".stripMargin),
    Query("q275_sessionize", q275Sessionize,
      """WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) tus FROM events),
        |l AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY ts, event_id) pts
        |  FROM e),
        |f AS (SELECT *, CASE WHEN pts IS NULL OR tus - pts > 1800000000
        |    THEN 1 ELSE 0 END ns FROM l),
        |sids AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) sid FROM f),
        |sess AS (SELECT user_id, sid, count(*) n_events,
        |    (max(tus) - min(tus)) // 1000000 span_s FROM sids GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions, count(DISTINCT user_id)::BIGINT AS n_users,
        |  round(sum(n_events)::DOUBLE / count(*)::DOUBLE, 6) AS avg_events,
        |  max(span_s)::BIGINT AS max_span_s, max(n_events)::BIGINT AS max_events
        |FROM sess""".stripMargin))
}
