package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, Mod60}
import graft.sources.Tables

/** Round-11 wave 35: Merkle-style partition diff, Neyman stratified
  * allocation, group-aware k-fold leakage audit, and a freqItems
  * engine-contract audit.
  */
object Curation66 {

  /** q473: Merkle-style partition-level diff — the 100 TB integrity
    * pattern: compare two table versions block-first (one commutative
    * per-source hash each side, the q458 channel), then run row-level
    * reconciliation ONLY inside blocks whose hashes differ (a semi-join
    * prune — clean partitions are never row-diffed, which at scale is
    * the difference between reading 3 partitions and reading 300).
    * Mutations are gated per source (1-in-3 md5 channel), so most
    * blocks verify clean by hash alone; dirty blocks read out their
    * row-level removed/modified counts.
    */
  private val q473MerklePartitionDiff: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        mdHash(col("doc_id"), col("text")).as("rh"))
    // version B: only sources whose gate channel fires get mutations
    val dirtyGate = mdHash(lit("vblk"), col("source")) % 3 === 0
    val vb = base
      .filter(!(dirtyGate && mdHash(lit("vdel"), col("doc_id")) % 89 === 1))
      .withColumn("rh",
        when(dirtyGate && mdHash(lit("vmut"), col("doc_id")) % 97 === 0,
          mdHash(lit("mut"), col("rh"))).otherwise(col("rh")))
    def blockHash(df: org.apache.spark.sql.DataFrame, out: String) =
      df.groupBy("source")
        .agg((sum(col("rh").cast(DecimalType(38, 0))) % Mod60)
          .cast(LongType).as(out), count(lit(1)).as(out + "_n"))
    val ha = blockHash(base, "ha")
    val hb = blockHash(vb, "hb")
    val blocks = ha.join(hb, Seq("source"), "full_outer")
      .withColumn("dirty", coalesce(col("ha") =!= col("hb"), lit(true)))
    val dirtySrc = blocks.filter(col("dirty")).select("source")
    // row-level reconciliation only for dirty blocks (the prune)
    val a = base.join(dirtySrc, Seq("source"), "left_semi")
      .select(col("source"), col("doc_id"), col("rh").as("rha"))
    val b = vb.join(dirtySrc, Seq("source"), "left_semi")
      .select(col("doc_id"), col("rh").as("rhb"))
    val rows = a.join(b, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(sum(when(col("rhb").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("rhb").isNotNull && col("rha") =!= col("rhb"), 1L)
          .otherwise(0L)).as("n_modified"))
    blocks.join(rows, Seq("source"), "left")
      .na.fill(0L, Seq("n_removed", "n_modified"))
      .select(col("source"), col("dirty"), col("ha_n").as("n_rows_base"),
        col("hb_n").as("n_rows_new"), col("n_removed"), col("n_modified"))
      .orderBy("source")
  }

  /** q474: Neyman optimal allocation for stratified sampling — per
    * stratum (source), sample size proportional to N_h·σ_h under a
    * fixed budget of 1000, next to the design-effect ratio of Neyman
    * vs proportional variance. One keyed aggregate produces the exact
    * decimal moments; σ and weights are the same double formula in
    * both engines. The readout a 100 TB survey/eval pipeline uses to
    * split its labeling budget.
    */
  private val q474NeymanAllocation: Q = (s, d) => {
    val m = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("nh"),
        sum(col("n_chars").cast(DecimalType(38, 0))).as("sx"),
        sum((col("n_chars") * col("n_chars")).cast(DecimalType(38, 0))).as("sx2"))
      // σ quantizes to the DECIMAL(24,9) lattice BEFORE the weighted
      // sums: Σ N_h·σ_h as a raw double sum is partition-order
      // dependent, and alloc_n floors 1000·w — a 1-ulp drift in the
      // total flips the floor
      .withColumn("sigma",
        round(sqrt((col("sx2").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sx") / col("nh")) / col("nh")), 9)
          .cast(DecimalType(24, 9)))
      .withColumn("nhsh", col("nh") * col("sigma"))
    val tot = broadcast(m.agg(sum(col("nh")).as("n_pop"),
      sum(col("nhsh")).as("t_nhsh"),
      sum(col("nh") * col("sigma") * col("sigma")).as("t_nhs2")))
    m.crossJoin(tot)
      .select(col("source"), col("nh").as("n_pop_h"),
        round(col("sigma").cast(DoubleType), 6).as("sigma"),
        round(col("nhsh").cast(DoubleType) / col("t_nhsh"), 6).as("alloc_frac"),
        floor(lit(1000.0) * col("nhsh").cast(DoubleType) / col("t_nhsh"))
          .cast(LongType).as("alloc_n"),
        // deff = V_neyman / V_proportional = (Σ N_h σ_h)² / (N · Σ N_h σ_h²)
        round(col("t_nhsh").cast(DoubleType) * col("t_nhsh") /
          (col("n_pop") * col("t_nhs2")), 6).as("design_effect"))
      .orderBy("source")
  }

  /** q475: group-aware k-fold assignment audit — folds cut by USER
    * hash (never by event), so a user's events can't straddle train
    * and validation (the leakage k-fold exists to prevent). Readout
    * per fold: events, users, the L∞ deviation of its event-type mix
    * from the global mix, and the corpus-wide integrity count of
    * users appearing in more than one fold (must be 0). Two keyed
    * aggregates over one shuffle each.
    */
  private val q475GroupKfold: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"))
      .withColumn("fold", mdHash(lit("fold"), col("user_id")) % 5)
    val mix = ev.groupBy("fold", "event_type").agg(count(lit(1)).as("n"))
    val foldTot = mix.groupBy("fold").agg(sum(col("n")).as("nf"))
    val globalMix = broadcast(mix.groupBy("event_type")
      .agg(sum(col("n")).as("ng"))
      .crossJoin(mix.agg(sum(col("n")).as("nt")).withColumnRenamed("nt", "nt"))
      .select(col("event_type"), (col("ng").cast(DoubleType) / col("nt")).as("pg")))
    val dev = mix.join(foldTot, Seq("fold")).join(globalMix, Seq("event_type"))
      .groupBy("fold")
      .agg(round(max(abs(col("n").cast(DoubleType) / col("nf") - col("pg"))), 6)
        .as("max_mix_dev"))
    val users = ev.groupBy("fold").agg(countDistinct(col("user_id")).as("n_users"))
    val integrity = broadcast(ev.groupBy("user_id")
      .agg(countDistinct(col("fold")).as("nf"))
      .agg(sum(when(col("nf") > 1, 1L).otherwise(0L)).as("n_leaky_users")))
    foldTot.join(users, Seq("fold")).join(dev, Seq("fold")).crossJoin(integrity)
      .select(col("fold"), col("nf").as("n_events"), col("n_users"),
        col("max_mix_dev"), col("n_leaky_users"))
      .orderBy("fold")
  }

  /** q476: freqItems engine-contract audit (the q07/q472 convention) —
    * Spark's df.stat.freqItems(support) promises every item with
    * frequency > support·n is in its report (false positives allowed).
    * The exact frequent set comes from one keyed count; the audit
    * checks containment of every true-frequent event type at
    * support = 0.1. The oracle pins the exact side and expects the
    * containment boolean to hold; the sketch's own (engine-specific)
    * output is never hashed.
    */
  private val q476FreqItemsAudit: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"))
    val reported = ev.stat.freqItems(Seq("event_type"), 0.1)
      .head().getSeq[String](0).toSet // bounded: <= 1/support entries
    val spark = s
    import spark.implicits._
    val repDf = broadcast(reported.toSeq.toDF("event_type")
      .withColumn("in_report", lit(true)))
    val n = broadcast(ev.agg(count(lit(1)).as("n")))
    ev.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .crossJoin(n)
      .filter(col("cnt") > col("n") * 0.1)
      .join(repDf, Seq("event_type"), "left")
      .agg(count(lit(1)).as("n_true_frequent"),
        min(coalesce(col("in_report"), lit(false))).as("all_found"))
  }

  val queries: Seq[Query] = Seq(
    Query("q473_merkle_diff", q473MerklePartitionDiff,
      """WITH base AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '|' || text), 1, 15))::BIGINT rh
        |  FROM documents),
        |gate AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5('vblk|' || source), 1, 15))::BIGINT % 3 = 0 dirty_gate
        |  FROM base),
        |vb AS (SELECT b.doc_id, b.source,
        |    CASE WHEN g.dirty_gate AND ('0x' || substr(md5('vmut|'
        |        || b.doc_id::VARCHAR), 1, 15))::BIGINT % 97 = 0
        |      THEN ('0x' || substr(md5('mut|' || b.rh::VARCHAR), 1, 15))::BIGINT
        |      ELSE b.rh END rh
        |  FROM base b JOIN gate g USING (source)
        |  WHERE NOT (g.dirty_gate AND ('0x' || substr(md5('vdel|'
        |    || b.doc_id::VARCHAR), 1, 15))::BIGINT % 89 = 1)),
        |ha AS (SELECT source, CAST(sum(rh) % 1152921504606846976 AS BIGINT) ha,
        |    count(*) ha_n FROM base GROUP BY source),
        |hb AS (SELECT source, CAST(sum(rh) % 1152921504606846976 AS BIGINT) hb,
        |    count(*) hb_n FROM vb GROUP BY source),
        |blocks AS (SELECT source, ha, hb, ha_n, hb_n,
        |    coalesce(ha <> hb, TRUE) dirty
        |  FROM ha FULL OUTER JOIN hb USING (source)),
        |rows_ AS (SELECT a.source,
        |    sum(CASE WHEN b.rh IS NULL THEN 1 ELSE 0 END) n_removed,
        |    sum(CASE WHEN b.rh IS NOT NULL AND a.rh <> b.rh THEN 1 ELSE 0 END)
        |      n_modified
        |  FROM base a LEFT JOIN vb b ON a.doc_id = b.doc_id
        |  WHERE a.source IN (SELECT source FROM blocks WHERE dirty)
        |  GROUP BY a.source)
        |SELECT b.source, b.dirty, b.ha_n AS n_rows_base, b.hb_n AS n_rows_new,
        |  coalesce(r.n_removed, 0)::BIGINT AS n_removed,
        |  coalesce(r.n_modified, 0)::BIGINT AS n_modified
        |FROM blocks b LEFT JOIN rows_ r USING (source)
        |ORDER BY b.source""".stripMargin),
    Query("q474_neyman_alloc", q474NeymanAllocation,
      """WITH m AS (SELECT source, count(*) nh,
        |    sum(n_chars::HUGEINT) sx, sum((n_chars * n_chars)::HUGEINT) sx2
        |  FROM documents GROUP BY source),
        |sig AS (SELECT source, nh,
        |    CAST(round(sqrt((sx2::DOUBLE - sx::DOUBLE * sx / nh) / nh), 9)
        |      AS DECIMAL(24,9)) sigma
        |  FROM m),
        |w AS (SELECT source, nh, sigma, nh * sigma nhsh FROM sig),
        |tot AS (SELECT sum(nh) n_pop, sum(nhsh) t_nhsh,
        |    sum(nh * sigma * sigma) t_nhs2 FROM w)
        |SELECT source, nh AS n_pop_h, round(sigma::DOUBLE, 6) AS sigma,
        |  round(nhsh::DOUBLE / t_nhsh, 6) AS alloc_frac,
        |  CAST(floor(1000.0 * nhsh::DOUBLE / t_nhsh) AS BIGINT) AS alloc_n,
        |  round(t_nhsh::DOUBLE * t_nhsh / (n_pop * t_nhs2), 6) AS design_effect
        |FROM w, tot ORDER BY source""".stripMargin),
    Query("q475_group_kfold", q475GroupKfold,
      """WITH ev AS (SELECT user_id, event_type,
        |    ('0x' || substr(md5('fold|' || user_id::VARCHAR), 1, 15))::BIGINT % 5
        |      fold
        |  FROM events),
        |mix AS (SELECT fold, event_type, count(*) n FROM ev GROUP BY 1, 2),
        |ft AS (SELECT fold, sum(n) nf FROM mix GROUP BY fold),
        |gm AS (SELECT event_type, sum(n)::DOUBLE
        |    / (SELECT sum(n) FROM mix) pg FROM mix GROUP BY event_type),
        |dev AS (SELECT fold, round(max(abs(n::DOUBLE / nf - pg)), 6) max_mix_dev
        |  FROM mix JOIN ft USING (fold) JOIN gm USING (event_type) GROUP BY fold),
        |us AS (SELECT fold, count(DISTINCT user_id) n_users FROM ev GROUP BY fold),
        |integ AS (SELECT sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) n_leaky_users
        |  FROM (SELECT user_id, count(DISTINCT fold) nf FROM ev GROUP BY user_id))
        |SELECT ft.fold, ft.nf::BIGINT AS n_events, us.n_users, dev.max_mix_dev,
        |  integ.n_leaky_users::BIGINT AS n_leaky_users
        |FROM ft JOIN us USING (fold) JOIN dev USING (fold), integ
        |ORDER BY ft.fold""".stripMargin),
    Query("q476_freq_items_audit", q476FreqItemsAudit,
      """WITH n AS (SELECT count(*) n FROM events)
        |SELECT count(*) AS n_true_frequent, TRUE AS all_found
        |FROM (SELECT event_type, count(*) cnt FROM events GROUP BY event_type)
        |  , n
        |WHERE cnt > n.n * 0.1""".stripMargin))
}
