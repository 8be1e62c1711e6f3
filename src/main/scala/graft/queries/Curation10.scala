package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, words}
import graft.operators.Ranking
import graft.sources.Tables

/** Round-5 wave 6: vocabulary coverage (OOV rate), reproducible
  * epoch ordering, supervised triplet mining, chat-structure lint,
  * and content-addressed storage dedup across snapshots.
  */
object Curation10 {

  /** Out-of-vocabulary rate per source against the corpus top-25
    * vocabulary — the tokenizer-coverage audit run before committing a
    * vocab. The vocabulary is a broadcastable dimension (top-k by
    * (count desc, word) — a total order), so the per-source scan never
    * shuffles the token stream: one broadcast left join + one keyed
    * aggregation.
    */
  private val q209OovRate: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(25)
      .select(col("w"), lit(1).as("iv"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
      .orderBy("source")
  }

  /** Reproducible per-epoch training order: epoch e's permutation is
    * the sort by md5("ep{e}|doc_id") — seeded, content-derived, and
    * identical on any cluster size. Ranks come from the bucketed
    * distributed global rank ([[graft.operators.Ranking.globalRank]] —
    * no single-partition window), and the permutation is pinned by an
    * order-independent checksum Σ rank·doc_id plus the first-5 head.
    */
  private val q210EpochOrder: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val ep = docs.select(col("doc_id"), explode(lit(Array(0, 1, 2))).as("epoch"))
      .withColumn("k", mdHash(concat(
        lit("ep"), col("epoch").cast("string"), lit("|"), col("doc_id").cast("string"))))
    val ranked = Ranking.globalRank(ep, "grank", col("epoch"), col("k"), col("doc_id"))
      .crossJoin(broadcast(n))
      .withColumn("rnk", col("grank") - col("epoch") * col("n_docs"))
    ranked.groupBy("epoch")
      .agg(count(lit(1)).as("n"),
        sum(col("rnk") * col("doc_id")).as("perm_checksum"),
        concat_ws(",", expr(
          "transform(array_sort(collect_list(CASE WHEN rnk <= 5 THEN struct(rnk, doc_id) END)), p -> p.doc_id)"))
          .as("head5"))
      .select(col("epoch").cast(LongType).as("epoch"), col("n"),
        col("perm_checksum"), col("head5"))
      .orderBy("epoch")
  }

  /** Supervised triplet mining for metric learning: for each anchor of
    * the bounded probe set, the hardest positive (same label, highest
    * cosine... of the OTHERS) and hardest negative (different label,
    * highest cosine), plus the triplet margin. The anchor set
    * broadcasts (bounded, the q183 probe-set discipline) and both
    * argmaxes are conditional `max_by` partial aggregates — no
    * corpus-wide window, no all-pairs corpus join; the exact tier of
    * the q174 LSH-bucketed miner.
    */
  private val q211TripletMining: Q = (s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("v"), col("label"))
    val anchors = e.filter(col("vec_id") % 100 === 7 && col("vec_id") < 1000)
      .select(col("vec_id").as("aid"), col("v").as("va"), col("label").as("la"))
    val cos = expr("graft_dot(va, v)") /
      sqrt(expr("graft_dot(va, va)") * expr("graft_dot(v, v)"))
    e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("aid"))
      .select(col("aid"), col("la").cast(LongType).as("la"), col("vec_id").as("nid"),
        col("label"), round(cos, 9).as("c"))
      .groupBy("aid", "la")
      .agg(
        max_by(col("nid"), when(col("label") === col("la"), struct(col("c"), -col("nid"))))
          .as("pos_id"),
        max(when(col("label") === col("la"), col("c"))).as("pos_cos"),
        max_by(col("nid"), when(col("label") =!= col("la"), struct(col("c"), -col("nid"))))
          .as("hardneg_id"),
        max(when(col("label") =!= col("la"), col("c"))).as("neg_cos"))
      .select(col("aid"), col("la"), col("pos_id"), round(col("pos_cos"), 6).as("pos_cos"),
        col("hardneg_id"), round(col("neg_cos"), 6).as("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
      .orderBy("aid")
  }

  /** Chat-structure lint over per-user event conversations: role
    * alternation violations (consecutive same-role turns), run counts
    * and longest same-role run, and user-turn balance — the structural
    * QA pass chat corpora get before training. Two keyed windows per
    * user timeline plus one (user, run) aggregation; every shuffle is
    * on user_id.
    */
  private val q212ChatLint: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
      when(col("event_type").isin("click", "view"), "user")
        .otherwise("assistant").as("role"))
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val runs = ev.withColumn("prev", lag(col("role"), 1).over(w))
      .withColumn("viol", when(col("role") === col("prev"), 1L).otherwise(0L))
      .withColumn("run_id", sum(when(col("prev").isNull || col("role") =!= col("prev"), 1L)
        .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perUser = runs.groupBy("user_id")
      .agg(count(lit(1)).as("n_turns"), sum(col("viol")).as("n_violations"),
        max(col("run_id")).as("n_runs"),
        sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"))
    val runLens = runs.groupBy("user_id", "run_id").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max(col("len")).as("max_run"))
    perUser.join(runLens, "user_id")
      .select(col("user_id"), col("n_turns"), col("n_violations"), col("n_runs"),
        col("max_run"), round(col("n_user") / col("n_turns"), 6).as("user_frac"))
      .orderBy("user_id")
  }

  /** Content-addressed storage dedup across corpus snapshots: both
    * q187-style snapshot versions are CDC-chunked
    * ([[Curation4.cdcChunkTable]] — the same boundaries a content
    * store would compute), and ROLLUP over (version) yields per-version
    * and union-level chunk instance vs unique-hash counts — the
    * "how much does the chunk store save across versions" accounting
    * of incremental dataset publishing. Chunk hashing is one keyed
    * pass; the rollup distinct is a two-level partial aggregation.
    */
  private val q213StorageDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val v1 = docs.select(lit("v1").as("ver"), col("doc_id"), col("text"))
    val v2 = docs.filter(col("doc_id") % 101 =!= 0)
      .select(lit("v2").as("ver"), col("doc_id"),
        when(col("doc_id") % 97 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 89 === 0)
        .select(lit("v2").as("ver"), (col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" new")).as("text")))
    val chunks = Curation4.cdcChunkTable(
      graft.operators.Kernels.fanOut( // single-task CDC chunk kernel otherwise
        v1.unionByName(v2).select(col("ver"), col("doc_id"), words(col("text")).as("w"))),
      Seq("ver", "doc_id"))
    chunks.rollup("ver")
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("chunk_hash")).as("n_unique"))
      .select(coalesce(col("ver"), lit("union")).as("ver"), col("n_chunks"),
        col("n_tokens"), col("n_unique"),
        round(col("n_chunks") / col("n_unique"), 6).as("dedup_ratio"))
      .orderBy("ver")
  }

  val queries: Seq[Query] = Seq(
    Query("q209_oov_rate", q209OovRate,
      """WITH t AS (SELECT source, unnest(str_split(text, ' ')) w FROM documents),
        |t2 AS (SELECT source, w FROM t WHERE w <> ''),
        |v AS (SELECT w FROM (SELECT w, count(*) c FROM t2 GROUP BY w
        |  ORDER BY c DESC, w LIMIT 25))
        |SELECT source, CAST(count(*) AS BIGINT) n_tokens,
        |  CAST(sum(CASE WHEN w NOT IN (SELECT w FROM v) THEN 1 ELSE 0 END) AS BIGINT) n_oov,
        |  round(sum(CASE WHEN w NOT IN (SELECT w FROM v) THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) oov_rate
        |FROM t2 GROUP BY source ORDER BY source""".stripMargin),
    Query("q210_epoch_order", q210EpochOrder,
      """WITH ep AS (SELECT doc_id, e,
        |    ('0x' || substr(md5('ep' || e || '|' || doc_id), 1, 15))::BIGINT k
        |  FROM documents, unnest([0, 1, 2]) AS t(e)),
        |r AS (SELECT e, doc_id, row_number() OVER (PARTITION BY e ORDER BY k, doc_id) rnk FROM ep)
        |SELECT CAST(e AS BIGINT) epoch, CAST(count(*) AS BIGINT) n,
        |  CAST(sum(rnk * doc_id) AS BIGINT) perm_checksum,
        |  string_agg(CASE WHEN rnk <= 5 THEN doc_id END, ',' ORDER BY rnk) head5
        |FROM r GROUP BY e ORDER BY e""".stripMargin),
    Query("q211_triplet_mining", q211TripletMining,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v, label
        |    FROM embeddings),
        |a AS (SELECT vec_id AS aid, v AS va, label AS la FROM e WHERE vec_id % 100 = 7 AND vec_id < 1000),
        |sims AS (SELECT aid, la, e.vec_id AS nid, e.label,
        |    round(list_dot_product(va, v)
        |      / sqrt(list_dot_product(va, va) * list_dot_product(v, v)), 9) AS c
        |  FROM a JOIN e ON e.vec_id <> aid),
        |pos AS (SELECT aid, nid, c FROM (SELECT aid, nid, c,
        |    row_number() OVER (PARTITION BY aid ORDER BY c DESC, nid ASC) rk
        |  FROM sims WHERE label = la) WHERE rk = 1),
        |neg AS (SELECT aid, nid, c FROM (SELECT aid, nid, c,
        |    row_number() OVER (PARTITION BY aid ORDER BY c DESC, nid ASC) rk
        |  FROM sims WHERE label <> la) WHERE rk = 1)
        |SELECT a.aid, CAST(la AS BIGINT) la, pos.nid pos_id, round(pos.c, 6) pos_cos,
        |  neg.nid hardneg_id, round(neg.c, 6) neg_cos, round(pos.c - neg.c, 6) margin
        |FROM a JOIN pos ON a.aid = pos.aid JOIN neg ON a.aid = neg.aid
        |ORDER BY a.aid""".stripMargin),
    Query("q212_chat_lint", q212ChatLint,
      """WITH ev AS (SELECT user_id, event_id,
        |    CASE WHEN event_type IN ('click', 'view') THEN 'user' ELSE 'assistant' END rl
        |  FROM events),
        |r AS (SELECT user_id, event_id, rl,
        |    lag(rl) OVER (PARTITION BY user_id ORDER BY event_id) prev FROM ev),
        |rr AS (SELECT *, CASE WHEN rl = prev THEN 1 ELSE 0 END viol,
        |    sum(CASE WHEN prev IS NULL OR rl <> prev THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) run_id
        |  FROM r),
        |per_user AS (SELECT user_id, CAST(count(*) AS BIGINT) n_turns,
        |    CAST(sum(viol) AS BIGINT) n_violations, CAST(max(run_id) AS BIGINT) n_runs,
        |    sum(CASE WHEN rl = 'user' THEN 1 ELSE 0 END) n_user
        |  FROM rr GROUP BY user_id),
        |rl AS (SELECT user_id, CAST(max(len) AS BIGINT) max_run FROM (
        |  SELECT user_id, run_id, count(*) len FROM rr GROUP BY 1, 2) GROUP BY user_id)
        |SELECT user_id, n_turns, n_violations, n_runs, max_run,
        |  round(n_user::DOUBLE / n_turns, 6) user_frac
        |FROM per_user JOIN rl USING (user_id) ORDER BY user_id""".stripMargin),
    Query("q213_storage_dedup", q213StorageDedup,
      """WITH v AS (
        |  SELECT 'v1' ver, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 'v2', doc_id, CASE WHEN doc_id % 97 = 0 THEN text || ' v2' ELSE text END
        |  FROM documents WHERE doc_id % 101 <> 0
        |  UNION ALL
        |  SELECT 'v2', doc_id + 100000, text || ' new' FROM documents WHERE doc_id % 89 = 0),
        |toks AS (SELECT ver, doc_id, w, unnest(generate_series(1, len(w))) AS pos
        |  FROM (SELECT ver, doc_id, str_split(text, ' ') AS w FROM v)),
        |flagged AS (SELECT ver, doc_id, pos, w[pos] AS tok,
        |    CASE WHEN pos = 1 OR
        |      ('0x' || substr(md5(array_to_string(w[greatest(1, pos-3):pos], ' ')), 1, 15))::BIGINT % 16 = 0
        |    THEN 1 ELSE 0 END AS boundary
        |  FROM toks),
        |chunked AS (SELECT ver, doc_id, pos, tok,
        |    sum(boundary) OVER (PARTITION BY ver, doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_idx
        |  FROM flagged),
        |chunks AS (SELECT ver, doc_id, chunk_idx, count(*) AS n_tokens,
        |    ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 15))::BIGINT AS chunk_hash
        |  FROM chunked GROUP BY ver, doc_id, chunk_idx)
        |SELECT coalesce(ver, 'union') ver, CAST(count(*) AS BIGINT) n_chunks,
        |  CAST(sum(n_tokens) AS BIGINT) n_tokens,
        |  CAST(count(DISTINCT chunk_hash) AS BIGINT) n_unique,
        |  round(count(*)::DOUBLE / count(DISTINCT chunk_hash), 6) dedup_ratio
        |FROM chunks GROUP BY ROLLUP (ver) ORDER BY ver""".stripMargin))
}
