package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, mdHashSql}
import graft.operators.{Dedup, Materialize, TopK}
import graft.sources.Tables

/** Round-5 wave 7: character-entropy quality scoring, k-anonymity
  * auditing, temperature-based mixture resampling, leakage-safe
  * cluster-aware splits, and kNN label-noise detection.
  */
object Curation11 {

  /** Per-source character-entropy profile — the compressibility proxy
    * that catches boilerplate/binary junk plain length stats miss.
    * Entirely map-only: each doc's Shannon entropy comes from a JVM
    * char-count kernel (no char explosion, no shuffle of the text
    * stream); only the final per-source rollup shuffles ~|sources|
    * rows. Σ cnt·log2(cnt) runs as exact BigDecimal on 9-dp-rounded
    * log terms — bit-identical to the declarative HOF formulation this
    * replaces (same Math.log-ratio log2, same HALF_UP rounding, and
    * the decimal sum is order-independent), which interpreted
    * O(distinct × len) comparisons per doc and measured 2.9 s at
    * sf0.1 vs ~0.4 s for the kernel.
    */
  private val q214CharEntropy: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val ents = Tables.documents(s, d)
      .select(col("source"), col("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        val LOG2 = java.lang.Math.log(2.0)
        it.flatMap { case (source, text) =>
          val counts = new java.util.HashMap[Int, Long]()
          var n = 0L
          var i = 0
          while (i < text.length) {
            val cp = text.codePointAt(i)
            i += java.lang.Character.charCount(cp)
            val prev = counts.getOrDefault(cp, 0L)
            counts.put(cp, prev + 1L)
            n += 1
          }
          if (n == 0) Iterator.empty
          else {
            // Σ cnt·round(log2(cnt), 9) with exact decimal arithmetic —
            // identical to the former aggregate() over DecimalType(30,9)
            var sum = java.math.BigDecimal.ZERO.setScale(9)
            val vals = counts.values().iterator()
            while (vals.hasNext) {
              val c: Long = vals.next()
              val l2 = java.lang.Math.log(c.toDouble) / LOG2
              val r = java.math.BigDecimal.valueOf(l2)
                .setScale(9, java.math.RoundingMode.HALF_UP)
              sum = sum.add(r.multiply(java.math.BigDecimal.valueOf(c)))
            }
            val log2n = java.lang.Math.log(n.toDouble) / LOG2
            val ent = java.math.BigDecimal.valueOf(log2n - sum.doubleValue() / n)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            Iterator.single((source, ent))
          }
        }
      }.toDF("source", "ent")
    ents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("ent").cast(DecimalType(12, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("avg_entropy"),
        sum(when(col("ent") < 3.0, 1L).otherwise(0L)).as("n_low"))
      .orderBy("source")
  }

  /** k-anonymity audit over quasi-identifiers (nation, market segment,
    * account-balance kilobucket) — the re-identification risk scan a
    * PII release gate runs. Two chained aggregations, both
    * partial-aggregable; equivalence classes never leave the
    * executors.
    */
  private val q215KAnonymity: Q = (s, d) => {
    val cls = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).as("bal_bucket"))
      .agg(count(lit(1)).as("k"))
    cls.groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"),
        sum(when(col("k") < 5, 1L).otherwise(0L)).as("n_small_classes"),
        sum(when(col("k") < 5, col("k")).otherwise(0L)).as("n_risk_rows"),
        min(col("k")).as("min_k"))
      .withColumn("risk_frac", round(col("n_risk_rows") / col("n_rows"), 6))
      .orderBy("segment")
  }

  /** Temperature-0.5 mixture resampling (the multilingual-LM recipe:
    * source weight ∝ √count, total size preserved): per-doc copy
    * counts are floor(rate) plus a deterministic hash-Bernoulli for
    * the fraction, realized by a map-side sequence explode. The rate
    * table is a |sources|-row broadcast; nothing about the corpus
    * shuffles except the final per-source rollup. √count terms sum in
    * DECIMAL so the normalizer is partition-order independent.
    */
  private val q216MixtureResample: Q = (s, d) => {
    val st = Tables.documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("ns"))
    val tots = st.agg(sum(col("ns")).as("tot"),
      sum(round(sqrt(col("ns")), 9).cast(DecimalType(20, 9))).as("z"))
    val rates = st.crossJoin(broadcast(tots))
      .withColumn("rate",
        round(sqrt(col("ns")), 9) / col("z").cast(DoubleType) * col("tot") / col("ns"))
      .select(col("source"), col("ns"), col("rate"))
    val resampled = Tables.documents(s, d).select(col("source"), col("doc_id"))
      .join(broadcast(rates), "source")
      .withColumn("copies", floor(col("rate")).cast(LongType) +
        when(mdHash(concat(lit("mix|"), col("doc_id").cast("string"))) % 1000000 <
          (col("rate") - floor(col("rate"))) * 1000000, 1L).otherwise(0L))
      .filter(col("copies") > 0)
      .select(col("source"), col("ns"), col("rate"), col("doc_id"),
        explode(sequence(lit(1L), col("copies"))).as("ci"))
    resampled.groupBy("source")
      .agg(max(col("ns")).as("n_docs"), count(lit(1)).as("n_copies"),
        sum(col("doc_id") * col("ci")).as("checksum"),
        round(max(col("rate")), 6).as("target_rate"),
        round(count(lit(1)) / max(col("ns")), 6).as("realized_rate"))
      .orderBy("source")
  }

  /** Leakage-safe train/eval split: near-dup clusters (MinHash-LSH →
    * connected components, the q68 machinery) are the split unit, so
    * near-duplicate pairs can never straddle the boundary — proven
    * in-result by `cross_split_pairs` = 0 beside the naive per-doc
    * split's nonzero `naive_cross_pairs`. Split assignment is a pure
    * hash of the cluster id; the leakage probe joins the (tiny) pair
    * set against the assignment, never corpus×corpus.
    */
  private val q217ClusterSplit: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      threshold = 0.8, numHashes = 48, bands = 12)
      .select("id_a", "id_b").persist()
    val clusters = Dedup.nearDupClusters(pairs)
    val sp = docs.select(col("doc_id"))
      .join(clusters, docs("doc_id") === clusters("id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cid"))
      .withColumn("split",
        when(mdHash(concat(lit("split|"), col("cid").cast("string"))) % 10 < 8,
          "train").otherwise("eval"))
      .withColumn("nsplit",
        when(mdHash(concat(lit("split|"), col("doc_id").cast("string"))) % 10 < 8,
          "train").otherwise("eval"))
    val leak = pairs
      .join(sp.select(col("doc_id").as("ida"), col("split").as("sa"),
        col("nsplit").as("na")), col("id_a") === col("ida"))
      .join(sp.select(col("doc_id").as("idb"), col("split").as("sb"),
        col("nsplit").as("nb")), col("id_b") === col("idb"))
      .agg(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("cross_split_pairs"),
        sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)).as("naive_cross_pairs"))
    val out = sp.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("cid")).as("n_groups"))
      .crossJoin(broadcast(leak))
      .orderBy("split")
    Materialize.spillRelease(out, pairs)
  }

  /** kNN label-noise audit: each probe's 5 nearest corpus neighbors by
    * cosine (native bounded-heap top-k — no corpus-wide window or
    * sort) vote on its label; a majority disagreement flags the probe
    * as likely mislabeled. The probe set is bounded and broadcast
    * (q183 discipline), so the corpus side is one map-only pass;
    * neighbor means run in DECIMAL for order independence.
    */
  private val q218KnnLabelNoise: Q = (s, d) => {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("v"), col("label"))
    val probes = e.filter(col("vec_id") % 20 === 3 && col("vec_id") < 2000)
      .select(col("vec_id").as("aid"), col("v").as("va"), col("label").as("la"))
    val cos = expr("graft_dot(va, v)") /
      sqrt(expr("graft_dot(va, va)") * expr("graft_dot(v, v)"))
    val sims = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("aid"))
      .select(col("aid"), col("la"), col("vec_id").as("nid"), col("label"),
        round(cos, 9).as("c"))
    val top5 = TopK.perGroup(sims, Seq("aid"),
      Seq(("c", true), ("nid", false)), k = 5, rankName = "rk")
    // single pass over the 5-row groups: the majority vote runs in-row
    // over the collected label bag (k is a constant, so this is O(k²)
    // per probe, not a second aggregation tree over the top-k operator)
    val agged = top5.groupBy("aid", "la")
      .agg(collect_list(col("label")).as("ls"),
        round(sum(col("c").cast(DecimalType(20, 9))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_cos"))
      .withColumn("mj", array_max(transform(array_distinct(col("ls")),
        l => struct(size(filter(col("ls"), x => x === l)).as("cnt"),
          (-l).as("negl")))))
    agged.select(col("aid"), col("la").cast(LongType).as("la"),
        (-col("mj.negl")).cast(LongType).as("maj_label"),
        col("mj.cnt").cast(LongType).as("n_votes"), col("mean_cos"),
        (-col("mj.negl") =!= col("la")).as("noisy"))
      .orderBy("aid")
  }

  val queries: Seq[Query] = Seq(
    Query("q214_char_entropy", q214CharEntropy,
      """WITH c AS (SELECT source,
        |    list_filter(string_split(text, ''), x -> x <> '') chars FROM documents),
        |e AS (SELECT source, len(chars) n,
        |    list_transform(list_sort(list_distinct(chars)),
        |      ch -> len(list_filter(chars, x -> x = ch))) cnts
        |  FROM c WHERE len(chars) > 0),
        |s AS (SELECT source, n,
        |    list_sum(list_transform(cnts,
        |      cnt -> CAST(round(ln(cnt) / ln(2), 9) AS DECIMAL(20,9)) * cnt)) ssum
        |  FROM e),
        |ent AS (SELECT source,
        |    round(ln(n) / ln(2) - CAST(ssum AS DOUBLE) / n, 6) ent FROM s)
        |SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |  round(CAST(sum(CAST(ent AS DECIMAL(12,6))) AS DOUBLE) / count(*), 6)
        |    AS avg_entropy,
        |  CAST(sum(CASE WHEN ent < 3.0 THEN 1 ELSE 0 END) AS BIGINT) n_low
        |FROM ent GROUP BY source ORDER BY source""".stripMargin),
    Query("q215_k_anonymity", q215KAnonymity,
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    floor(c_acctbal / 1000.0) bal_bucket, count(*) k
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT c_mktsegment segment, CAST(count(*) AS BIGINT) n_classes,
        |  CAST(sum(k) AS BIGINT) n_rows,
        |  CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) n_small_classes,
        |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) n_risk_rows,
        |  CAST(min(k) AS BIGINT) min_k,
        |  round(sum(CASE WHEN k < 5 THEN k ELSE 0 END)::DOUBLE / sum(k), 6) risk_frac
        |FROM cls GROUP BY c_mktsegment ORDER BY segment""".stripMargin),
    Query("q216_mixture_resample", q216MixtureResample,
      s"""WITH st AS (SELECT source, count(*) ns FROM documents GROUP BY source),
         |tots AS (SELECT CAST(sum(ns) AS BIGINT) tot,
         |    sum(CAST(round(sqrt(ns), 9) AS DECIMAL(20,9))) z FROM st),
         |r AS (SELECT source, ns,
         |    round(sqrt(ns), 9) / CAST(z AS DOUBLE) * tot / ns AS rate
         |  FROM st, tots),
         |dd AS (SELECT d.doc_id, d.source, ns, rate,
         |    CAST(floor(rate) AS BIGINT) + CASE WHEN
         |      ${mdHashSql("'mix|' || doc_id")} % 1000000 < (rate - floor(rate)) * 1000000
         |    THEN 1 ELSE 0 END copies
         |  FROM documents d JOIN r USING (source)),
         |ex AS (SELECT source, ns, rate, doc_id,
         |    unnest(generate_series(1, copies)) ci FROM dd WHERE copies > 0)
         |SELECT source, CAST(max(ns) AS BIGINT) n_docs,
         |  CAST(count(*) AS BIGINT) n_copies,
         |  CAST(sum(doc_id * ci) AS BIGINT) checksum,
         |  round(max(rate), 6) target_rate,
         |  round(count(*)::DOUBLE / max(ns), 6) realized_rate
         |FROM ex GROUP BY source ORDER BY source""".stripMargin),
    Query("q217_cluster_split", q217ClusterSplit,
      s"""${DedupSim.lshClusterCtes},
         |assig AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) cid
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |sp AS (SELECT doc_id, cid,
         |    CASE WHEN ${mdHashSql("'split|' || cid")} % 10 < 8
         |      THEN 'train' ELSE 'eval' END split,
         |    CASE WHEN ${mdHashSql("'split|' || doc_id")} % 10 < 8
         |      THEN 'train' ELSE 'eval' END nsplit
         |  FROM assig),
         |leak AS (SELECT
         |    CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) cs,
         |    CAST(sum(CASE WHEN a.nsplit <> b.nsplit THEN 1 ELSE 0 END) AS BIGINT) ns
         |  FROM pairs p JOIN sp a ON p.id_a = a.doc_id JOIN sp b ON p.id_b = b.doc_id)
         |SELECT split, CAST(count(*) AS BIGINT) n_docs,
         |  CAST(count(DISTINCT cid) AS BIGINT) n_groups,
         |  (SELECT cs FROM leak) cross_split_pairs,
         |  (SELECT ns FROM leak) naive_cross_pairs
         |FROM sp GROUP BY split ORDER BY split""".stripMargin),
    Query("q218_knn_label_noise", q218KnnLabelNoise,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v,
        |    label FROM embeddings),
        |a AS (SELECT vec_id AS aid, v AS va, label AS la FROM e
        |  WHERE vec_id % 20 = 3 AND vec_id < 2000),
        |sims AS (SELECT aid, la, e.vec_id AS nid, e.label,
        |    round(list_dot_product(va, v)
        |      / sqrt(list_dot_product(va, va) * list_dot_product(v, v)), 9) AS c
        |  FROM a JOIN e ON e.vec_id <> aid),
        |top5 AS (SELECT aid, la, nid, label, c FROM (SELECT aid, la, nid, label, c,
        |    row_number() OVER (PARTITION BY aid ORDER BY c DESC, nid ASC) rk
        |  FROM sims) WHERE rk <= 5),
        |votes AS (SELECT aid, la, label, count(*) cnt FROM top5 GROUP BY 1, 2, 3),
        |maj AS (SELECT aid, la, label maj_label, cnt FROM (SELECT *,
        |    row_number() OVER (PARTITION BY aid ORDER BY cnt DESC, label ASC) rn
        |  FROM votes) WHERE rn = 1),
        |m AS (SELECT aid, round(CAST(sum(CAST(c AS DECIMAL(20,9))) AS DOUBLE)
        |    / count(*), 6) mean_cos FROM top5 GROUP BY aid)
        |SELECT maj.aid, CAST(la AS BIGINT) la, CAST(maj_label AS BIGINT) maj_label,
        |  CAST(cnt AS BIGINT) n_votes, mean_cos, maj_label <> la AS noisy
        |FROM maj JOIN m USING (aid) ORDER BY maj.aid""".stripMargin))
}
