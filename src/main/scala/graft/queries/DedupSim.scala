package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{Q, Query}
import graft.functions.TextFunctions.mdHashSql
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Dedup + similarity-search queries (the LLM-pipeline core).
  *
  * The harness corpora contain injected word-level near-duplicates
  * (3-gram Jaccard ≈ 0.99 pairs) but no exact duplicates and no
  * embedding near-duplicates — so exact-dedup and cosine queries first
  * union in deterministic clones/perturbations (reproduced identically
  * by the oracle SQL), then run the discovery operator.
  */
object DedupSim {

  /** documents ∪ clone of every 10th doc (new ids +100000). */
  private def dupCorpus(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** embeddings ∪ perturbed copy of every 5th vector (ids +100000):
    * component j scaled by 1 + 0.1·((37j mod 19)−9)/9 — deterministic
    * double arithmetic, cosine ≈ 0.998 against the original.
    */
  private def nearDupVectors(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("e"))
    e.unionByName(
      e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("e"), (x, i) =>
            x * (lit(1.0) + lit(0.1) *
              (((i + 1) * 37 % 19 - 9).cast(DoubleType) / lit(9.0)))).as("e")))
  }

  private val q70DedupExact: Q = (s, d) =>
    Dedup.exactGroups(dupCorpus(s, d), "doc_id", "text")
      .filter(col("n_copies") >= 2)
      .orderBy("content_hash")

  private val q71MinhashLsh: Q = (s, d) =>
    Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8, numHashes = 48, bands = 12)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
      .orderBy("id_a", "id_b")

  private val q72Simhash: Q = (s, d) =>
    Dedup.simhashGroups(Tables.documents(s, d), "doc_id", "text")
      .orderBy("sh64")

  /** SimHash pairs within Hamming distance 1 (chunked 32-bit
    * pigeonhole join) over the FULL corpus — the 64-bit sketch keeps
    * chunk buckets sparse at corpus scale, so no blocking slice is
    * needed. The oracle brute-forces all pairs for the same predicate.
    */
  private val q104SimhashHamming: Q = (s, d) =>
    Dedup.simhashNearDupPairs(
        Tables.documents(s, d),
        "doc_id", "text", maxHamming = 1)
      .orderBy("id_a", "id_b")

  private val q73NgramJaccard: Q = (s, d) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", "lang",
        n = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
      .orderBy("id_a", "id_b")

  private val q74CosineNearDup: Q = (s, d) =>
    Dedup.cosineNearDupPairs(nearDupVectors(s, d), "vec_id", "e", dim = 64, threshold = 0.99)
      .orderBy("id_a", "id_b")

  private val q75SimilarityTopK: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qm = Similarity.fixedCountModulus(Tables.rowCount(s, d, "embeddings"))
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") % qm === 0),
        "vec_id", "embedding", k = 5)
      .select("qid", "rank", "nid", "cos")
      .orderBy("qid", "rank")
  }

  /** IVF: centroids = every m-th vector with m = √n-sized power of two
    * ([[Similarity.sqrtModulus]] — ≈√n cells of ≈√n members, the IVF
    * balance point), queries probe their 2 nearest cells, top-3 within.
    */
  private val q77SimilarityIvf: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val n = Tables.rowCount(s, d, "embeddings")
    val m = Similarity.sqrtModulus(n)
    val qm = Similarity.fixedCountModulus(n)
    Similarity.ivfTopK(
        e, e.filter(col("vec_id") % qm === 0), e.filter(col("vec_id") % m === 0),
        "vec_id", "embedding", k = 3, nprobe = 2)
      .select("qid", "rank", "nid", "cos")
      .orderBy("qid", "rank")
  }

  private val q76LshNearDup: Q = (s, d) =>
    Similarity.lshNearDupPairs(nearDupVectors(s, d), "vec_id", "e",
        dim = 64, nPlanes = 8, threshold = 0.99)
      .select("id_a", "id_b", "bucket", "cos")
      .orderBy("id_a", "id_b")

  /** int8 embedding quantization (symmetric max-abs scaling): the
    * storage/serving compression step. Outputs per-vector scale and the
    * quantized-value checksum (sum), both engine-reproducible.
    */
  private val q79EmbeddingQuantize: Q = (s, d) => {
    val e = transform(col("embedding"), x => x.cast(org.apache.spark.sql.types.DoubleType))
    Tables.embeddings(s, d)
      .withColumn("max_abs", array_max(transform(e, x => abs(x))))
      .withColumn("qsum",
        aggregate(transform(e, x => round(x * lit(127.0) / col("max_abs"), 0).cast("long")),
          lit(0L), (a, x) => a + x))
      .select(col("vec_id"), round(col("max_abs"), 6).as("max_abs"), col("qsum"))
      .orderBy("vec_id")
  }

  /** Keep-best policy over BOW-fingerprint clusters. */
  private val q78DedupKeepBest: Q = (s, d) =>
    Dedup.keepBestByFingerprint(Tables.documents(s, d), "doc_id", "text")
      .orderBy("fp")

  /** End-to-end dedup pass: pairs → clusters → keep-best-per-cluster →
    * surviving-corpus composition by language. The realistic "run the
    * whole dedup job" composition, oracle-checked end to end.
    */
  private val q89DedupE2E: Q = (s, d) =>
    Dedup.dedupCorpus(Tables.documents(s, d), "doc_id", "text")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars").cast("long")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("lang")

  /** Near-dup clusters: MinHash-LSH pairs → connected components →
    * per-cluster membership summary. The oracle reproduces the
    * component labels with a recursive CTE over the same pair set.
    */
  private val q68DedupClusters: Q = (s, d) => {
    val pairs = Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.8, numHashes = 48, bands = 12)
    Dedup.nearDupClusters(pairs)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))
      .orderBy("cluster_id")
  }

  /** One k-means training iteration for the IVF coarse quantizer:
    * centroids seeded from every m-th vector (m = √n-sized power of
    * two, [[Similarity.sqrtModulus]]), corpus assigned by cosine
    * argmax, new centroids = member means (exact-decimal sums).
    * Output flattened to (cid, pos, n_members, coord) rows.
    */
  private val q100KmeansStep: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val m = Similarity.sqrtModulus(Tables.rowCount(s, d, "embeddings"))
    Similarity.kmeansStep(e, e.filter(col("vec_id") % m === 0), "vec_id", "embedding")
      .orderBy("cid", "pos")
  }

  /** Cross-doc duplicated-span fractions over word 6-grams: the
    * span-granularity boilerplate signal (within-doc repetition is
    * q87; this is the cross-doc dimension).
    */
  private val q101CrossDocSpans: Q = (s, d) =>
    Dedup.crossDocDupStats(Tables.documents(s, d), "doc_id", "text", n = 6)
      .orderBy("id")

  /** ANN quality measurement: recall of the LSH near-dup pairs against
    * the exact brute-force set — the evaluation loop any approximate
    * index needs before it replaces the exact path at scale. One row:
    * exact/LSH/common counts + recall.
    */
  private val q105LshRecall: Q = (s, d) => {
    val exact = Dedup.cosineNearDupPairs(nearDupVectors(s, d), "vec_id", "e",
        dim = 64, threshold = 0.99)
      .select("id_a", "id_b")
    val lsh = Similarity.lshNearDupPairs(nearDupVectors(s, d), "vec_id", "e",
        dim = 64, nPlanes = 8, threshold = 0.99)
      .select("id_a", "id_b")
    val common = exact.intersect(lsh)
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        round(col("n_common").cast("double") / col("n_exact").cast("double"), 6).as("recall"))
  }

  /** Paragraph-level (CCNet-style) exact dedup: docs are chunked into
    * 8-word "paragraphs" (the corpus has no newline structure, so the
    * split policy is fixed word windows — deterministic and
    * oracle-reproducible), every cross-corpus repeated paragraph
    * survives only at its first (doc, position) occurrence, and docs
    * are reassembled from what remains.
    */
  private val q109ParagraphDedup: Q = (s, d) => {
    val ws = split(col("text"), " ")
    val lined = Tables.documents(s, d).select(col("doc_id"),
      transform(sequence(lit(0), ceil(size(ws) / lit(8.0)).cast("int") - 1),
        i => array_join(slice(ws, i * lit(8) + 1, lit(8)), " ")).as("lines"))
    Dedup.paragraphDedup(lined, "doc_id", "lines")
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"), col("text_kept"))
      .orderBy("doc_id")
  }

  /** SemDeDup-style semantic dedup: the perturbed near-dup corpus is
    * bucketed into k-means cells (centroids = every m-th original
    * vector, m = √n-sized — [[Similarity.sqrtModulus]]), cosine pairs
    * ≥ 0.99 discovered within cells only — the
    * cluster-then-compare shape that keeps embedding dedup sub-
    * quadratic. A perturbed copy lands in its original's cell (cos ≈
    * 0.998), so recall here matches the brute-force q74 pair set.
    */
  private val q112Semdedup: Q = (s, d) => {
    val m = Similarity.sqrtModulus(Tables.rowCount(s, d, "embeddings"))
    val cent = Tables.embeddings(s, d).filter(col("vec_id") % m === 0)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("e"))
    Similarity.semanticDedupPairs(nearDupVectors(s, d), cent, "vec_id", "e",
        threshold = 0.99)
      .orderBy("id_a", "id_b")
  }

  /** q77's search against a PERSISTED cell-partitioned index: build
    * once, probe with directory pruning (only probed cells' partitions
    * are read — PartitionFilters pinned in PlanQualitySpec). Same
    * result set as q77, same oracle.
    */
  private val q173IvfIndexed: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    // per-JVM index path (Materialize.jvmScratch): concurrent JVMs on
    // the same sf never race an overwrite against a scan, and a
    // regenerated embeddings fixture can't be shadowed by a stale
    // index — each JVM builds its own copy once
    val dir = graft.operators.Materialize.jvmScratch(
      s"ivf_${new java.io.File(d).getName}")
    // build-once contract (buildIvfIndex doc): a completed write leaves
    // parquet's _SUCCESS marker — rebuild only when it's absent, so
    // the query (and the bench) times the pruned probe, not the build
    val n = Tables.rowCount(s, d, "embeddings")
    val m = Similarity.sqrtModulus(n)
    val qm = Similarity.fixedCountModulus(n)
    if (!new java.io.File(dir, "_SUCCESS").isFile)
      Similarity.buildIvfIndex(e, e.filter(col("vec_id") % m === 0),
        "vec_id", "embedding", dir)
    Similarity.ivfTopKIndexed(s, dir, e.filter(col("vec_id") % qm === 0),
        e.filter(col("vec_id") % m === 0), "vec_id", "embedding", k = 3, nprobe = 2)
      .select("qid", "rank", "nid", "cos")
      .orderBy("qid", "rank")
  }

  /** LSH-bucketed hard negatives: per anchor, the 3 hardest same-bucket
    * vectors at cos ≤ 0.9 — contrastive-training negatives mined
    * without an all-pairs product (the bucket is the candidate
    * generator). q133's hash-drawn random negatives are the easy-
    * negative baseline; these are the informative ones.
    */
  private val q174HardNegatives: Q = (s, d) =>
    Similarity.lshHardNegatives(
        Tables.embeddings(s, d)
          .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("e")),
        "vec_id", "e", dim = 64, nPlanes = 8, maxCos = 0.9, k = 3)
      .select("anchor", "rank", "neg", "bucket", "cos")
      .orderBy("anchor", "rank")

  /** Shared oracle CTE chain: per-doc 64-bit SimHash sketch as a signed
    * BIGINT (`sh(doc_id, sh64)`). Word hash = first 16 md5 hex chars as
    * UBIGINT (bit slicing is sign-agnostic); the HUGEINT bit-sum is
    * converted to two's-complement BIGINT to match the JVM long.
    */
  private val simhash64Ctes =
    """WITH docs AS (SELECT doc_id, list_distinct(str_split(text, ' ')) dw FROM documents),
      |wh AS (SELECT doc_id,
      |    list_transform(dw, wd -> ('0x' || substr(md5(wd), 1, 16))::UBIGINT) hs FROM docs),
      |shu AS (SELECT doc_id,
      |    list_sum(list_transform(range(0, 64), b ->
      |      CASE WHEN list_sum(list_transform(hs, h ->
      |          CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
      |      THEN power(2, b)::HUGEINT ELSE 0::HUGEINT END)) s
      |  FROM wh),
      |sh AS (SELECT doc_id, CASE WHEN s > 9223372036854775807
      |    THEN (s - 18446744073709551616)::BIGINT ELSE s::BIGINT END sh64 FROM shu)""".stripMargin

  /** Shared oracle CTE: word-3-gram distinct shingles per doc. */
  private[queries] val shinglesCte =
    """WITH docs AS (SELECT doc_id, lang, str_split(text, ' ') w FROM documents),
      |sh AS (SELECT doc_id, lang,
      |    list_distinct([array_to_string(w[i:i+2], ' ')
      |      for i in range(1, greatest(len(w) - 2, 1) + 1)]) s
      |  FROM docs)""".stripMargin

  /** Shared oracle CTE: base + perturbed double vectors. */
  private val vecCte =
    """WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
      |    FROM embeddings),
      |vecs AS (
      |  SELECT vec_id, e FROM base
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    [e[j] * (1.0 + 0.1 * (((j * 37 % 19) - 9)::DOUBLE / 9.0)) for j in range(1, len(e) + 1)]
      |  FROM base WHERE vec_id % 5 = 0)""".stripMargin

  /** Shared oracle CTE chain: shingles → MinHash sigs → banded LSH
    * candidate pairs → symmetric edges → recursive-CTE connected
    * components (`comp(id, cluster_id)`). Used by q68 and q89.
    */
  private[queries] val lshClusterCtes: String =
    s"""${shinglesCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |sig AS (SELECT doc_id, s,
       |    [list_min(list_transform(s, x ->
       |      ${mdHashSql("x")} + i * ('0x' || substr(md5(x), 16, 12))::BIGINT))
       |      for i in range(0, 48)] sig
       |  FROM sh),
       |hs AS (SELECT doc_id, list_transform(s, x -> ${mdHashSql("x")}) hh FROM sh),
       |bands AS (SELECT doc_id, b,
       |    array_to_string(sig[b*4+1 : b*4+4], ',') bkey
       |  FROM sig, (SELECT unnest(range(0, 12)) b) bs),
       |cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |pairs AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
       |    len(list_intersect(x.hh, y.hh))::DOUBLE /
       |      (len(x.hh)::DOUBLE + len(y.hh)::DOUBLE - len(list_intersect(x.hh, y.hh))::DOUBLE) jac
       |  FROM cand JOIN hs x ON x.doc_id = id_a JOIN hs y ON y.doc_id = id_b)
       |  WHERE jac >= 0.8),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.dst AS id, reach.r FROM edges e JOIN reach ON e.src = reach.id),
       |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q105_lsh_recall", q105LshRecall,
      s"""$vecCte,
         |exact AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.e, b.e) /
         |    sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) >= 0.99),
         |dotted AS (SELECT vec_id, e,
         |    list_transform(range(0, 8), p ->
         |      list_sum(list_transform(range(1, 65), j ->
         |        e[j] * CASE WHEN ${mdHashSql("p::VARCHAR || ',' || j::VARCHAR")} % 2 = 1
         |               THEN 1.0 ELSE -1.0 END))) dots
         |  FROM vecs),
         |bucketed AS (SELECT vec_id, e,
         |    list_sum(list_transform(range(0, 8), p ->
         |      CASE WHEN dots[p+1] >= 0 THEN pow(2, p)::BIGINT ELSE 0 END))::BIGINT bucket
         |  FROM dotted),
         |lsh AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.e, b.e) /
         |    sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) >= 0.99),
         |common AS (SELECT id_a, id_b FROM exact INTERSECT SELECT id_a, id_b FROM lsh)
         |SELECT (SELECT count(*) FROM exact) AS n_exact,
         |  (SELECT count(*) FROM lsh) AS n_lsh,
         |  (SELECT count(*) FROM common) AS n_common,
         |  round((SELECT count(*) FROM common)::DOUBLE /
         |    (SELECT count(*) FROM exact)::DOUBLE, 6) AS recall""".stripMargin),
    Query("q104_simhash_hamming", q104SimhashHamming,
      s"""$simhash64Ctes
         |SELECT a.doc_id id_a, b.doc_id id_b,
         |  bit_count(xor(a.sh64, b.sh64))::INT AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh64, b.sh64)) <= 1
         |ORDER BY id_a, id_b""".stripMargin),
    Query("q101_cross_doc_spans", q101CrossDocSpans,
      """WITH docs AS (SELECT doc_id, str_split(text, ' ') w FROM documents),
        |g AS (SELECT doc_id,
        |    unnest([('0x' || substr(md5(array_to_string(w[i:i+5], ' ')), 1, 15))::BIGINT
        |      for i in range(1, greatest(len(w) - 5, 1) + 1)]) AS h
        |  FROM docs),
        |ph AS (SELECT h, count(DISTINCT doc_id) nd FROM g GROUP BY h)
        |SELECT doc_id AS id, count(*) AS n_grams,
        |  sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |  round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS dup_frac
        |FROM g JOIN ph USING (h) GROUP BY doc_id ORDER BY id""".stripMargin),
    Query("q100_kmeans_step", q100KmeansStep,
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |mm AS (SELECT ${Similarity.sqrtModulusLadderSql("c")} m
        |  FROM (SELECT count(*) c FROM e)),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e, mm WHERE vec_id % m = 0),
        |assigned AS (SELECT vec_id AS nid, v AS e_n, cid FROM (
        |  SELECT e.vec_id, e.v, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |        sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv)), 9) DESC,
        |        c.cid ASC) rn
        |  FROM e CROSS JOIN cent c) WHERE rn = 1),
        |cells AS (SELECT cid, (i - 1)::INT AS pos, e_n[i] AS x
        |  FROM assigned, range(1, 65) t(i))
        |SELECT cid, pos, count(*) AS n_members,
        |  round(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) AS coord
        |FROM cells GROUP BY cid, pos ORDER BY cid, pos""".stripMargin),
    Query("q68_dedup_clusters", q68DedupClusters,
      s"""$lshClusterCtes
         |SELECT cluster_id, count(*) AS n_docs, max(id) AS max_id
         |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin),
    Query("q89_dedup_e2e", q89DedupE2E,
      s"""$lshClusterCtes,
         |scored AS (SELECT d.doc_id, d.lang, d.n_chars,
         |    coalesce(c.cluster_id, d.doc_id) AS cid,
         |    least(len(str_split(d.text, ' '))::DOUBLE / 100.0, 1.0) * 0.4
         |      + (len(list_distinct(str_split(d.text, ' ')))::DOUBLE
         |         / len(str_split(d.text, ' '))::DOUBLE) * 0.3
         |      + ((length(regexp_replace(d.text, '[^A-Za-z ]', '', 'g'))::DOUBLE + 1.0)
         |         / (length(d.text)::DOUBLE + 1.0)) * 0.3 AS q
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |kept AS (SELECT doc_id, lang, n_chars FROM (
         |    SELECT scored.*, row_number() OVER (
         |      PARTITION BY cid ORDER BY q DESC, doc_id ASC) rn
         |    FROM scored) WHERE rn = 1)
         |SELECT lang, count(*) AS n_kept, sum(n_chars)::BIGINT AS sum_chars,
         |  min(doc_id) AS first_doc
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q79_embedding_quantize", q79EmbeddingQuantize,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e)
        |SELECT vec_id, round(max_abs, 6) AS max_abs,
        |  list_sum(list_transform(v, x -> round(x * 127.0 / max_abs, 0)::BIGINT))::BIGINT AS qsum
        |FROM m ORDER BY vec_id""".stripMargin),
    Query("q78_dedup_keep_best", q78DedupKeepBest,
      s"""WITH t AS (SELECT doc_id, text, str_split(text, ' ') w FROM documents),
         |f AS (SELECT doc_id,
         |    ${mdHashSql("array_to_string(list_sort(list_distinct(w)), ' ')")} fp,
         |    least(len(w)::DOUBLE / 100.0, 1.0) * 0.4
         |      + (len(list_distinct(w))::DOUBLE / len(w)::DOUBLE) * 0.3
         |      + ((length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE + 1.0)
         |         / (length(text)::DOUBLE + 1.0)) * 0.3 AS q
         |  FROM t),
         |r AS (SELECT fp, doc_id, q,
         |    count(*) OVER (PARTITION BY fp) n_docs,
         |    row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id ASC) rn
         |  FROM f)
         |SELECT fp, doc_id AS kept_id, n_docs, round(q, 6) AS kept_quality
         |FROM r WHERE n_docs >= 2 AND rn = 1 ORDER BY fp""".stripMargin),
    Query("q112_semdedup", q112Semdedup,
      s"""$vecCte,
         |mm AS (SELECT ${Similarity.sqrtModulusLadderSql("c")} m
         |  FROM (SELECT count(*) c FROM base)),
         |cent AS (SELECT vec_id AS cid, e AS cv FROM base, mm WHERE vec_id % m = 0),
         |assigned AS (SELECT vec_id AS nid, e, cid FROM (
         |  SELECT v.vec_id, v.e, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY round(list_dot_product(v.e, c.cv) /
         |        sqrt(list_dot_product(v.e, v.e) * list_dot_product(c.cv, c.cv)), 9) DESC,
         |        c.cid ASC) rn
         |  FROM vecs v CROSS JOIN cent c) WHERE rn = 1)
         |SELECT a.cid, a.nid AS id_a, b.nid AS id_b,
         |  list_dot_product(a.e, b.e) /
         |    sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) AS cos
         |FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.nid < b.nid
         |WHERE list_dot_product(a.e, b.e) /
         |    sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) >= 0.99
         |ORDER BY id_a, id_b""".stripMargin),
    Query("q109_paragraph_dedup", q109ParagraphDedup,
      """WITH lined AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT)),
        |      i -> array_to_string(string_split(text, ' ')[i*8+1 : i*8+8], ' ')) AS ls
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, u.pos AS pos, u.line AS line
        |  FROM lined, unnest(list_transform(ls, (x, i) -> {'pos': i - 1, 'line': x})) AS t(u)),
        |kept AS (
        |  SELECT doc_id, pos, line FROM (
        |    SELECT doc_id, pos, line,
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |    FROM ex) WHERE rn = 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS text_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT l.doc_id, len(l.ls)::BIGINT AS n_lines,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  coalesce(a.text_kept, '') AS text_kept
        |FROM lined l LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin),
    Query("q70_dedup_exact", q70DedupExact,
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS content_hash, min(doc_id) AS kept_id, count(*) AS n_copies
        |FROM corpus GROUP BY md5(text) HAVING count(*) >= 2
        |ORDER BY content_hash""".stripMargin),
    Query("q71_dedup_minhash_lsh", q71MinhashLsh,
      s"""$shinglesCte,
         |sig AS (SELECT doc_id, s,
         |    [list_min(list_transform(s, x ->
         |      ${mdHashSql("x")} + i * ('0x' || substr(md5(x), 16, 12))::BIGINT))
         |      for i in range(0, 48)] sig
         |  FROM sh),
         |hs AS (SELECT doc_id, list_transform(s, x -> ${mdHashSql("x")}) hh FROM sh),
         |bands AS (SELECT doc_id, b,
         |    array_to_string(sig[b*4+1 : b*4+4], ',') bkey
         |  FROM sig, (SELECT unnest(range(0, 12)) b) bs),
         |cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |pairs AS (SELECT id_a, id_b,
         |    len(list_intersect(x.hh, y.hh))::DOUBLE /
         |      (len(x.hh)::DOUBLE + len(y.hh)::DOUBLE - len(list_intersect(x.hh, y.hh))::DOUBLE) jac
         |  FROM cand JOIN hs x ON x.doc_id = id_a JOIN hs y ON y.doc_id = id_b)
         |SELECT id_a, id_b, round(jac, 6) AS jac FROM pairs
         |WHERE jac >= 0.8 ORDER BY id_a, id_b""".stripMargin),
    Query("q72_dedup_simhash", q72Simhash,
      s"""$simhash64Ctes
         |SELECT sh64, count(*) AS n_docs, min(doc_id) AS min_id
         |FROM sh GROUP BY sh64 HAVING count(*) >= 2 ORDER BY sh64""".stripMargin),
    Query("q73_dedup_ngram_jaccard", q73NgramJaccard,
      s"""$shinglesCte,
         |hs AS (SELECT doc_id, lang, list_transform(s, x -> ${mdHashSql("x")}) hh FROM sh)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(len(list_intersect(a.hh, b.hh))::DOUBLE /
         |    (len(a.hh)::DOUBLE + len(b.hh)::DOUBLE - len(list_intersect(a.hh, b.hh))::DOUBLE), 6) AS jac
         |FROM hs a JOIN hs b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.hh, b.hh))::DOUBLE /
         |    (len(a.hh)::DOUBLE + len(b.hh)::DOUBLE - len(list_intersect(a.hh, b.hh))::DOUBLE) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),
    Query("q74_dedup_cosine", q74CosineNearDup,
      s"""$vecCte
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  list_dot_product(a.e, b.e) / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) AS cos
         |FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.e, b.e) / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) >= 0.99
         |ORDER BY id_a, id_b""".stripMargin),
    Query("q75_similarity_topk", q75SimilarityTopK,
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |qm2 AS (SELECT ${Similarity.fixedCountModulusLadderSql("c")} q_m
        |  FROM (SELECT count(*) c FROM e)),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e, qm2 WHERE vec_id % q_m = 0),
        |sims AS (SELECT qid, e.vec_id AS nid,
        |    list_dot_product(qv, v) / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)) AS cos
        |  FROM q JOIN e ON e.vec_id <> qid),
        |ranked AS (SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 9) DESC, nid ASC) AS rank
        |  FROM sims)
        |SELECT qid, rank, nid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),
    Query("q173_ivf_indexed", q173IvfIndexed,
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |mm AS (SELECT ${Similarity.sqrtModulusLadderSql("c")} m
        |  FROM (SELECT count(*) c FROM e)),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e, mm WHERE vec_id % m = 0),
        |assigned AS (SELECT vec_id AS nid, v AS e_n, cid FROM (
        |  SELECT e.vec_id, e.v, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |        sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv)), 9) DESC,
        |        c.cid ASC) rn
        |  FROM e CROSS JOIN cent c) WHERE rn = 1),
        |qm2 AS (SELECT ${Similarity.fixedCountModulusLadderSql("c")} q_m
        |  FROM (SELECT count(*) c FROM e)),
        |q AS (SELECT vec_id AS qid, v AS e_q FROM e, qm2 WHERE vec_id % q_m = 0),
        |probes AS (SELECT qid, e_q, cid FROM (
        |  SELECT q.qid, q.e_q, c.cid,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY round(list_dot_product(q.e_q, c.cv) /
        |        sqrt(list_dot_product(q.e_q, q.e_q) * list_dot_product(c.cv, c.cv)), 9) DESC,
        |        c.cid ASC) rn
        |  FROM q CROSS JOIN cent c) WHERE rn <= 2),
        |hits AS (SELECT qid, nid,
        |    list_dot_product(e_q, e_n) /
        |      sqrt(list_dot_product(e_q, e_q) * list_dot_product(e_n, e_n)) AS cos
        |  FROM probes JOIN assigned USING (cid) WHERE qid <> nid),
        |ranked AS (SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY round(cos, 9) DESC, nid ASC) AS rank
        |  FROM hits)
        |SELECT qid, rank, nid, cos FROM ranked WHERE rank <= 3
        |ORDER BY qid, rank""".stripMargin),
    Query("q77_similarity_ivf", q77SimilarityIvf,
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |mm AS (SELECT ${Similarity.sqrtModulusLadderSql("c")} m
        |  FROM (SELECT count(*) c FROM e)),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e, mm WHERE vec_id % m = 0),
        |assigned AS (SELECT vec_id AS nid, v AS e_n, cid FROM (
        |  SELECT e.vec_id, e.v, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |        sqrt(list_dot_product(e.v, e.v) * list_dot_product(c.cv, c.cv)), 9) DESC,
        |        c.cid ASC) rn
        |  FROM e CROSS JOIN cent c) WHERE rn = 1),
        |qm2 AS (SELECT ${Similarity.fixedCountModulusLadderSql("c")} q_m
        |  FROM (SELECT count(*) c FROM e)),
        |q AS (SELECT vec_id AS qid, v AS e_q FROM e, qm2 WHERE vec_id % q_m = 0),
        |probes AS (SELECT qid, e_q, cid FROM (
        |  SELECT q.qid, q.e_q, c.cid,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY round(list_dot_product(q.e_q, c.cv) /
        |        sqrt(list_dot_product(q.e_q, q.e_q) * list_dot_product(c.cv, c.cv)), 9) DESC,
        |        c.cid ASC) rn
        |  FROM q CROSS JOIN cent c) WHERE rn <= 2),
        |hits AS (SELECT qid, nid,
        |    list_dot_product(e_q, e_n) /
        |      sqrt(list_dot_product(e_q, e_q) * list_dot_product(e_n, e_n)) AS cos
        |  FROM probes JOIN assigned USING (cid) WHERE qid <> nid),
        |ranked AS (SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY round(cos, 9) DESC, nid ASC) AS rank
        |  FROM hits)
        |SELECT qid, rank, nid, cos FROM ranked WHERE rank <= 3
        |ORDER BY qid, rank""".stripMargin),
    Query("q174_hard_negatives", q174HardNegatives,
      s"""WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
         |    FROM embeddings),
         |dotted AS (SELECT vec_id, e,
         |    list_transform(range(0, 8), p ->
         |      list_sum(list_transform(range(1, 65), j ->
         |        e[j] * CASE WHEN ${mdHashSql("p::VARCHAR || ',' || j::VARCHAR")} % 2 = 1
         |               THEN 1.0 ELSE -1.0 END))) dots
         |  FROM e0),
         |bucketed AS (SELECT vec_id, e,
         |    list_sum(list_transform(range(0, 8), p ->
         |      CASE WHEN dots[p+1] >= 0 THEN pow(2, p)::BIGINT ELSE 0 END))::BIGINT bucket
         |  FROM dotted),
         |cand AS (SELECT a.vec_id AS anchor, b.vec_id AS neg, a.bucket,
         |    list_dot_product(a.e, b.e) / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) AS cos
         |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |ranked AS (SELECT anchor, neg, bucket, cos,
         |    row_number() OVER (PARTITION BY anchor
         |      ORDER BY round(cos, 9) DESC, neg ASC) AS rank
         |  FROM cand WHERE cos <= 0.9)
         |SELECT anchor, rank, neg, bucket, cos FROM ranked WHERE rank <= 3
         |ORDER BY anchor, rank""".stripMargin),
    Query("q76_similarity_lsh", q76LshNearDup,
      s"""$vecCte,
         |dotted AS (SELECT vec_id, e,
         |    list_transform(range(0, 8), p ->
         |      list_sum(list_transform(range(1, 65), j ->
         |        e[j] * CASE WHEN ${mdHashSql("p::VARCHAR || ',' || j::VARCHAR")} % 2 = 1
         |               THEN 1.0 ELSE -1.0 END))) dots
         |  FROM vecs),
         |bucketed AS (SELECT vec_id, e,
         |    list_sum(list_transform(range(0, 8), p ->
         |      CASE WHEN dots[p+1] >= 0 THEN pow(2, p)::BIGINT ELSE 0 END))::BIGINT bucket
         |  FROM dotted)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
         |  list_dot_product(a.e, b.e) / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) AS cos
         |FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_dot_product(a.e, b.e) / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) >= 0.99
         |ORDER BY id_a, id_b""".stripMargin))
}
