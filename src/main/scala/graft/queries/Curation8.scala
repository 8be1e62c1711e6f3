package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{Q, Query}
import graft.functions.TextFunctions.{mdHash, mdHash2}
import graft.operators.{KeywordScrub, Materialize, Multimodal}
import graft.sources.Tables

/** Round-5 wave 4: record linkage (blocked fuzzy join), image
  * near-dup (perceptual hash over real decodes), blocklist scanning
  * (Aho-Corasick), corpus-pair similarity, checksum-gated PII, and
  * KMV distinct sketches.
  */
object Curation8 {

  /** Record linkage via a blocked edit-distance join — the entity
    * resolution primitive. A "dirty" probe batch (names with one
    * deterministic typo — a deletion or a substitution keyed off the
    * order key) is matched against the clean customer registry within
    * Levenshtein distance 1. Blocking is SYMMETRIC DELETION (the
    * SymSpell scheme): every name generates its identity plus its
    * |s| single-character-deletion variants, and any pair within
    * edit distance 1 provably shares at least one variant — equal
    * strings share the identity, a substitution pair shares the
    * deletion at the edited position, an insert/delete pair shares
    * the shorter string itself. So ONE equi-shuffle on the variant
    * key replaces the all-pairs distance scan (|probes|·|registry|
    * levenshtein calls — the thing that cannot run at 100 TB), and
    * the exact `levenshtein ≤ 1` check runs only on bucket-colliding
    * candidates. The probe batch is the bounded side (a daily ingest);
    * the registry side scales.
    */
  private val q195FuzzyJoin: Q = (s, d) => {
    def keyName(c: org.apache.spark.sql.Column) =
      translate(lpad(c.cast("string"), 6, "0"), "0123456789", "abcdefghij")
    val clean = Tables.customer(s, d)
      .select(col("c_custkey"), keyName(col("c_custkey")).as("name"))
    val dirty = Tables.orders(s, d).filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey"), col("o_custkey"), keyName(col("o_custkey")).as("nm"))
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 3 === 0, expr(
          "concat(substring(nm, 1, cast(o_orderkey % 6 as int))," +
            " substring(nm, cast(o_orderkey % 6 as int) + 2))"))
          .when(col("o_orderkey") % 3 === 1, expr(
            "concat(substring(nm, 1, cast(o_orderkey % 6 as int)), 'z'," +
              " substring(nm, cast(o_orderkey % 6 as int) + 2))"))
          .otherwise(col("nm")).as("probe"))
    // identity (pos 0) + all single-char deletions (pos 1..len)
    def variants(df: org.apache.spark.sql.DataFrame, sc: String) = df
      .select(df.columns.map(col) :+
        explode(sequence(lit(0), length(col(sc)))).as("pos"): _*)
      .select(df.columns.map(col) :+
        when(col("pos") === 0, col(sc)).otherwise(expr(
          s"concat(substring($sc, 1, pos - 1), substring($sc, pos + 1))")).as("v"): _*)
    val cand = variants(dirty, "probe").join(variants(clean, "name"), "v")
      .select("o_orderkey", "o_custkey", "probe", "c_custkey", "name")
      .distinct()
    cand.filter(levenshtein(col("probe"), col("name")) <= 1)
      .select(col("o_orderkey"), col("o_custkey"), col("c_custkey"),
        levenshtein(col("probe"), col("name")).cast(LongType).as("dist"))
      .groupBy((col("o_orderkey") % 3).as("edit_kind"), col("dist"))
      .agg(count(lit(1)).as("n_matches"),
        sum(when(col("c_custkey") === col("o_custkey"), 1L).otherwise(0L)).as("n_true"),
        sum(col("c_custkey")).as("key_sum"))
      .orderBy("edit_kind", "dist")
  }

  /** Image near-duplicate detection over REAL decoded pixels: the
    * PNG half of the q178 fixture is decoded with `javax.imageio`,
    * perceptual-hashed (8×8 average hash — [[Multimodal.aHash]]), and
    * near-dup neighbors are found by Hamming distance ≤ 3 using the
    * pigeonhole chunk join (4 × 16-bit chunks: two hashes within
    * distance 3 must agree on at least one chunk, so candidates come
    * from an equi-join on (chunk_index, chunk_value) — never an
    * all-pairs scan). PNG is lossless, so the oracle recomputes every
    * hash arithmetically from the generating formula and the full
    * neighbor counts from an exact (oracle-side only) distance join —
    * a bit-exact end-to-end check of decoder, hash kernel, and banded
    * search.
    */
  private val q196PhashDedup: Q = (s, d) => {
    val dir = Curation4.imageFixtureDir(s, d)
    import s.implicits._
    val blobs = s.read.format("binaryFile").option("pathGlobFilter", "*.png")
      .load(dir)
      .select(regexp_extract(col("path"), "([0-9]+)\\.png$", 1).cast("long").as("_1"),
        col("content").as("_2"))
      .as[(Long, Array[Byte])]
    val ah = Materialize.spillRelease(
      Multimodal.aHash(blobs).filter(col("ok"))
        .select(col("id"), col("hashHi"), col("hashLo"), col("nOnes")))
    val chunks = ah.select(col("id"), col("hashHi"), col("hashLo"),
      posexplode(array(
        col("hashLo").bitwiseAND(lit(0xffffL)),
        shiftrightunsigned(col("hashLo"), 16).bitwiseAND(lit(0xffffL)),
        col("hashHi").bitwiseAND(lit(0xffffL)),
        shiftrightunsigned(col("hashHi"), 16).bitwiseAND(lit(0xffffL))))
        .as(Seq("ci", "cv")))
    val pairs = chunks.as("a").join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        col("a.hashHi").as("ha"), col("a.hashLo").as("la"),
        col("b.hashHi").as("hb"), col("b.hashLo").as("lb"))
      .distinct()
      .filter(expr("bit_count(ha ^ hb) + bit_count(la ^ lb) <= 3"))
    val deg = pairs.select(col("ia").as("id"))
      .union(pairs.select(col("ib").as("id")))
      .groupBy("id").agg(count(lit(1)).as("nn"))
    ah.join(deg, Seq("id"), "left")
      .select(col("id"), col("hashHi").as("hash_hi"), col("hashLo").as("hash_lo"),
        col("nOnes").as("n_ones"), coalesce(col("nn"), lit(0L)).as("n_neighbors"))
      .orderBy("id")
  }

  /** Blocklist scanning with a single-pass Aho-Corasick automaton
    * ([[KeywordScrub]]): the 8 highest-frequency 4+-letter corpus
    * terms stand in for a curation blocklist; every document is
    * scanned ONCE for all terms (vs k regex/contains passes), and
    * per-term document and occurrence counts come back. The oracle
    * verifies the automaton against the SQL counting identity
    * `(len(x) − len(replace(x, t, ''))) / len(t)` — leftmost
    * non-overlapping substring semantics, bit-for-bit.
    */
  private val q197KeywordScrub: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // bounded blocklist (8 rows) to the driver — the collected-model
    // contract (k-means centroids, BPE merges); deterministic order
    val terms = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 4)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc).limit(8)
      .collect().map(_.getString(0)).toSeq
    KeywordScrub.countTerms(docs, "doc_id", "text", terms)
      .groupBy("term")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_occ"))
      .orderBy("term")
  }

  /** Corpus-pair similarity matrix: exact 3-gram-shingle Jaccard
    * between every pair of the 20 sources, beside a 16-permutation
    * MinHash estimate of the same quantity. The exact intersection is
    * ONE equi-join on the shingle key (shuffle ∝ |distinct shingles|,
    * never |sources|² × shingles); the MinHash signatures are
    * partial-aggregable mins (16 rows per source — a broadcastable
    * sketch), so at 100 TB the estimate column costs a scan while the
    * exact column is the one you'd drop. Having both in one result is
    * the estimator-validation harness: the oracle recomputes each
    * side independently.
    */
  private val q198SourceJaccard: Q = (s, d) => {
    val w = Tables.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3) // sequence(1, 0) would run backwards
    val sh = Materialize.spillRelease(w
      .select(col("source"), explode(sequence(lit(1), size(col("w")) - 2)).as("i"),
        col("w"))
      .select(col("source"), concat_ws(" ", slice(col("w"), col("i"), lit(3))).as("sh"))
      .distinct())
    val sz = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("i"))
    // Kirsch-Mitzenmacher double hashing: ONE md5 per (source, shingle)
    // yields the whole 16-member family h_p = h1 + p·h2 — the seeded
    // family (md5 per permutation) paid 16 digests per shingle for the
    // same estimator quality.
    val sig = sh
      .select(col("source"), mdHash(col("sh")).as("h1"), mdHash2(col("sh")).as("h2"))
      .select(col("source"), explode(sequence(lit(0), lit(15))).as("p"),
        col("h1"), col("h2"))
      .select(col("source"), col("p"), (col("h1") + col("p") * col("h2")).as("hv"))
      .groupBy("source", "p").agg(min(col("hv")).as("mh"))
    val est = sig.as("a").join(sig.as("b"),
        col("a.p") === col("b.p") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L)).as("eq"))
    inter
      .join(sz.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(sz.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .join(est, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"),
        col("i").as("n_common"),
        (col("na") + col("nb") - col("i")).as("n_union"),
        round(col("i").cast(DoubleType) / (col("na") + col("nb") - col("i")), 6)
          .as("jaccard"),
        round(col("eq").cast(DoubleType) / 16.0, 6).as("mh_estimate"))
      .orderBy("source_a", "source_b")
  }

  /** Checksum-gated PII detection: candidate 16-digit strings (derived
    * deterministically from order keys) pass through the native
    * codegen'd Luhn expression ([[graft.functions.LuhnCheckExpr]]) —
    * the precision gate a card-number scanner applies after its regex
    * pass (~1 in 10 random digit strings passes, so the gate cuts
    * false positives ~90%). The oracle recomputes the ISO/IEC 7812
    * checksum arithmetically per digit position.
    */
  private val q199LuhnPii: Q = (s, d) => {
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        lpad(((col("o_orderkey") * 7919 + col("o_custkey")) %
          lit(10000000000000000L)).cast("string"), 16, "0").as("pan"))
      .select(col("o_orderkey"), expr("graft_luhn(pan)").as("luhn_valid"))
      .groupBy("luhn_valid")
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy("luhn_valid")
  }

  /** KMV (k-minimum-values) distinct-count sketch over the corpus
    * shingle set — the mergeable alternative to HLL (q07/q138) whose
    * estimate is EXACTLY reproducible in SQL: keep the k=256 smallest
    * 48-bit hash values; estimate = (k−1)·2⁴⁸ ∕ h₍ₖ₎ in pure integer
    * arithmetic. Mergeability is proven structurally IN the result:
    * per-source sketches (a window top-k per source), unioned and
    * re-sketched, must yield the identical k-th minimum as the direct
    * global sketch — k-min(∪ per-source k-mins) ≡ k-min(all), the
    * property that lets 1000 executors sketch shards independently.
    * The global top-k is a TakeOrdered (per-partition heaps, survivor
    * shuffle), never a full sort.
    */
  private val q200KmvDistinct: Q = (s, d) => {
    val w = Tables.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
    val h = Materialize.spillRelease(w
      .select(col("source"), explode(sequence(lit(1), size(col("w")) - 2)).as("i"),
        col("w"))
      .select(col("source"),
        mdHash2(concat_ws(" ", slice(col("w"), col("i"), lit(3)))).as("hv"))
      .distinct())
    val gd = h.select("hv").distinct()
    val direct = gd.orderBy("hv").limit(256)
      .agg(max(col("hv")).as("hk_d"), count(lit(1)).as("k_d"))
    val merged = h
      .withColumn("rn", row_number().over(Window.partitionBy("source").orderBy("hv")))
      .filter(col("rn") <= 256)
      .select("hv").distinct().orderBy("hv").limit(256)
      .agg(max(col("hv")).as("hk_m"), count(lit(1)).as("k_m"))
    gd.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(direct)).crossJoin(broadcast(merged))
      .select(col("n").as("exact_distinct"),
        expr("(k_d - 1) * 281474976710656 DIV hk_d").as("est_direct"),
        expr("(k_m - 1) * 281474976710656 DIV hk_m").as("est_merged"),
        (col("hk_d") === col("hk_m")).as("merge_consistent"),
        (abs(expr("(k_d - 1) * 281474976710656 DIV hk_d").cast(DoubleType) /
          col("n") - 1.0) < 0.2).as("within_20pct"))
  }

  val queries: Seq[Query] = Seq(
    Query("q195_fuzzy_join", q195FuzzyJoin,
      """WITH clean AS (
        |  SELECT c_custkey, translate(lpad(CAST(c_custkey AS VARCHAR), 6, '0'),
        |    '0123456789', 'abcdefghij') AS name FROM customer),
        |dirty AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN
        |      substr(nm, 1, (o_orderkey % 6)::INT) || substr(nm, (o_orderkey % 6)::INT + 2)
        |    WHEN o_orderkey % 3 = 1 THEN
        |      substr(nm, 1, (o_orderkey % 6)::INT) || 'z' || substr(nm, (o_orderkey % 6)::INT + 2)
        |    ELSE nm END AS probe
        |  FROM (SELECT o_orderkey, o_custkey,
        |      translate(lpad(CAST(o_custkey AS VARCHAR), 6, '0'),
        |        '0123456789', 'abcdefghij') AS nm
        |    FROM orders WHERE o_orderkey < 3000)),
        |m AS (
        |  SELECT d.o_orderkey, d.o_custkey, c.c_custkey,
        |    CAST(levenshtein(d.probe, c.name) AS BIGINT) AS dist
        |  FROM dirty d JOIN clean c ON levenshtein(d.probe, c.name) <= 1)
        |SELECT o_orderkey % 3 AS edit_kind, dist, count(*) AS n_matches,
        |  CAST(sum(CASE WHEN c_custkey = o_custkey THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // hashes recomputed arithmetically from the PNG generating formula
    // (lossless codec ⇒ decoded pixels ≡ formula); neighbor counts from
    // an exact all-pairs distance join (oracle-side only — the engine
    // side must get the same counts out of the banded chunk join)
    Query("q196_phash_dedup", q196PhashDedup,
      """WITH ids AS (SELECT doc_id AS id, 16 + doc_id % 17 AS w, 12 + doc_id % 13 AS h
        |  FROM documents WHERE doc_id % 10 = 0),
        |px AS (
        |  SELECT id, p % 8 AS j, p // 8 AS i,
        |    ((p % 8) * w // 8 + id) % 256
        |      + ((p // 8) * h // 8 + 2 * id) % 256
        |      + ((p % 8) * w // 8 + (p // 8) * h // 8 + 3 * id) % 256 AS gray
        |  FROM ids, unnest(range(0, 64)) t(p)),
        |tot AS (SELECT id, sum(gray) AS g64 FROM px GROUP BY id),
        |hs AS (SELECT px.id,
        |    bit_or(CASE WHEN 64 * gray > g64 AND i >= 4
        |      THEN 1::BIGINT << ((i - 4) * 8 + j)::INT ELSE 0 END) AS hash_hi,
        |    bit_or(CASE WHEN 64 * gray > g64 AND i < 4
        |      THEN 1::BIGINT << (i * 8 + j)::INT ELSE 0 END) AS hash_lo,
        |    CAST(sum(CASE WHEN 64 * gray > g64 THEN 1 ELSE 0 END) AS BIGINT) AS n_ones
        |  FROM px JOIN tot ON tot.id = px.id GROUP BY px.id),
        |nb AS (SELECT a.id, count(*) AS nn
        |  FROM hs a JOIN hs b ON a.id <> b.id
        |    AND bit_count(xor(a.hash_hi, b.hash_hi))
        |      + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
        |  GROUP BY a.id)
        |SELECT hs.id, hs.hash_hi, hs.hash_lo, hs.n_ones,
        |  CAST(coalesce(nb.nn, 0) AS BIGINT) AS n_neighbors
        |FROM hs LEFT JOIN nb ON nb.id = hs.id ORDER BY hs.id""".stripMargin),
    Query("q197_keyword_scrub", q197KeywordScrub,
      """WITH terms AS (
        |  SELECT w AS term FROM (
        |    SELECT w, count(*) n FROM (SELECT unnest(string_split(text, ' ')) w
        |      FROM documents)
        |    WHERE len(w) >= 4 GROUP BY w ORDER BY n DESC, w LIMIT 8)),
        |occ AS (
        |  SELECT t.term, d.doc_id,
        |    (len(d.text) - len(replace(d.text, t.term, ''))) // len(t.term) AS n
        |  FROM documents d, terms t)
        |SELECT term, CAST(count(CASE WHEN n > 0 THEN 1 END) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_occ
        |FROM occ GROUP BY term ORDER BY term""".stripMargin),
    Query("q198_source_jaccard", q198SourceJaccard,
      """WITH sh AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT source, string_split(text, ' ') w FROM documents),
        |       unnest(range(1, greatest(len(w) - 1, 1))) t(i)),
        |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |inter AS (SELECT a.source sa, b.source sb, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2),
        |sig AS (SELECT source, p,
        |    min(('0x' || substr(md5(s), 1, 15))::BIGINT
        |      + p * ('0x' || substr(md5(s), 16, 12))::BIGINT) AS mh
        |  FROM sh, unnest(range(0, 16)) t(p) GROUP BY 1, 2),
        |est AS (SELECT a.source sa, b.source sb,
        |    sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS eq
        |  FROM sig a JOIN sig b ON a.p = b.p AND a.source < b.source GROUP BY 1, 2)
        |SELECT i.sa AS source_a, i.sb AS source_b,
        |  CAST(i.i AS BIGINT) AS n_common,
        |  CAST(za.n + zb.n - i.i AS BIGINT) AS n_union,
        |  round(i.i::DOUBLE / (za.n + zb.n - i.i), 6) AS jaccard,
        |  round(est.eq / 16.0, 6) AS mh_estimate
        |FROM inter i JOIN sz za ON za.source = i.sa JOIN sz zb ON zb.source = i.sb
        |JOIN est ON est.sa = i.sa AND est.sb = i.sb
        |ORDER BY 1, 2""".stripMargin),
    Query("q199_luhn_pii", q199LuhnPii,
      """WITH cand AS (SELECT o_orderkey,
        |    lpad(CAST((o_orderkey * 7919 + o_custkey) % 10000000000000000 AS VARCHAR),
        |      16, '0') AS pan
        |  FROM orders),
        |digits AS (SELECT o_orderkey, pan, p,
        |    CAST(substr(pan, 16 - p, 1) AS BIGINT) AS d
        |  FROM cand, unnest(range(0, 16)) t(p)),
        |luhn AS (SELECT o_orderkey, pan,
        |    sum(CASE WHEN p % 2 = 1
        |      THEN CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
        |      ELSE d END) AS s
        |  FROM digits GROUP BY 1, 2)
        |SELECT (s % 10 = 0) AS luhn_valid, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM luhn GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q200_kmv_distinct", q200KmvDistinct,
      """WITH sh AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |  FROM (SELECT source, string_split(text, ' ') w FROM documents),
        |       unnest(range(1, greatest(len(w) - 1, 1))) t(i)),
        |h AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5(s), 16, 12))::BIGINT AS hv FROM sh),
        |gd AS (SELECT DISTINCT hv FROM h),
        |direct AS (SELECT max(hv) AS hk, count(*) AS k FROM (
        |  SELECT hv FROM gd ORDER BY hv LIMIT 256)),
        |merged AS (
        |  SELECT max(hv) AS hk, count(*) AS k FROM (
        |    SELECT DISTINCT hv FROM (
        |      SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) rn
        |      FROM h)
        |    WHERE rn <= 256 ORDER BY hv LIMIT 256)),
        |exact AS (SELECT count(*) AS n FROM gd)
        |SELECT exact.n AS exact_distinct,
        |  CAST((direct.k - 1) * 281474976710656 // direct.hk AS BIGINT) AS est_direct,
        |  CAST((merged.k - 1) * 281474976710656 // merged.hk AS BIGINT) AS est_merged,
        |  (direct.hk = merged.hk) AS merge_consistent,
        |  (abs(CAST((direct.k - 1) * 281474976710656 // direct.hk AS DOUBLE)
        |    / exact.n - 1.0) < 0.2) AS within_20pct
        |FROM direct, merged, exact""".stripMargin))
}
