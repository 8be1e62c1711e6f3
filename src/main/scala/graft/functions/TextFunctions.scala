package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis / dedup building blocks for training-data pipelines.
  *
  * All hashing goes through [[mdHash]], a 60-bit hash derived from md5 —
  * deterministic across JVMs AND reproducible in any engine with an md5
  * function (the DuckDB oracle replicates it as
  * `('0x' || substr(md5(x),1,15))::BIGINT`). Production pipelines would
  * swap in xxhash64 for speed; the algorithm shapes are identical.
  *
  * Everything here is per-row Catalyst expressions (higher-order
  * functions over arrays) — no UDFs, no shuffle, fully parallel at any
  * scale.
  */
object TextFunctions {

  /** 60-bit deterministic cross-engine hash (first 15 hex digits of md5). */
  def mdHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast(LongType)

  /** Seeded variant: independent hash family member `seed`. */
  def mdHash(seed: Column, c: Column): Column =
    mdHash(concat(seed.cast("string"), lit("|"), c))

  /** DuckDB twin of [[mdHash]] for oracle SQL: the same 60-bit key of
    * the VARCHAR expression `x`.
    */
  def mdHashSql(x: String): String = s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  /** 2^60, the [[mdHash]] key range: sums of keys taken modulo it stay
    * in range and read the same in both engines.
    */
  val Mod60: Long = 1152921504606846976L

  /** Second independent 48-bit hash from the SAME md5 digest (hex chars
    * 16..27) — one digest yields the (h1, h2) pair for the
    * Kirsch-Mitzenmacher double-hashing family h_i = h1 + i·h2, giving
    * k MinHash functions for one md5 instead of k.
    * Bounds: h1 < 2^60, i·h2 < 64·2^48 = 2^54 — no long overflow
    * (ANSI mode would throw on it).
    */
  def mdHash2(c: Column): Column =
    conv(substring(md5(c.cast("string")), 16, 12), 16, 10).cast(LongType)

  /** Whitespace tokenization. */
  def words(text: Column): Column = split(text, " ")

  /** PII redaction: emails → `<EMAIL>`, URLs → `<URL>`, long digit
    * runs → `<NUM>`, applied in that order (an email's digits must not
    * be half-replaced first). Same patterns as the q86 scan; pure
    * regexp_replace projections, scan-parallel.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "https?://[^ ]+", "<URL>"),
      "[0-9]{7,}", "<NUM>")

  /** Distinct word n-gram shingles (assumes ≥ n words per doc).
    * Array-local: sequence + slice, no explode.
    */
  def wordShingles(w: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(w) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(w, i, lit(n)))))

  /** Per-shingle (h1, h2) hash pairs — materialize this ONCE as a column,
    * then feed [[minhashSignature]]: one md5 per shingle total.
    */
  def shingleHashPairs(shingles: Column): Column =
    transform(shingles, s => struct(mdHash(s).as("h1"), mdHash2(s).as("h2")))

  /** MinHash signature over pre-hashed shingles: member i of the
    * double-hashing family is min over shingles of h1 + i·h2. Computed
    * entirely inside the row (transform + array_min) — the classic
    * explode/groupBy formulation shuffles |shingles| rows per doc; this
    * shuffles zero.
    */
  def minhashSignature(hashPairs: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hashPairs, h =>
        h.getField("h1") + i.cast(LongType) * h.getField("h2"))))

  /** LSH band keys from a MinHash signature: `bands` strings, each the
    * concatenation of `rowsPerBand` consecutive signature entries. Docs
    * sharing any band key are near-dup candidates.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",",
        transform(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)), x => x.cast("string"))))

  /** Exact Jaccard similarity of two pre-distinct shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /** Single-pass Jaccard on pre-distinct arrays: |∩| / (|a|+|b|−|∩|) —
    * one intersect, no union materialization. Pair with long-hash
    * arrays (cheap equality) in the pairwise hot path.
    */
  def jaccardFast(a: Column, b: Column): Column = {
    val ni = size(array_intersect(a, b)).cast(DoubleType)
    ni / (size(a).cast(DoubleType) + size(b).cast(DoubleType) - ni)
  }

  /** 64-bit SimHash over the distinct words of a document: bit b is set
    * iff the majority of word-hashes have bit b set. Near-identical docs
    * produce identical (or Hamming-close) values. 64 bits (not 16): a
    * 16-bit sketch caps chunk buckets at 2^(16/(d+1)) distinct values,
    * so pigeonhole-join bucket sizes grow linearly with corpus size and
    * the candidate set goes quadratic; with 16-bit chunks of a 64-bit
    * sketch the bucket keyspace is 65536 per chunk and stays sparse at
    * web scale. Word hash = first 16 hex chars of md5 read as a SIGNED
    * long (`conv(_, 16, -10)` is two's-complement), bit-matching the
    * JVM kernel's big-endian first-8-bytes long. SQL-expression form
    * (shiftright with a column bit index needs SQL lambda syntax).
    */
  def simhash64(wordsCol: String): Column = expr(
    s"""aggregate(
       |  transform(sequence(0, 63), b ->
       |    CASE WHEN aggregate(
       |        transform(array_distinct($wordsCol), wd ->
       |          CASE WHEN (shiftrightunsigned(
       |            cast(conv(substring(md5(wd), 1, 16), 16, -10) as bigint), b) & 1) = 1
       |          THEN 1 ELSE -1 END),
       |        0, (acc, v) -> acc + v) >= 0
       |    THEN shiftleft(1L, b) ELSE 0L END),
       |  0L, (acc, v) -> acc + v)""".stripMargin)

  /** Bag-of-words fingerprint: hash of the sorted distinct word set.
    * Invariant under word reordering/repetition — catches
    * permutation-and-repeat near-duplicates that exact text hashing
    * misses.
    */
  def bowFingerprint(w: Column): Column =
    mdHash(concat_ws(" ", sort_array(array_distinct(w))))

  /** Winnowing-style fingerprint: minimum hash over the doc's shingles
    * (a 1-function MinHash; robust to small edits).
    */
  def minShingleFingerprint(shingles: Column): Column =
    array_min(transform(shingles, s => mdHash(s)))

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(words(text))

  /** BPE-ish subword token count: greedy runs of ≤4 letters/digits.
    * A stand-in for a real tokenizer with the same cost profile
    * (regex scan per row, no shuffle).
    */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]{1,4}"))

  private val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "los", "en", "y", "que"),
    "fr" -> Seq("le", "la", "les", "des", "et", "un", "que"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "mit"))

  private def stopCount(w: Column, lang: String): Column =
    size(filter(w, x => array_contains(array(stop(lang).map(lit): _*), x)))

  /** Heuristic language ID: CJK codepoints ⇒ zh; else argmax of
    * per-language stopword hits (tie-break en > es > fr > de); no
    * evidence ⇒ "und". The oracle replicates the same CASE chain.
    */
  def langId(text: Column, w: Column): Column = {
    val cjk = regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]"))
    val (en, es, fr, de) =
      (stopCount(w, "en"), stopCount(w, "es"), stopCount(w, "fr"), stopCount(w, "de"))
    when(cjk > 0, "zh")
      .when(en > 0 && en >= greatest(es, fr, de), "en")
      .when(es > 0 && es >= greatest(fr, de), "es")
      .when(fr > 0 && fr >= de, "fr")
      .when(de > 0, "de")
      .otherwise("und")
  }

  /** Gopher-style rule verdict: first failed rule name, or "pass".
    * The rule battery of web-corpus curation (Gopher §A1.1 / FineWeb)
    * as one codegen'd CASE chain — word-count bounds, mean-word-length
    * band, alphabetic-character purity. Thresholds are parameters;
    * defaults sit inside this corpus's observed distribution so every
    * branch is exercised. First-match semantics mirror how curation
    * pipelines report a single rejection reason per doc.
    */
  def gopherVerdict(text: Column, w: Column,
      minWords: Int = 15, maxWords: Int = 80,
      minMeanWordLen: Double = 4.3, maxMeanWordLen: Double = 4.7,
      minAlphaRatio: Double = 0.999): Column = {
    val nw = size(w)
    val meanWordLen =
      length(regexp_replace(text, " ", "")).cast(DoubleType) / nw.cast(DoubleType)
    val alphaRatio = (length(regexp_replace(text, "[^A-Za-z ]", "")).cast(DoubleType) + lit(1.0)) /
      (length(text).cast(DoubleType) + lit(1.0))
    when(nw < minWords, "too_short")
      .when(nw > maxWords, "too_long")
      .when(meanWordLen < minMeanWordLen || meanWordLen > maxMeanWordLen, "word_len")
      .when(alphaRatio < minAlphaRatio, "symbols")
      .otherwise("pass")
  }

  /** Composite quality score in [0,1]: length saturation, lexical
    * diversity, alpha-char purity. Deterministic double arithmetic.
    */
  def qualityScore(text: Column, w: Column): Column = {
    val lenScore = least(size(w).cast(DoubleType) / lit(100.0), lit(1.0))
    val diversity = size(array_distinct(w)).cast(DoubleType) / size(w).cast(DoubleType)
    val alphaPurity = (length(regexp_replace(text, "[^A-Za-z ]", "")).cast(DoubleType) + lit(1.0)) /
      (length(text).cast(DoubleType) + lit(1.0))
    lenScore * lit(0.4) + diversity * lit(0.3) + alphaPurity * lit(0.3)
  }
}
