package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every operator is shuffle-bounded by the number of
  * *candidate* rows, never O(n²) over the corpus —
  *  - exact dedup: one hash-partitioned aggregation on the content hash;
  *  - MinHash-LSH: signatures computed per-row (no shuffle), then one
  *    explode-by-band + self-equi-join on (band, key) — the join only
  *    materializes colliding candidates;
  *  - SimHash: per-row 64-bit sketch, grouped exactly.
  * Brute-force pairwise Jaccard is provided only behind a blocking key.
  */
object Dedup {

  /** Distinct word n-gram shingles, JVM form — bit-identical to
    * `TextFunctions.wordShingles(words(text), n)`: split on single
    * spaces keeping empty tokens, shingle i = words [i, i+n) joined by
    * " " (shorter at the tail), at least one shingle even for short
    * docs, distinct in first-occurrence order.
    */
  private[graft] def shingleStrings(text: String, n: Int): Array[String] = {
    val w = text.split(" ", -1)
    val len = w.length
    val m = math.max(len - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < m) {
      val end = math.min(i + n, len)
      val sb = new java.lang.StringBuilder(w(i))
      var j = i + 1
      while (j < end) { sb.append(' '); sb.append(w(j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Exact dedup on a content hash: keeps the smallest id per distinct
    * content. Returns (contentHash, keptId, nCopies).
    */
  def exactGroups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** Paragraph-level exact dedup (the CCNet / web-curation pass that
    * runs BELOW document granularity): across the whole corpus, every
    * distinct paragraph is kept exactly once — at its first occurrence
    * in (id, position) order — and every later copy is dropped; docs
    * are then reassembled from their surviving paragraphs. Boilerplate
    * (headers, footers, license blocks) repeated across pages
    * disappears from all but one doc.
    *
    * `linesCol` is the doc pre-split into an ARRAY of paragraph
    * strings (the split policy — "\n\n", sentence, fixed word windows —
    * is the caller's, since it is corpus-specific).
    *
    * Returns one row per input doc: (id, n_lines, n_kept, text_kept)
    * with surviving paragraphs re-joined by '\n' in original order; a
    * doc whose every paragraph appeared earlier elsewhere survives
    * with n_kept = 0 and empty text.
    *
    * Scale shape: explode to (id, pos, paragraph) — linear in corpus
    * paragraphs, no quadratic term; one partial-aggregable
    * min(struct(id, pos)) per distinct paragraph, whose output rows
    * ARE the kept set (no join back to the corpus needed); one
    * per-doc regroup. Grouping keys the paragraph text itself —
    * exactness with no hash-collision caveat; the shuffle carries each
    * paragraph once more than a hashed variant would, a constant
    * factor traded for correctness.
    */
  def paragraphDedup(df: DataFrame, idCol: String, linesCol: String): DataFrame = {
    val ex = df.select(col(idCol).cast("long").as("id"),
      posexplode(col(linesCol)).as(Seq("pos", "line")))
    // the min-(id,pos) row per distinct paragraph IS the kept
    // occurrence — one aggregation, no join-back-and-refilter
    val kept = ex.groupBy("line")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
      .select(col("first.id").as("id"), col("first.pos").as("pos"), col("line"))
    // reassembly without a window: collect the (pos, line) structs per
    // doc, sort in-array (pos is unique per doc), join by '\n'
    val perDoc = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("text_kept"))
    df.select(col(idCol).cast("long").as("id"),
        // null lines array = no paragraphs (size(null) is null, and the
        // explode emits nothing for it)
        coalesce(size(col(linesCol)), lit(0)).cast("long").as("n_lines"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Per-doc (id, shingle-hash set, MinHash signature). Shingling is
    * declarative (scan-parallel, pruned); the signature inner loop
    * (|shingles| md5 + numHashes·|shingles| min-computations per doc)
    * is a mapPartitions kernel — Catalyst higher-order lambdas run
    * interpreted, the JVM loop is ~3× faster. THE canonical MinHash
    * path: bit-identical to the declarative
    * `TextFunctions.minhashSignature(shingleHashPairs(...))` (same
    * md5-hex → h1/h2 byte split as mdHash/mdHash2) — identity proven
    * in TextFunctionsSpec, so the two formulations cannot drift.
    */
  private[graft] def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String, numHashes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // shingling happens INSIDE the kernel too: the declarative
    // wordShingles chain (split → transform → slice → concat_ws) runs
    // interpreted per row — building the distinct 3-gram strings in the
    // same JVM loop as the hashing measurably beats it. Semantics are
    // bit-identical to wordShingles(words(text), 3) (same split-on-
    // space incl. empty tokens, same first-occurrence distinct order).
    // fan the slim (id, text) projection out to full parallelism: the
    // signature kernel is the most expensive per-row compute in the
    // library and must not inherit a coarse input file layout
    val sh = Kernels.fanOut(
      df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("t")))
    sh.as[(Long, String)].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, text) =>
        val shingles = Dedup.shingleStrings(text, 3)
        val m = shingles.length
        val h1 = new Array[Long](m)
        val h2 = new Array[Long](m)
        var j = 0
        while (j < m) {
          md.reset()
          val dg = md.digest(shingles(j).getBytes("UTF-8"))
          // h1 = first 15 hex chars = 60 bits: bytes 0..6 + high nibble
          // of byte 7; h2 = hex chars 16..27 = low nibble of byte 7 +
          // bytes 8..13 high nibble... equivalently parse via masks —
          // identical to parsing the hex substrings.
          var a = 0L
          var k = 0
          while (k < 7) { a = (a << 8) | (dg(k) & 0xffL); k += 1 }
          h1(j) = (a << 4) | ((dg(7) & 0xf0L) >> 4)
          var b = dg(7) & 0x0fL
          k = 8
          while (k < 13) { b = (b << 8) | (dg(k) & 0xffL); k += 1 }
          h2(j) = (b << 4) | ((dg(13) & 0xf0L) >> 4)
          j += 1
        }
        val sig = new Array[Long](numHashes)
        var i = 0
        while (i < numHashes) {
          var mn = Long.MaxValue
          j = 0
          while (j < m) { val v = h1(j) + i * h2(j); if (v < mn) mn = v; j += 1 }
          sig(i) = mn
          i += 1
        }
        (id, h1, sig)
      }
    }.toDF("id", "hset", "sig")
  }

  /** Per-doc document fingerprints, JVM kernel form — one mapPartitions
    * pass computing both the bag-of-words fingerprint (mdHash of the
    * sorted distinct word set, reorder/repeat-invariant) and the
    * winnowing-style min-shingle fingerprint (min over n-gram shingles
    * of mdHash). Bit-identical to the declarative pair
    * `TextFunctions.bowFingerprint(words(text))` /
    * `TextFunctions.minShingleFingerprint(wordShingles(words(text), n))`:
    * same split-on-space (empty tokens kept), word sort by UTF-8 byte
    * order (= Spark `sort_array` / UTF8String binary order), same
    * md5-byte-mask 60-bit parse as [[minhashSignatures]]'s h1 — the
    * identity is pinned in TextFunctionsSpec so the two formulations
    * cannot drift. Exists because the declarative form runs one
    * interpreted Catalyst lambda md5 per shingle per row (the r6 bench's
    * slowest query); the JVM loop is the same pattern that already pays
    * for MinHash/SimHash signatures.
    *
    * Returns (id, fp, minfp).
    */
  private[graft] def fingerprints(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in = Kernels.fanOut(
      df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("t")))
    in.as[(Long, String)].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def h60(s: String): Long = {
        md.reset()
        val dg = md.digest(s.getBytes("UTF-8"))
        var a = 0L
        var k = 0
        while (k < 7) { a = (a << 8) | (dg(k) & 0xffL); k += 1 }
        (a << 4) | ((dg(7) & 0xf0L) >>> 4)
      }
      // Spark's string sort order is UTF8String binary order = unsigned
      // UTF-8 byte comparison; String.compareTo (UTF-16 code units)
      // diverges for supplementary-plane chars, so compare bytes.
      val utf8Order = new java.util.Comparator[String] {
        def compare(a: String, b: String): Int = {
          val x = a.getBytes("UTF-8")
          val y = b.getBytes("UTF-8")
          val m = math.min(x.length, y.length)
          var i = 0
          while (i < m) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          x.length - y.length
        }
      }
      it.map { case (id, text) =>
        val w = text.split(" ", -1)
        val set = new java.util.TreeSet[String](utf8Order)
        var i = 0
        while (i < w.length) { set.add(w(i)); i += 1 }
        // concat_ws semantics: separator between EVERY pair of elements,
        // including empty strings (an empty first word still precedes a
        // separator) — a length-based guard would drop that separator
        val sb = new java.lang.StringBuilder
        val iter = set.iterator()
        var firstW = true
        while (iter.hasNext) {
          if (!firstW) sb.append(' ')
          sb.append(iter.next())
          firstW = false
        }
        val fp = h60(sb.toString)
        val shingles = Dedup.shingleStrings(text, n)
        var mn = Long.MaxValue
        i = 0
        while (i < shingles.length) {
          val v = h60(shingles(i)); if (v < mn) mn = v; i += 1
        }
        (id, fp, mn)
      }
    }.toDF("id", "fp", "minfp")
  }

  /** Winnowing (MOSS) fingerprint sets, JVM kernel form — POSITIONAL
    * n-gram hashes (every token position, duplicates kept, unlike the
    * distinct shingle sets above), a `w`-hash sliding window keeping
    * each window's MIN, distinct mins per doc. One (id, fp) row per
    * selected fingerprint. Bit-identical to the declarative
    * `transform(sequence…, i => mdHash(concat_ws(" ", slice(w, i, n))))`
    * chain and the DuckDB list-comprehension oracle (same split-on-space
    * incl. empty tokens, same 60-bit md5 parse as [[minhashSignatures]]'s
    * h1) — the declarative form slices O(tokens) per position
    * (quadratic per doc) through one interpreted md5 lambda per
    * position: 306 s at sf0.1 vs ~1 s for this kernel, the q63 lesson
    * re-learned on positional shingles.
    *
    * Docs with fewer than n + w - 1 tokens have no full window and
    * yield no rows.
    */
  private[graft] def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String, n: Int, w: Int): DataFrame = {
    require(n >= 1 && w >= 1, s"n and w must be >= 1, got ($n, $w)")
    val spark = df.sparkSession
    import spark.implicits._
    val in = Kernels.fanOut(
      df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("t")))
    in.as[(Long, String)].mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { case (id, text) =>
        val tok = text.split(" ", -1)
        val m = tok.length - n + 1
        if (m < w) Iterator.empty
        else {
          val hs = new Array[Long](m)
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i < m) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(tok(i + j))
              j += 1
            }
            md.reset()
            val dg = md.digest(sb.toString.getBytes("UTF-8"))
            var a = 0L
            var k = 0
            while (k < 7) { a = (a << 8) | (dg(k) & 0xffL); k += 1 }
            hs(i) = (a << 4) | ((dg(7) & 0xf0L) >>> 4)
            i += 1
          }
          val out = new java.util.HashSet[Long]()
          i = 0
          while (i <= m - w) {
            var mn = Long.MaxValue
            var j = i
            while (j < i + w) { if (hs(j) < mn) mn = hs(j); j += 1 }
            out.add(mn): Unit
            i += 1
          }
          import scala.jdk.CollectionConverters._
          out.iterator().asScala.map(fp => (id, fp.longValue()))
        }
      }
    }.toDF("id", "fp")
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * Pipeline: per-row shingles → per-row MinHash signature (numHashes
    * seeded 60-bit hashes, via [[minhashSignatures]]) → explode into
    * `bands` band keys → self-join on (band, key) → distinct candidate
    * pairs → exact Jaccard filter.
    * Pair collision probability ≈ 1-(1-J^rowsPerBand)^bands.
    *
    * Returns (id_a, id_b, jac) with id_a < id_b and jac ≥ threshold.
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 48, bands: Int = 12): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    // materialize the signature table once: the band explode reads it
    // twice (self-join sides) and the Jaccard rerank reads it twice
    // more (at cluster scale: a persisted/bucketed intermediate table)
    val hashed = minhashSignatures(df, idCol, textCol, numHashes).persist()
    // bands carry ONLY (id, band, key): dragging the shingle-hash array
    // through the 12-way explode would amplify cache + shuffle 12×.
    // Candidate ids come out of the band join; the arrays are fetched
    // afterwards for just the (few) candidates.
    val banded = hashed.select(col("id"),
      posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "key")))
    val cand = banded.select(col("band"), col("key"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("key"), col("id").as("id_b")), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val hs = hashed.select(col("id"), col("hset"))
    val pairs = cand
      .join(hs.select(col("id").as("id_a"), col("hset").as("h_a")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("hset").as("h_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccardFast(col("h_a"), col("h_b")).as("jac"))
      .filter(col("jac") >= threshold)
    // spill the (tiny) pair set and release the signature cache —
    // returning a frame that still reads the cache would leak it into
    // the block manager for the session lifetime
    Materialize.spillRelease(pairs, hashed)
  }

  /** [[minhashLshPairs]] with asymmetric containment: same banded
    * candidate generation and exact rerank, but the pair row also
    * carries |A∩B| and both set sizes so containment |A∩B|/|A| falls
    * out of the SAME hash-set join — no second pass over the corpus
    * grams (the first cut recomputed every shingle hash just to score
    * containment). Returns (id_a, id_b, jac, n_int, sza, szb) with
    * jac ≥ threshold.
    */
  def minhashLshContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 48, bands: Int = 12): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val hashed = minhashSignatures(df, idCol, textCol, numHashes).persist()
    val banded = hashed.select(col("id"),
      posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "key")))
    val cand = banded.select(col("band"), col("key"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("key"), col("id").as("id_b")), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val hs = hashed.select(col("id"), col("hset"))
    val ni = size(array_intersect(col("h_a"), col("h_b"))).cast("long")
    val pairs = cand
      .join(hs.select(col("id").as("id_a"), col("hset").as("h_a")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("hset").as("h_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), ni.as("n_int"),
        size(col("h_a")).cast("long").as("sza"), size(col("h_b")).cast("long").as("szb"))
      .withColumn("jac", col("n_int").cast("double") /
        (col("sza") + col("szb") - col("n_int")).cast("double"))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac", "n_int", "sza", "szb")
    Materialize.spillRelease(pairs, hashed)
  }

  /** Incremental MinHash-LSH dedup: near-duplicate pairs between a NEW
    * batch and an EXISTING corpus — the "is today's crawl already in
    * the index?" pass of continuous ingestion. Same signature/banding
    * machinery as [[minhashLshPairs]], but the band join is batch ×
    * corpus instead of a self-join, so the (small) batch side drives
    * the probe and within-corpus and within-batch pairs are never
    * generated. At cluster scale the corpus band table is the
    * precomputed index (bucketed on (band, key) and reused across
    * batches); only the batch side recomputes per ingest.
    *
    * Returns (batch_id, corpus_id, jac) with jac ≥ threshold.
    */
  def minhashLshPairsAgainst(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 48, bands: Int = 12): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val hc = minhashSignatures(corpus, idCol, textCol, numHashes).persist()
    val hb = minhashSignatures(batch, idCol, textCol, numHashes).persist()
    def bandsOf(h: DataFrame, as: String) = h.select(
      col("id").as(as),
      posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "key")))
    val cand = bandsOf(hb, "batch_id")
      .join(bandsOf(hc, "corpus_id"), Seq("band", "key"))
      .select("batch_id", "corpus_id")
      .distinct()
    val pairs = cand
      .join(hb.select(col("id").as("batch_id"), col("hset").as("h_b")), Seq("batch_id"))
      .join(hc.select(col("id").as("corpus_id"), col("hset").as("h_c")), Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        jaccardFast(col("h_b"), col("h_c")).as("jac"))
      .filter(col("jac") >= threshold)
    Materialize.spillRelease(pairs, hb, hc)
  }

  /** Connected components over near-duplicate pairs: every doc gets the
    * min doc-id of its component as `cluster_id` — the step that turns
    * pairwise discovery ([[minhashLshPairs]] etc.) into actionable
    * dedup clusters ("keep one per cluster").
    *
    * Iterative min-label propagation: each round joins labels across
    * the (symmetrized) edge set and takes the per-node min, stopping at
    * convergence (rounds ≈ component diameter — near-dup clusters are
    * clique-like, so 1-2 rounds in practice, O(log n) worst case for
    * chains). Each round is one shuffle join + partial-aggregable min;
    * per-round persist + immediate unpersist of the superseded round
    * keeps lineage flat so round N's plan does not replay rounds
    * 1..N-1. The convergence probe is an `observe()` metric
    * collected by the same action that materializes the round — no
    * separate compare job, no driver materialization.
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    // persist + eager materialize each round, then unpersist the
    // superseded round immediately — localCheckpoint would leave every
    // round's blocks in the block manager until the RDDs are GC'd,
    // pressuring whatever runs next in the session. Lineage grows one
    // join+agg per round, bounded by maxIter — no checkpoint needed.
    // round 1 folded into initialization: label₀ = min(id, min
    // neighbor) — one partial-aggregable pass instead of the first
    // join round (sym is symmetric, so every node appears as src)
    var labels = sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("label"))
      .persist()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // convergence probe folded into the propagation job: carry the
      // node's own (old) label through the agg — labels are unique per
      // id, so min(label WHERE own) recovers it — and observe() sums
      // the changed flags as a query metric. One action per round
      // (materialize-into-cache + metric) instead of propagate +
      // compare-join count; at cluster scale that halves the per-round
      // fixed job overhead that dominates iterative CC.
      val obs = new org.apache.spark.sql.Observation(s"lp_round_$i")
      val prop = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("label"), lit(false).as("own"))
        .union(labels.select(col("id"), col("label"), lit(true).as("own")))
        .groupBy("id")
        .agg(min(col("label")).as("label"),
          min(when(col("own"), col("label"))).as("old"))
        .observe(obs, sum(when(col("label") < col("old"), 1L).otherwise(0L)).as("changed"))
        .select(col("id"), col("label"))
        .persist()
      prop.count()
      changed = obs.get.apply("changed") match { case n: Number => n.longValue }
      labels.unpersist()
      labels = prop
      i += 1
    }
    sym.unpersist()
    // the final round's labels are still cached — spill + release so the
    // result carries no block-manager footprint out of the operator
    Materialize.spillRelease(
      labels.select(col("id"), col("label").as("cluster_id")), labels)
  }

  /** End-to-end near-dup dedup pass — the full pipeline a training-data
    * job runs: discover candidate pairs (MinHash-LSH), form clusters
    * ([[nearDupClusters]]), keep the highest-quality doc per cluster
    * (quality tie → smallest id), pass singletons through untouched.
    * Returns the surviving rows with the original schema. Every stage
    * is the scale-safe variant: banded LSH join, label propagation,
    * one window over cluster ids.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 48, bands: Int = 12): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, threshold, numHashes, bands)
    val clusters = nearDupClusters(pairs)
    // drop the cluster-side columns BY REFERENCE: a by-name
    // drop("id", "cluster_id") would also remove the caller's own
    // "id"/"cluster_id" columns (breaking idCol = "id" outright)
    val withC = df.join(clusters, df(idCol) === clusters("id"), "left")
      .withColumn("__cid", clusters("cluster_id"))
      .drop(clusters("id")).drop(clusters("cluster_id"))
    // singleton bypass: docs in no cluster are kept by definition and
    // never shuffle — only the (tiny) clustered subset goes through the
    // keep-best pick. The window formulation this replaces shuffled the
    // WHOLE corpus on the cluster key to pick rn=1 in mostly-singleton
    // partitions; at 100 TB that is a full-data shuffle for nothing.
    val singletons = withC.filter(col("__cid").isNull).drop("__cid")
    val clustered = withC.filter(col("__cid").isNotNull)
      .withColumn("__q", qualityScore(col(textCol), words(col(textCol))))
    val kept = TopK.perGroup(clustered, Seq("__cid"),
        Seq(("__q", true), (idCol, false)), k = 1, rankName = "__rn")
      .drop("__cid", "__q", "__rn")
    singletons.unionByName(kept)
  }

  /** Keep-best dedup policy: within each duplicate cluster (shared
    * bag-of-words fingerprint), keep the highest-quality doc — the
    * realistic pipeline step after cluster discovery. Returns one row
    * per multi-doc cluster: the kept doc and the cluster size.
    */
  def keepBestByFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = df.select(col(idCol).as("id"), col(textCol).as("t"), words(col(textCol)).as("w"))
      .withColumn("fp", bowFingerprint(col("w")))
      .withColumn("q", qualityScore(col("t"), col("w")))
    val win = Window.partitionBy("fp")
    val pick = Window.partitionBy("fp")
      .orderBy(col("q").desc, col("id").asc)
    w.withColumn("n_docs", count(lit(1)).over(win))
      .withColumn("rn", row_number().over(pick))
      .filter(col("n_docs") >= 2 && col("rn") === 1)
      .select(col("fp"), col("id").as("kept_id"), col("n_docs"),
        round(col("q"), 6).as("kept_quality"))
  }

  /** Cross-document duplicated-span statistics — the span-granularity
    * dedup signal (how much of each doc's text also appears verbatim in
    * OTHER docs), complementing doc-level near-dup discovery: a doc can
    * be globally unique yet 80% boilerplate. For each doc: the number
    * of word n-gram occurrences (positions, NOT distinct), how many of
    * them are grams seen in ≥ 2 distinct docs, and the duplicated
    * fraction.
    *
    * Scale shape: explode to (doc, gram-hash) — linear in corpus
    * tokens; one partial-aggregable distinct-doc count per hash; one
    * hash-partitioned join back; one per-doc count. No quadratic term,
    * no driver materialization. Hashes use the 60-bit cross-engine md5
    * formula (swap xxhash64 in production).
    */
  def crossDocDupStats(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val spark = df.sparkSession
    import spark.implicits._
    val grams = Kernels.fanOut(df
        .select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("t")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          // positional grams: the same gram twice in one doc counts twice
          val w = text.split(" ", -1)
          val m = math.max(w.length - (n - 1), 1)
          (0 until m).iterator.map { i =>
            val end = math.min(i + n, w.length)
            val sb = new java.lang.StringBuilder(w(i))
            var j = i + 1
            while (j < end) { sb.append(' '); sb.append(w(j)); j += 1 }
            md.reset()
            val dg = md.digest(sb.toString.getBytes("UTF-8"))
            var a = 0L
            var k = 0
            while (k < 7) { a = (a << 8) | (dg(k) & 0xffL); k += 1 }
            (id, (a << 4) | ((dg(7) & 0xf0L) >> 4))
          }
        }
      }.toDF("id", "h")
    // "seen in >= 2 distinct docs" ⟺ min(id) != max(id) — constant
    // memory per hash and fully map-side combinable, where a
    // countDistinct would build per-hash sets and skew on hot grams
    val perHash = grams.groupBy("h")
      .agg((min(col("id")) =!= max(col("id"))).as("dup"))
    grams.join(perHash, Seq("h"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 6).as("dup_frac"))
  }

  /** Per-doc 64-bit SimHash sketch, JVM kernel: one md5 per DISTINCT
    * word (the declarative `TextFunctions.simhash64` recomputes the
    * hash inside a per-bit lambda — 64× the digests, interpreted).
    * Word hash = first 8 digest bytes big-endian as a signed long
    * (bit-matching `conv(substring(md5, 1, 16), 16, -10)`), same
    * majority-vote-per-bit formula — bit-identity with the declarative
    * form is proven in TextFunctionsSpec. 64 bits, not 16: 16-bit
    * chunk buckets saturate at 2^(16/(d+1)) values and the pigeonhole
    * join's Σ bucket² goes quadratic on a web-scale corpus; 16-bit
    * chunks of a 64-bit sketch keep buckets sparse.
    *
    * Kernel cost shape (the 16→64-bit upgrade made the vote loop the
    * cost center): the per-bit vote counts ONES branchlessly (`ones ×2
    * ≥ n` ⟺ the ±1 tally ≥ 0 — random sketch bits made the ±1 branch
    * mispredict half the time), and word hashes memoize in a bounded
    * per-partition map — corpus word frequency is Zipfian, so most
    * occurrences hit the cache instead of re-running md5. The Hamming
    * side needs no custom expression: Spark's `bit_count` is already
    * codegen'd `Long.bitCount` (see [[simhashNearDupPairs]]).
    */
  private[graft] def simhashSketches(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Kernels.fanOut(
        df.select(col(idCol).cast("long").as("id"), col(textCol).cast("string").as("t")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // word -> hash memo, capped so a pathological vocabulary can't
        // grow executor memory unboundedly (Zipf → high hit rate long
        // before the cap)
        val memo = new java.util.HashMap[String, java.lang.Long](1 << 16)
        val memoCap = 1 << 20
        def wordHash(wd: String): Long = {
          val cached = memo.get(wd)
          if (cached != null) cached.longValue()
          else {
            md.reset()
            val dg = md.digest(wd.getBytes("UTF-8"))
            var h = 0L
            var k = 0
            while (k < 8) { h = (h << 8) | (dg(k) & 0xffL); k += 1 }
            if (memo.size < memoCap) memo.put(wd, h)
            h
          }
        }
        // SWAR bit tally: 8 long lanes, lane k byte j counting bit
        // (8j + k) of the word hashes — (h >>> k) & 0x0101..01 drops
        // each selected bit into its own byte, so one add tallies 8
        // bit positions at once: 8 ops per word instead of 64. Byte
        // lanes hold ≤ 255, so tallies flush to the int array every
        // 255 words (never for typical docs).
        val ones = new Array[Int](64)
        val lanes = new Array[Long](8)
        val Mask = 0x0101010101010101L
        var pend = 0
        def flush(): Unit = {
          var k = 0
          while (k < 8) {
            val L = lanes(k)
            var j = 0
            while (j < 8) {
              ones(8 * j + k) += ((L >>> (8 * j)) & 0xffL).toInt
              j += 1
            }
            lanes(k) = 0L
            k += 1
          }
          pend = 0
        }
        it.map { case (id, t) =>
          java.util.Arrays.fill(ones, 0)
          java.util.Arrays.fill(lanes, 0L)
          pend = 0
          // split in the kernel (limit -1 keeps trailing empties —
          // bit-matching the declarative `split(text, " ")`): the row
          // crosses the encoder as one string instead of a
          // per-element-converted catalyst array
          val ws = t.split(" ", -1)
          val seen = new java.util.HashSet[String]()
          var n = 0
          ws.foreach { wd =>
            if (seen.add(wd)) {
              val h = wordHash(wd)
              n += 1
              var k = 0
              while (k < 8) { lanes(k) += (h >>> k) & Mask; k += 1 }
              pend += 1
              if (pend == 255) flush()
            }
          }
          flush()
          var sh = 0L
          var b = 0
          // majority vote: ±1 tally ≥ 0 ⟺ 2·ones ≥ n
          while (b < 64) { if (2 * ones(b) >= n) sh |= 1L << b; b += 1 }
          (id, sh)
        }
      }.toDF("id", "sh64")
  }

  /** SimHash groups: docs sharing an identical 64-bit sketch (duplicate
    * clusters). Returns (simhash, n_docs, min_id) for groups of ≥ 2.
    */
  def simhashGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashSketches(df, idCol, textCol)
      .groupBy("sh64")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_id"))
      .filter(col("n_docs") >= 2)

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`
    * — the chunked pigeonhole join (the production SimHash dedup
    * shape): the 64-bit sketch splits into `maxHamming + 1` chunks, so
    * any pair within distance d must agree on at least one whole chunk
    * (pigeonhole); candidates are chunk-colliding pairs only, then the
    * exact `bit_count(xor)` filter confirms. Never an all-pairs scan —
    * the quadratic term drops to Σ chunk-bucket², and with ≥ 16-bit
    * chunks the bucket keyspace (≥ 65536 per chunk index) stays sparse
    * at corpus scale.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 1): DataFrame = {
    val nChunks = maxHamming + 1
    require(maxHamming >= 0 && 64 % nChunks == 0,
      s"maxHamming + 1 must divide 64, got $maxHamming")
    val w = 64 / nChunks
    val sk = simhashSketches(df, idCol, textCol)
    // shiftrightunsigned: an arithmetic shift would sign-extend the top
    // chunk; the mask bounds each chunk value to w bits either way, but
    // the unsigned shift keeps cv == the literal bit slice
    val chunked = sk.select(col("id"), col("sh64"),
      explode(array((0 until nChunks).map(ci =>
        struct(lit(ci).as("ci"),
          (if (w == 64) col("sh64")
           else shiftrightunsigned(col("sh64"), ci * w)
             .bitwiseAND(lit((1L << w) - 1))).as("cv"))): _*)).as("c"))
      .select(col("id"), col("sh64"), col("c.ci").as("ci"), col("c.cv").as("cv"))
    val a = chunked.select(col("ci"), col("cv"), col("id").as("id_a"), col("sh64").as("h_a"))
    val b = chunked.select(col("ci"), col("cv"), col("id").as("id_b"), col("sh64").as("h_b"))
    a.join(b, Seq("ci", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Shingle-hash each doc into sorted 60-bit hashes BEFORE any
    * shuffle: md5 per shingle in a JVM loop (the declarative
    * transform(mdHash) runs interpreted — measured ~2× slower), so the
    * downstream shuffles carry 8-byte longs, not shingle strings. Same
    * md5→60-bit byte-mask parse as minhashSignatures (bit-identity
    * with mdHash proven in TextFunctionsSpec).
    */
  private def shingleHashDocs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int): org.apache.spark.sql.Dataset[(String, Long, Array[Long])] = {
    val spark = df.sparkSession
    import spark.implicits._
    Kernels.fanOut(df.select(
        col(blockCol).cast("string").as("blk"), col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("t")))
      .as[(String, Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (blk, id, text) =>
          val shingles = Dedup.shingleStrings(text, n)
          val m = shingles.length
          val h = new Array[Long](m)
          var j = 0
          while (j < m) {
            md.reset()
            val dg = md.digest(shingles(j).getBytes("UTF-8"))
            var a = 0L
            var k = 0
            while (k < 7) { a = (a << 8) | (dg(k) & 0xffL); k += 1 }
            h(j) = (a << 4) | ((dg(7) & 0xf0L) >> 4)
            j += 1
          }
          java.util.Arrays.sort(h)
          (blk, id, h)
        }
      }
  }

  /** Sorted-merge distinct-intersection Jaccard over two sorted hash
    * arrays, threshold-aware — the shared confirm kernel of both
    * ngramJaccardPairs paths, whose callers keep a pair iff the result
    * is `>= thr`. Duplicate-skip makes the count identical to
    * array_intersect/list_intersect; sizes keep duplicates, matching
    * the oracle's len() semantics.
    *
    * Early exit (the length/position filter of set-similarity joins):
    * the walk stops as soon as `cnt + min(na - i, nb - j)` — an upper
    * bound on the final distinct count — falls below `cMin`, the least
    * count whose score reaches `thr` (see [[minQualifyingCount]]), and
    * returns `Double.NegativeInfinity`. The exit is exact: the score
    * `c / (na + nb - c)` is evaluated with the same double expression
    * for every `c`, the real quotient rises strictly with `c` and IEEE
    * division rounds monotonically, so every count below `cMin` scores
    * below `thr` — a pair that exits early would have been rejected by
    * the full walk too. A pair that is not cut off returns the full
    * walk's value bit for bit. At t = 0.8 most candidate pairs exit
    * after a handful of mismatches instead of walking both arrays.
    */
  private[graft] def jaccardSorted(ha: Array[Long], hb: Array[Long], thr: Double): Double =
    jaccardSorted(ha, hb, minQualifyingCount(ha.length, hb.length, thr))

  /** [[jaccardSorted]] with the exit count `cMin =
    * minQualifyingCount(ha.length, hb.length, thr)` given, for callers
    * that score many pairs of the same sizes.
    */
  private def jaccardSorted(ha: Array[Long], hb: Array[Long], cMin: Int): Double = {
    val na = ha.length; val nb = hb.length
    var i = 0; var j = 0; var cnt = 0
    while (i < na && j < nb) {
      if (cnt + math.min(na - i, nb - j) < cMin) return Double.NegativeInfinity
      val x = ha(i); val y = hb(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        cnt += 1
        while (i < na && ha(i) == x) i += 1
        while (j < nb && hb(j) == x) j += 1
      }
    }
    cnt.toDouble / (na.toDouble + nb.toDouble - cnt.toDouble)
  }

  /** Least `c` in `[0, min(na, nb)]` whose Jaccard score
    * `c / (na + nb - c)` — the kernel's own double expression — is
    * `>= thr`; `min(na, nb) + 1` when none is (`thr > 1` or NaN). The
    * score is non-decreasing in `c`, so a closed-form guess
    * `⌈thr·(na + nb) / (1 + thr)⌉` corrected by ±1 steps against the
    * exact expression finds the boundary; the steps absorb the guess's
    * rounding. Callers only use it when both sides are non-empty.
    */
  private def minQualifyingCount(na: Int, nb: Int, thr: Double): Int = {
    val m = math.min(na, nb)
    if (!(thr <= 1.0)) return m + 1 // NaN or above every attainable score
    if (thr <= 0.0 || m == 0) return 0
    val s = na.toDouble + nb.toDouble
    def reaches(c: Int): Boolean = c.toDouble / (s - c.toDouble) >= thr
    var c = math.min(m + 1, math.ceil(thr * s / (1.0 + thr)).toInt)
    while (c > 0 && reaches(c - 1)) c -= 1
    while (c <= m && !reaches(c)) c += 1
    c
  }

  /** Brute-force n-gram Jaccard pairs within a blocking key (e.g. lang).
    * The blocking key bounds the quadratic term to the largest block;
    * for unblocked corpora use [[minhashLshPairs]].
    *
    * Two physical plans produce the identical pair set:
    *  - the **prefix-filtered** path (AllPairs/PPJoin family):
    *    candidate pairs come from an equi-join on each doc's
    *    rarest-token prefix, so candidate volume is bounded by token
    *    co-occurrence instead of block size² — the 100 TB path. The
    *    prefix filter is EXACT (a theorem, not a sketch): order the
    *    token universe by (document frequency, hash); if J(A,B) ≥ t,
    *    the globally smallest common token provably sits within the
    *    first |X| − ⌈t·|X|⌉ + 1 tokens of BOTH docs, so a pair sharing
    *    no prefix token cannot qualify. Survivors are re-scored with
    *    the same exact kernel, so the output is bit-identical to
    *    all-pairs.
    *  - the **tile-pair** all-pairs scan (the oracle-shaped reference
    *    path).
    *  - which one runs: picked by corpus size. The prefix path pays a
    *    constant (three extra linear token-keyed stages: document
    *    frequencies, prefix ranking, candidate distinct) that a small
    *    corpus never earns back, while the tiled path grows with
    *    block². q73's pipeline (t = 0.8, medians of alternating runs,
    *    4-cpu VM): at sf0.1 (5k docs) tiled 0.63 s vs prefix 2.98 s; at
    *    a ScaleUp sf1 (50k docs) tiled 11.0 s vs prefix 10.7-13.2 s, a
    *    tie within that VM's run-to-run spread. Before the confirm
    *    kernel's early exit ([[jaccardSorted]]) the same runs read
    *    tiled 1.12 s vs prefix 2.89 s at sf0.1 and tiled 50.7 s vs
    *    prefix 9.4 s at sf1, so the crossover moved from below 16k docs
    *    to about 50k. The constant sits below that tie, on the prefix
    *    side: a corpus past the crossover costs the tiled path
    *    quadratically, one short of it costs the prefix path only its
    *    constant. Not measured on a many-core host. Both paths return
    *    bit-identical pairs (OperatorsSpec hash-equality law), so the
    *    switch can never change results, only the plan. The corpus
    *    size is read from plan statistics (or the caller's `knownCount`
    *    hint) — no job runs to make the choice; see
    *    [[estimatedRowCount]].
    */
  val PrefixCrossoverDocs = 32768L

  /** Conservative compressed-bytes-per-document divisor for the
    * stats-based corpus-size estimate (the harness docs measure
    * ~119 B/doc in parquet). Underestimating bytes-per-doc can only
    * OVERestimate the doc count, which picks the prefix path early —
    * the asymptotically safe side (both paths are hash-identical, so
    * the choice is pure plan shape).
    */
  private val BytesPerDocEstimate = 128L

  /** Order-of-magnitude row estimate WITHOUT running a job: Catalyst
    * `rowCount` when the plan carries one, else compressed scan bytes
    * over [[BytesPerDocEstimate]] (parquet scans always expose
    * sizeInBytes from the file index), else None. The size crossover
    * needs only a decade-level estimate, and an eager `df.count()` at
    * plan-construction time recomputed arbitrary upstream work twice
    * (r9 verdict item: at 100 TB that is a full extra pass before any
    * dedup starts).
    */
  private[graft] def estimatedRowCount(df: DataFrame): Option[Long] = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).orElse {
      val sz = stats.sizeInBytes
      // defaultSizeInBytes (Long.MaxValue) marks "unknown" — don't divide it
      if (sz > 0 && sz < BigInt(Long.MaxValue) / 2) Some(math.max(1L, (sz / BytesPerDocEstimate).toLong))
      else None
    }
  }

  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int, threshold: Double, tiles: Int = 8,
      knownCount: Option[Long] = None): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    // hint > plan statistics > count(); count() runs a real job and
    // is the last resort for stat-less plans (e.g. local relations
    // behind barriers) — parquet-backed frames never reach it
    val usePrefix =
      knownCount.orElse(estimatedRowCount(df)).getOrElse(df.count()) >= PrefixCrossoverDocs
    if (usePrefix) ngramJaccardPairsPrefix(df, idCol, textCol, blockCol, n, threshold)
    else ngramJaccardPairsTiled(df, idCol, textCol, blockCol, n, threshold, tiles)
  }

  /** Prefix-filtered exact set-similarity join (see [[ngramJaccardPairs]]).
    * Stages, all keyed and shuffle-bounded by token volume (linear in
    * corpus size), never by block²:
    *  1. shingle-hash kernel per doc (no shuffle);
    *  2. document frequency per (block, token) — orders the token
    *     universe rarest-first so prefixes index into near-singleton
    *     buckets (hash-value order alone would let one boilerplate
    *     shingle with a random hash land in millions of prefixes);
    *  3. per-doc prefix = the p rarest tokens, p = |X| − ⌈t·|X|⌉ + 1
    *     over the doc's DISTINCT token set (the theorem's universe;
    *     ⌈·⌉ is computed with a −1e-9 bias so fp rounding can only
    *     LENGTHEN the prefix — a longer prefix is always recall-safe);
    *  4. candidate pairs = equi-join on (block, token) with id_a <
    *     id_b and the size band (J ≥ t ⇒ min·1 ≥ t·max — implied by
    *     the threshold, so pruning with it cannot drop a qualifier);
    *  5. exact confirm: join candidates back to the sorted hash
    *     arrays and re-score with the same two-pointer kernel.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int, threshold: Double, materialize: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sh = shingleHashDocs(df, idCol, textCol, blockCol, n)
    // persist only on the materialized path: spillRelease unpersists it
    // there; the materialize=false (plan-inspection) path returns a live
    // plan and a persist here would leak the cached frame (r8 advice)
    val shDf0 = sh.toDF("blk", "id", "h")
    val shDf = if (materialize) shDf0.persist() else shDf0
    val tok = shDf.select(col("blk"), col("id"), size(col("h")).as("len"),
        size(array_distinct(col("h"))).as("dlen"),
        explode(array_distinct(col("h"))).as("hv"))
    val freq = tok.groupBy("blk", "hv").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("blk", "id").orderBy(col("f"), col("hv"))
    val prefixLen = (col("dlen") -
      ceil(lit(threshold) * col("dlen").cast(DoubleType) - lit(1e-9)) + lit(1))
    val prefix = tok.join(freq, Seq("blk", "hv"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen)
      .select(col("blk"), col("hv"), col("id"), col("len"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.blk") === col("b.blk") && col("a.hv") === col("b.hv") &&
          col("a.id") < col("b.id") &&
          least(col("a.len"), col("b.len")).cast(DoubleType) >=
            lit(threshold) * greatest(col("a.len"), col("b.len")).cast(DoubleType))
      .select(col("a.blk").as("blk"), col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val thr = threshold
    val joined = cand
      .join(shDf.select(col("blk"), col("id").as("id_a"), col("h").as("ha")),
        Seq("blk", "id_a"))
      .join(shDf.select(col("blk"), col("id").as("id_b"), col("h").as("hb")),
        Seq("blk", "id_b"))
      .select(col("id_a"), col("id_b"), col("ha"), col("hb"))
      .as[(Long, Long, Array[Long], Array[Long])]
    val out = joined.mapPartitions { it =>
        it.flatMap { case (ida, idb, ha, hb) =>
          val jac = jaccardSorted(ha, hb, thr)
          if (jac >= thr) Some((ida, idb, jac)) else None
        }
      }.toDF("id_a", "id_b", "jac")
    // materialize=false exposes the live plan for PlanQualitySpec's
    // no-all-pairs pin (spillRelease replaces it with a spill-file scan)
    if (materialize) Materialize.spillRelease(out, shDf) else out
  }

  /** Tile-pair all-pairs scan within each block (see
    * [[ngramJaccardPairs]] for when to prefer the prefix path).
    */
  def ngramJaccardPairsTiled(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int, threshold: Double, tiles: Int = 8): DataFrame = {
    // Jaccard over 60-bit shingle hashes. The pair loop is a
    // branch-light numeric kernel that a declarative join would
    // evaluate interpreted (~6µs/pair) — so: shingle-hash each doc
    // in a pre-shuffle JVM kernel, then shuffle on (block, tile-pair)
    // and run the sorted-merge kernel per group in the executors.
    // The tile-pair decomposition INSIDE each block matters at scale:
    // blocking keys are skewed (an "en" block is most of a web corpus),
    // so a plain per-block shuffle serializes the biggest block on one
    // task — with tiles, per-task memory and work drop to 2/tiles of a
    // block, and parallelism is |blocks|·tiles²/2 instead of |blocks|.
    // Nothing is materialized on the driver.
    // Exact prunes before touching arrays: the size band
    // (J ≥ t ⇒ min/max ≥ t). Distinct-intersection over sorted arrays
    // by two-pointer with duplicate skip — identical counts to
    // array_intersect/list_intersect.
    val spark = df.sparkSession
    import spark.implicits._
    val sh = shingleHashDocs(df, idCol, textCol, blockCol, n)
    val t = tiles
    sh.flatMap { case (blk, id, h) =>
        // floorMod: JVM % is negative for negative ids, which would
        // route those rows to tile groups no positive-tile row joins —
        // silently dropping every pair that involves a negative id
        val ti = math.floorMod(id, t.toLong).toInt
        (0 until t).map(o => (blk, math.min(ti, o), math.max(ti, o), ti, id, h))
      }
      .groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (key: (String, Int, Int),
          it: Iterator[(String, Int, Int, Int, Long, Array[Long])]) =>
        val (_, ti, tj) = key
        val rows = it.toArray
        // each side unpacked once into id and hash arrays (id order), so
        // the pair loop reads primitives instead of unboxing tuples
        def side(tile: Int): (Array[Long], Array[Array[Long]]) = {
          val s = rows.filter(_._4 == tile).sortBy(_._5)
          (s.map(_._5), s.map(_._6))
        }
        val (idsA, hsA) = side(ti)
        val (idsB, hsB) = if (ti == tj) (idsA, hsA) else side(tj)
        // minQualifyingCount depends only on (na, nb): cMinOf(nb) holds
        // it for the na in cMinNa(nb), so a run of equal-size left docs
        // computes it once per right size
        val maxNb = hsB.foldLeft(0)((m, h) => math.max(m, h.length))
        val cMinOf = new Array[Int](maxNb + 1)
        val cMinNa = Array.fill(maxNb + 1)(-1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var ai = 0
        while (ai < idsA.length) {
          val ida = idsA(ai); val ha = hsA(ai)
          val na = ha.length
          var k = if (ti == tj) ai + 1 else 0
          while (k < idsB.length) {
            val hb = hsB(k)
            val nb = hb.length
            if (math.min(na, nb).toDouble >= threshold * math.max(na, nb).toDouble) {
              if (cMinNa(nb) != na) {
                cMinOf(nb) = minQualifyingCount(na, nb, threshold)
                cMinNa(nb) = na
              }
              val jac = jaccardSorted(ha, hb, cMinOf(nb))
              if (jac >= threshold) {
                val idb = idsB(k)
                out += (if (ida < idb) (ida, idb, jac) else (idb, ida, jac))
              }
            }
            k += 1
          }
          ai += 1
        }
        out
      }.toDF("id_a", "id_b", "jac")
  }

  /** Embedding near-duplicate pairs by cosine ≥ threshold, brute force
    * (non-equi join — Spark plans a broadcast nested-loop with the
    * smaller side broadcast). Baseline for [[Similarity.lshNearDupPairs]],
    * which is the 100 TB path.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, tiles: Int = 8): DataFrame = {
    // Brute-force all-pairs cosine is a dense numeric kernel: per pair
    // it is 64 fused multiply-adds with ZERO data-dependent branching.
    // The declarative formulations lose 10-30× here — a nested-loop
    // join's condition/projection runs interpreted per candidate pair
    // (BroadcastNestedLoopJoin does not participate in whole-stage
    // codegen) — so the kernel runs in executors via the classic
    // tile-pair decomposition: each row is hashed to one of `tiles`
    // tiles and replicated to the `tiles` unordered tile-pairs it
    // participates in; each (i,j) pair-task holds only 2/tiles of the
    // corpus and emits its cross pairs. Shuffle volume is tiles×|data|,
    // per-task memory |data|·2/tiles, and the driver never materializes
    // anything — at 100 TB you raise `tiles` so a pair of tiles fits an
    // executor. Norms are computed once per row within the task.
    // Sequential j-loop keeps the accumulation order of the fold
    // (oracle-identical); dot/norm are symmetric so pair orientation
    // does not affect the value.
    val spark = df.sparkSession
    import spark.implicits._
    val t = tiles
    val d = dim
    val e = df.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("e"))
      .as[(Long, Array[Double])]
    e.flatMap { case (id, v) =>
        // floorMod for negative-id safety (see ngramJaccardPairs)
        val ti = math.floorMod(id, t.toLong).toInt
        (0 until t).map(o => (math.min(ti, o), math.max(ti, o), ti, id, v))
      }
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Long, Array[Double])]) =>
        val (ti, tj) = key
        def normSq(v: Array[Double]): Double = {
          var s = 0.0; var j = 0
          while (j < d) { s += v(j) * v(j); j += 1 }; s
        }
        val rows = it.toArray
        val left = rows.collect { case (_, _, tt, id, v) if tt == ti => (id, v) }.sortBy(_._1)
        val right = if (ti == tj) left
          else rows.collect { case (_, _, tt, id, v) if tt == tj => (id, v) }.sortBy(_._1)
        val lNorm = left.map(r => normSq(r._2))
        val rNorm = if (ti == tj) lNorm else right.map(r => normSq(r._2))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var a = 0
        while (a < left.length) {
          val (ida, ea) = left(a)
          val na = lNorm(a)
          var b = if (ti == tj) a + 1 else 0
          while (b < right.length) {
            val (idb, eb) = right(b)
            var dot = 0.0
            var j = 0
            while (j < d) { dot += ea(j) * eb(j); j += 1 }
            val cos = dot / math.sqrt(na * rNorm(b))
            if (cos >= threshold)
              out += (if (ida < idb) (ida, idb, cos) else (idb, ida, cos))
            b += 1
          }
          a += 1
        }
        out
      }.toDF("id_a", "id_b", "cos")
  }
}
