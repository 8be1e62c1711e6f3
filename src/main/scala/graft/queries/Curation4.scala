package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.{Q, Query}
import graft.operators.Similarity
import graft.sources.Tables

/** Round-4 wave 2: content-defined chunking, collocation mining,
  * malformed-record ingest accounting, and cross-lingual bitext mining.
  */
object Curation4 {

  import graft.functions.TextFunctions.{mdHash, words}

  /** Content-defined chunking (the rsync/LBFS/dedup shape): a chunk
    * boundary falls wherever the hash of the trailing 4-token window
    * ≡ 0 (mod 16) — boundaries move with content, not offsets, so an
    * insertion only re-chunks its neighborhood and chunk hashes stay
    * stable for unchanged regions (what makes chunk-level dedup work
    * on near-identical documents). Per-doc window for the running
    * chunk index (doc-local, never corpus-wide); chunk fingerprints
    * via one (doc, chunk) shuffle.
    */
  /** Content-defined chunking of a (idCols..., text-array) frame: the
    * rolling 4-token-window hash marks boundaries (p = 1/16), chunk ids
    * accumulate per document, and each chunk hashes its token span.
    * Shared by q161 (chunk inventory) and q213 (content-addressed
    * storage dedup across snapshots).
    */
  private[queries] def cdcChunkTable(docs: org.apache.spark.sql.DataFrame,
      idCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val ids = idCols.map(col)
    val windowed = docs
      .select(ids :+ posexplode(col("w")).as(Seq("pos0", "tok")) :+ col("w"): _*)
      .select(ids ++ Seq((col("pos0") + 1).as("pos"), col("tok"),
        concat_ws(" ", slice(col("w"), greatest(lit(1), col("pos0") - lit(2)),
          least(col("pos0") + lit(1), lit(4)))).as("win")): _*)
    val flagged = windowed.withColumn("boundary",
      (col("pos") === 1 || mdHash(col("win")) % 16 === 0).cast("int"))
    val chunked = flagged.withColumn("chunk_idx",
      sum(col("boundary")).over(
        Window.partitionBy(ids: _*).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    chunked.groupBy(ids :+ col("chunk_idx"): _*)
      .agg(count(lit(1)).as("n_tokens"),
        mdHash(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, tok))), p -> p.tok)"))).as("chunk_hash"))
  }

  private val q161CdcChunks: Q = (s, d) => {
    cdcChunkTable(
        Tables.documents(s, d).select(col("doc_id"), words(col("text")).as("w")),
        Seq("doc_id"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** PMI collocation mining: pointwise mutual information of adjacent
    * word pairs, ln(c_xy·N / (c_x·c_y)), over corpus-wide counts with a
    * ≥5-occurrence noise floor; top 30 collocations. Three shuffled
    * count aggregates (pair, unigram, corpus total — all map-side
    * partial) + two broadcastable dimension joins; all-integer inputs
    * to one final ln.
    */
  private val q162PmiCollocations: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
    val uni = docs.select(explode(col("w")).as("x"))
      .groupBy("x").agg(count(lit(1)).as("cx"))
    // corpus token total from the |V|-row unigram table — no second
    // corpus-wide explode for one scalar
    val total = uni.agg(sum(col("cx"))).head.getLong(0).toDouble
    val pairs = docs.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(w)), i -> struct(w[i-2] as x, w[i-1] as y))")).as("p"))
      .select(col("p.x"), col("p.y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
    val cy = uni.select(col("x").as("y"), col("cx").as("cy_"))
    pairs.join(broadcast(uni), "x").join(broadcast(cy), "y")
      .select(col("x"), col("y"), col("cxy"), col("cx"), col("cy_").as("cy"),
        round(log(col("cxy").cast(DoubleType) * lit(total)
          / (col("cx").cast(DoubleType) * col("cy_").cast(DoubleType))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("x"), col("y"))
      .limit(30)
  }

  /** Malformed-record ingest accounting: a JSONL fixture where every
    * doc_id ≡ 7 (mod 100) row is written truncated-corrupt, read back
    * PERMISSIVE with a corrupt-record column — the real-world crawl
    * ingest posture (never fail the job; quarantine and count). The
    * fixture write and the read are both executor-parallel; the result
    * is the good/bad accounting plus a checksum over surviving rows.
    */
  private val q163CorruptIngest: Q = (s, d) => {
    // per-JVM fixture root — concurrent runs on the same sf can't race
    // the overwrite against another JVM's json scan
    val dir = graft.operators.Materialize.jvmScratch(
      s"jsonl_${new java.io.File(d).getName}")
    Tables.documents(s, d)
      .select(when(col("doc_id") % 100 === 7,
          concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"n_chars\": oops")))
        .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
        .as("value"))
      .write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("_bad", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
      .json(dir)
      .agg(sum(when(col("_bad").isNull, 1).otherwise(0)).cast(LongType).as("n_good"),
        sum(when(col("_bad").isNotNull, 1).otherwise(0)).cast(LongType).as("n_quarantined"),
        sum(when(col("_bad").isNull, col("n_chars"))).as("chars_good"),
        count_distinct(when(col("_bad").isNull, col("lang"))).as("langs_good"))
  }

  /** Cross-lingual bitext mining (the LASER/CCMatrix shape): for every
    * non-English document, its nearest English document by embedding
    * cosine — candidate translation pairs for MT training data. Rides
    * [[Similarity.bruteForceTopK]]: English side scans, non-English
    * side broadcasts, ranking through the native top-k operator; the
    * documented scale path swaps the brute corpus scan for the IVF
    * index (q77) with identical surface.
    */
  private val q164BitextMining: Q = (s, d) => {
    val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val e = Tables.embeddings(s, d)
      .join(langs, col("vec_id") === col("doc_id")).drop("doc_id")
    val en = e.filter(col("lang") === "en").drop("lang", "label")
    val non = e.filter(col("lang") =!= "en").drop("label")
    val top1 = Similarity.bruteForceTopK(en, non.drop("lang"), "vec_id", "embedding", k = 1)
    top1.join(non.select(col("vec_id").as("qid"), col("lang")), "qid")
      .select(col("qid"), col("lang"), col("nid"), col("cos"))
      .orderBy("qid")
  }

  /** BPE encode: the corpus re-tokenized with the 6 learned merges
    * (the apply half of q153's learn) — top-20 subword tokens by
    * corpus frequency. The learner's one task emits each vocabulary
    * word's final tokens, and the token stats ride that table (|V|
    * rows × freq weights), never re-touching the corpus. A lazy plan:
    * building it runs no job, and running it runs 3 (the word count's
    * two stages, then the learner's stage, which also aggregates the
    * tokens).
    */
  private val q165BpeEncode: Q = (s, d) => {
    val vocab = Tables.documents(s, d)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    graft.operators.Bpe.encodeVocab(s, vocab, rounds = 6)
      .select(explode(col("tokens")).as("tok"), col("freq"))
      .groupBy("tok").agg(sum("freq").as("n"))
      .orderBy(col("n").desc, col("tok")).limit(20)
  }

  /** Bucket-pruned point lookup: an IN-filter on the bucket key scans
    * only the matching buckets (`SelectedBucketsCount: 2 out of 8`,
    * pinned in PlanQualitySpec) — at 100 TB a needle query reads 1/4
    * of the files before row-group pruning even starts.
    */
  private val q166BucketPruning: Q = (s, d) => {
    graft.sources.Bucketing.ensure(s, d)
    s.table(graft.sources.Bucketing.lineitemTable(d))
      .filter(col("l_orderkey").isin(7L, 42L))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Incremental aggregate maintenance: fold a delta batch into a base
    * aggregate without recomputing the corpus — base agg ⟗ delta agg,
    * coalesced sums. The oracle recomputes from scratch, PROVING
    * incremental == full. At 100 TB this is "fold in today's crawl":
    * the full-outer merge shuffles |keys|, not |rows|; DECIMAL sums
    * keep both paths bit-identical at any partitioning.
    */
  private val q167IncrementalAgg: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6)).as("v"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val base = agg(ev.filter(col("event_id") % 5 =!= 0))
      .select(col("user_id"), col("event_type"), col("n").as("n_b"), col("sv").as("s_b"))
    val delta = agg(ev.filter(col("event_id") % 5 === 0))
      .select(col("user_id"), col("event_type"), col("n").as("n_d"), col("sv").as("s_d"))
    base.join(delta, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n"),
        round((coalesce(col("s_b"), lit(0).cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          + coalesce(col("s_d"), lit(0).cast(org.apache.spark.sql.types.DecimalType(30, 6))))
          .cast(DoubleType), 6).as("sum_value"))
      .orderBy("user_id", "event_type")
  }

  /** Robust outlier gate: per-language median and MAD (median absolute
    * deviation) of document length, plus the count beyond 3·MAD — the
    * outlier filter that survives heavy-tailed corpora where mean/σ
    * gates saturate. Exact interpolated percentiles here because the
    * oracle demands bit-exactness; the 100 TB path swaps in
    * `approx_percentile` (accuracy-bounded, mergeable — q148 pattern)
    * with the same two-pass shape: group percentile → broadcast back →
    * deviation percentile.
    */
  private val q168RobustStats: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("lang"), col("n_chars"))
    val med = docs.groupBy("lang")
      .agg(expr("percentile(n_chars, 0.5)").as("med"), count(lit(1)).as("n_docs"))
    val dev = docs.join(broadcast(med), "lang")
      .select(col("lang"), col("n_chars"),
        abs(col("n_chars").cast(DoubleType) - col("med")).as("dev"), col("med"))
    val mad = dev.groupBy("lang").agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "lang")
      .groupBy("lang")
      .agg(max(col("med")).as("median_chars"), max(col("mad")).as("mad_chars"),
        count(lit(1)).as("n_docs"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("lang")
  }

  /** Per-user exponential moving average of event values (α = 0.3,
    * S₁ = x₁ init): the closed form Σ wᵢ·xᵢ with
    * wᵢ = (1−α)^(n−1) for i=1, α·(1−α)^(n−i) otherwise — one user-local
    * rank window + one shuffled sum instead of an inherently-sequential
    * recurrence; DECIMAL(25,12) term casts make the sum
    * partition-order independent. The sequential-looking statistic
    * that DOES distribute.
    */
  private val q169Ewma: Q = (s, d) => {
    val a = 0.3
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
    ev.select(col("user_id"), col("n"),
        (col("value") * when(col("r") === 1, pow(lit(1.0 - a), col("n") - lit(1)))
          .otherwise(lit(a) * pow(lit(1.0 - a), col("n") - col("r"))))
          .cast(org.apache.spark.sql.types.DecimalType(25, 12)).as("term"))
      .groupBy("user_id")
      .agg(max(col("n")).cast("long").as("n_events"),
        round(sum(col("term")).cast(DoubleType), 6).as("ewma"))
      .orderBy("user_id")
  }

  /** Shuffle-free aggregation on the bucketed layout: `groupBy` on the
    * bucket key is satisfied by the scan's HashPartitioning, so the
    * aggregate runs with no hash Exchange at all (PlanQualitySpec pins
    * it — only the output sort exchanges). The second dividend of the
    * pay-once layout: every keyed aggregate, not just joins.
    */
  private val q170BucketedAgg: Q = (s, d) => {
    graft.sources.Bucketing.ensure(s, d)
    s.table(graft.sources.Bucketing.lineitemTable(d))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        graft.functions.GraftFunctions.dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("n_items") >= 5)
      .orderBy("l_orderkey")
  }

  /** Exact-substring scrubbing (the strong form of "Deduplicating
    * Training Data Makes Language Models Better"): every 8-token span
    * occurring in ≥2 distinct documents is REMOVED from all of them,
    * and the scrubbed text is re-emitted (here as count + content
    * hash). q101 measures duplicated spans; this one acts on them.
    *
    * Shape: in-row window hashes (map-only) → one |spans| shuffle for
    * the ≥2-distinct-docs test (constant-memory min≠max, skew-proof) →
    * hash equi-join back → 8× coverage explode + distinct → anti-join
    * on (doc, pos) → per-doc ordered rebuild. Linear in corpus tokens;
    * nothing corpus-wide except hash-partitioned aggregates.
    */
  private val q172SpanScrub: Q = (s, d) => {
    val k = 8
    val spark = s
    import spark.implicits._
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // (doc_id, 1-based start, 60-bit window hash) per k-token window.
    // JVM kernel: one StringBuilder pass per window + the shared md5
    // 60-bit parse (bit-identical to mdHash = conv(substr(md5,1,15)))
    // — the declarative transform/slice/array_join chain ran
    // interpreted per window and dominated the query.
    val wins = graft.operators.Kernels.fanOut(base)
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val w = text.split(" ", -1)
          if (w.length < k) Iterator.empty
          else (0 to w.length - k).iterator.map { i =>
            val sb = new java.lang.StringBuilder(w(i))
            var j = i + 1
            while (j < i + k) { sb.append(' '); sb.append(w(j)); j += 1 }
            md.reset()
            val dg = md.digest(sb.toString.getBytes("UTF-8"))
            var a = 0L
            var t = 0
            while (t < 7) { a = (a << 8) | (dg(t) & 0xffL); t += 1 }
            (id, i + 1, (a << 4) | ((dg(7) & 0xf0L) >>> 4))
          }
        }
      }.toDF("doc_id", "p", "h")
    // cross-doc duplicate windows: partial-aggregable min≠max test
    val dup = wins.groupBy("h")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select("h")
    // covered starts per doc (no 8× coverage explode — the kernel
    // below expands starts to an interval bitmap in-row)
    val starts = wins.join(dup, "h")
      .groupBy("doc_id").agg(collect_list(col("p")).as("ps"))
    val scrubbed = base.join(starts, Seq("doc_id"), "left")
      .as[(Long, String, Seq[Int])]
      .map { case (id, text, ps) =>
        val w = text.split(" ", -1)
        val covered = new Array[Boolean](w.length)
        if (ps != null) ps.foreach { p =>
          var j = p - 1
          val end = math.min(p - 1 + k, w.length)
          while (j < end) { covered(j) = true; j += 1 }
        }
        val sb = new java.lang.StringBuilder
        var kept = 0L
        var i = 0
        while (i < w.length) {
          if (!covered(i)) {
            if (kept > 0) sb.append(' ')
            sb.append(w(i))
            kept += 1
          }
          i += 1
        }
        (id, w.length.toLong, kept, sb.toString)
      }.toDF("doc_id", "n_tokens", "n_kept", "scrubbed")
    scrubbed.select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - col("n_kept")).as("n_removed"),
        md5(col("scrubbed")).as("scrub_md5"))
      .orderBy("doc_id")
  }

  /** Corpus data card: the per-source report a curation run ships with
    * — volume (docs/tokens/chars), exact-duplicate rate (distinct
    * content hashes vs docs), language spread, and mean quality score.
    * One scan + one shuffled agg per source; every mean goes through
    * DECIMAL sums.
    */
  private val q175CorpusReport: Q = (s, d) => {
    import graft.functions.TextFunctions.qualityScore
    Tables.documents(s, d)
      .select(col("source"), col("lang"), col("n_chars"),
        size(words(col("text"))).cast("long").as("n_tok"),
        md5(col("text")).as("fp"),
        qualityScore(col("text"), words(col("text"))).cast(org.apache.spark.sql.types.DecimalType(20, 9)).as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        count_distinct(col("fp")).as("n_distinct"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("q")).as("qs"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        round(lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_docs").cast(DoubleType), 9).as("dup_rate"),
        col("n_langs"),
        round(col("qs").cast(DoubleType) / col("n_docs").cast(DoubleType), 6).as("mean_quality"))
      .orderBy("source")
  }

  /** T5-style span-corruption examples: ~5% of positions seed a
    * 3-token mask span (deterministic hash), overlapping spans fuse
    * into runs, each run is replaced by a numbered `<extra_id_K>`
    * sentinel in the input and emitted as `<extra_id_K> tokens…` in the
    * target. Run detection is one lag + one running sum over DOC-local
    * windows (no corpus-wide state); outputs are hash-verified. The
    * denoising-objective companion to q150's causal-LM pairs.
    */
  private val q176SpanCorruption: Q = (s, d) => {
    def hcond(p: org.apache.spark.sql.Column) =
      when(p >= 1, mdHash(concat_ws("|", lit("sc"), col("doc_id"), p)) % 20 === 0)
        .otherwise(lit(false))
    // spread the single-row-group doc scan so the tokenize+explode map
    // side runs at the fan-out width instead of one task (Kernels.fanOut)
    val toks = graft.operators.Kernels.fanOut(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
      .withColumn("m", hcond(col("pos")) || hcond(col("pos") - 1) || hcond(col("pos") - 2))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = toks
      .withColumn("prev_m", lag(col("m").cast("int"), 1, 0).over(w))
      .withColumn("start", col("m") && col("prev_m") === 0)
      .withColumn("k", sum(col("start").cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("in_piece",
        when(!col("m"), col("tok"))
          .when(col("start"), concat(lit("<extra_id_"), col("k"), lit(">"))))
      .withColumn("tg_piece",
        when(col("m") && col("start"), concat(lit("<extra_id_"), col("k"), lit("> "), col("tok")))
          .when(col("m"), col("tok")))
    run.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("m").cast("long")).as("n_masked"),
        max(col("k")).cast("long").as("n_spans"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(filter(collect_list(CASE WHEN in_piece IS NOT NULL THEN struct(pos, in_piece) END), x -> x IS NOT NULL)), x -> x.in_piece)"))).as("input_md5"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(filter(collect_list(CASE WHEN tg_piece IS NOT NULL THEN struct(pos, tg_piece) END), x -> x IS NOT NULL)), x -> x.tg_piece)"))).as("target_md5"))
      .orderBy("doc_id")
  }

  /** Rolling z-score anomaly detection over per-minute event-type
    * volumes: trailing 30-minute RANGE frame (never row-count — gaps in
    * sparse minutes must widen the window, not silently shrink it),
    * variance from exact integer power sums so the statistic is
    * bit-identical at any partitioning. The ops-monitoring shape for
    * ingest pipelines; windows are type-local, nothing corpus-wide.
    */
  private val q177VolumeAnomaly: Q = (s, d) => {
    val perMin = Tables.events(s, d)
      .select(col("event_type"), expr("unix_millis(ts) DIV 60000").as("minute_idx"))
      .groupBy("event_type", "minute_idx")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("minute_idx"))
      .rangeBetween(-30, -1)
    perMin
      .withColumn("c", count(col("n")).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .withColumn("mean", col("s1").cast(DoubleType) / col("c").cast(DoubleType))
      .withColumn("variance",
        when(col("c") >= 2,
          (col("s2").cast(DoubleType) - col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / col("c").cast(DoubleType))
            / (col("c").cast(DoubleType) - lit(1.0))))
      .select(col("event_type"), col("minute_idx"), col("n"),
        coalesce(col("c"), lit(0L)).as("window_minutes"),
        round(when(col("c") >= 10 && col("variance") > 0,
          (col("n").cast(DoubleType) - col("mean")) / sqrt(col("variance"))), 6).as("z"))
      .orderBy("event_type", "minute_idx")
  }

  /** REAL image decode, end to end: deterministic RGB test-pattern
    * rasters (pixel (x,y) of image id = ((x+id)%256, (y+2id)%256,
    * (x+y+3id)%256)) are PNG/JPEG-compressed executor-side via
    * `javax.imageio` ([[graft.operators.Multimodal.encodeTestImage]]),
    * land on disk as real image files, come back through Spark's
    * `binaryFile` source as opaque blobs, and are decoded by the
    * partition-wise `ImageIO.read` kernel
    * ([[graft.operators.Multimodal.decodeImageStats]]). Output =
    * per-image (width, height, exact per-channel pixel sums). PNG is
    * lossless, so the decoded sums must equal the generating formula —
    * which the DuckDB oracle computes arithmetically, no image library
    * needed: a bit-exact cross-engine check that the decode is real.
    * JPEG rows check the header/decode path via dimensions (sums are
    * lossy → NULL by contract).
    */
  /** Encode-once-per-JVM image fixture (shared by q178 and the
    * perceptual-hash query): real PNG/JPEG blobs of the deterministic
    * test pattern, one file per sampled doc_id. "_DONE" starts with
    * '_' so Spark's file source ignores it.
    */
  private[queries] def imageFixtureDir(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    import graft.operators.{Materialize, Multimodal}
    val dir = Materialize.jvmScratch(s"img_${new java.io.File(d).getName}")
    val marker = new java.io.File(dir, "_DONE")
    if (!marker.isFile) {
      new java.io.File(dir).mkdirs()
      Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"))
        .repartition(4)
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            val id = r.getLong(0)
            val fmt = if (id % 10 == 0) "png" else "jpg"
            val bytes = Multimodal.encodeTestImage(
              id, (16 + id % 17).toInt, (12 + id % 13).toInt, fmt)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$dir/$id.$fmt"), bytes)
          }
        }
      marker.createNewFile()
    }
    dir
  }

  private val q178ImageDecode: Q = (s, d) => {
    import graft.operators.Multimodal
    val dir = imageFixtureDir(s, d)
    import s.implicits._
    val blobs = s.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.(png|jpg)$", 1).cast("long").as("_1"),
        regexp_extract(col("path"), "([0-9]+)\\.(png|jpg)$", 2).as("_2"),
        col("content").as("_3"))
      .as[(Long, String, Array[Byte])]
    Multimodal.decodeImageStats(blobs)
      .select(col("id"), col("format"), col("width"), col("height"),
        when(col("format") === "png", col("sumR")).as("sum_r"),
        when(col("format") === "png", col("sumG")).as("sum_g"),
        when(col("format") === "png", col("sumB")).as("sum_b"),
        col("nPx").as("n_px"))
      .orderBy("id", "format")
  }

  val queries: Seq[Query] = Seq(
    // the oracle re-derives the PNG pixel sums from the generating
    // formula arithmetically — lossless codec means the engine's real
    // ImageIO decode must reproduce them bit-for-bit; JPEG rows are
    // dimension-checked (lossy sums are NULL by contract)
    Query("q178_image_decode", q178ImageDecode,
      """WITH ids AS (
        |  SELECT doc_id AS id, 'png' AS format,
        |    16 + doc_id % 17 AS w, 12 + doc_id % 13 AS h
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 'jpg', 16 + doc_id % 17, 12 + doc_id % 13
        |  FROM documents WHERE doc_id % 10 = 5),
        |px AS (
        |  SELECT id, format, w, h, p % w AS x, p // w AS y
        |  FROM ids, unnest(range(0, w*h)) AS t(p))
        |SELECT id, format, w::INT AS width, h::INT AS height,
        |  CASE WHEN format = 'png' THEN SUM((x + id) % 256)::BIGINT END AS sum_r,
        |  CASE WHEN format = 'png' THEN SUM((y + 2*id) % 256)::BIGINT END AS sum_g,
        |  CASE WHEN format = 'png' THEN SUM((x + y + 3*id) % 256)::BIGINT END AS sum_b,
        |  (w*h)::BIGINT AS n_px
        |FROM px GROUP BY id, format, w, h ORDER BY id, format""".stripMargin),
    Query("q177_volume_anomaly", q177VolumeAnomaly,
      """WITH pm AS (SELECT event_type, epoch_ms(ts) // 60000 AS minute_idx,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, minute_idx, n,
        |    count(n) OVER w AS c, sum(n) OVER w AS s1, sum(n * n) OVER w AS s2
        |  FROM pm
        |  WINDOW w AS (PARTITION BY event_type ORDER BY minute_idx
        |    RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, minute_idx, CAST(n AS BIGINT) AS n,
        |  CAST(coalesce(c, 0) AS BIGINT) AS window_minutes,
        |  round(CASE WHEN c >= 10
        |      AND (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / c::DOUBLE) / (c::DOUBLE - 1.0) > 0
        |    THEN (n::DOUBLE - s1::DOUBLE / c::DOUBLE)
        |      / sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / c::DOUBLE) / (c::DOUBLE - 1.0))
        |    END, 6) AS z
        |FROM st ORDER BY event_type, minute_idx""".stripMargin),
    Query("q176_span_corruption", q176SpanCorruption,
      """WITH toks AS (SELECT doc_id, pos, w[pos] AS tok
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
        |        FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents))),
        |flagged AS (SELECT doc_id, pos, tok,
        |    ((pos >= 1 AND ('0x' || substr(md5('sc|' || doc_id || '|' || pos), 1, 15))::BIGINT % 20 = 0)
        |     OR (pos - 1 >= 1 AND ('0x' || substr(md5('sc|' || doc_id || '|' || (pos-1)), 1, 15))::BIGINT % 20 = 0)
        |     OR (pos - 2 >= 1 AND ('0x' || substr(md5('sc|' || doc_id || '|' || (pos-2)), 1, 15))::BIGINT % 20 = 0)) AS m
        |  FROM toks),
        |runs AS (SELECT doc_id, pos, tok, m,
        |    CASE WHEN m AND coalesce(lag(CASE WHEN m THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0 THEN true ELSE false END AS start
        |  FROM flagged),
        |numbered AS (SELECT doc_id, pos, tok, m, start,
        |    sum(CASE WHEN start THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
        |  FROM runs),
        |pieces AS (SELECT doc_id, pos, m, k,
        |    CASE WHEN NOT m THEN tok
        |         WHEN start THEN '<extra_id_' || k || '>' END AS in_piece,
        |    CASE WHEN m AND start THEN '<extra_id_' || k || '> ' || tok
        |         WHEN m THEN tok END AS tg_piece
        |  FROM numbered)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(max(k) AS BIGINT) AS n_spans,
        |  md5(coalesce(string_agg(in_piece, ' ' ORDER BY pos), '')) AS input_md5,
        |  md5(coalesce(string_agg(tg_piece, ' ' ORDER BY pos), '')) AS target_md5
        |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q175_corpus_report", q175CorpusReport,
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  round(1.0 - count(DISTINCT md5(text))::DOUBLE / count(*)::DOUBLE, 9) AS dup_rate,
         |  count(DISTINCT lang) AS n_langs,
         |  round(CAST(sum(CAST(${Curation.qScore} AS DECIMAL(20,9))) AS DOUBLE)
         |    / count(*)::DOUBLE, 6) AS mean_quality
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    Query("q172_span_scrub", q172SpanScrub,
      """WITH docs AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |wins AS (SELECT doc_id, p,
        |    ('0x' || substr(md5(array_to_string(w[p:p+7], ' ')), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS p
        |        FROM docs WHERE len(w) >= 8)),
        |dup AS (SELECT h FROM wins GROUP BY h HAVING min(doc_id) <> max(doc_id)),
        |covered AS (SELECT DISTINCT doc_id, cpos
        |  FROM (SELECT w.doc_id, unnest(generate_series(w.p, w.p + 7)) AS cpos
        |        FROM wins w JOIN dup USING (h))),
        |toks AS (SELECT doc_id, len(w) AS n_tokens, pos, w[pos] AS tok
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos FROM docs)),
        |kept AS (SELECT t.doc_id, count(*) AS n_kept,
        |    string_agg(t.tok, ' ' ORDER BY t.pos) AS scrubbed
        |  FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM covered c
        |    WHERE c.doc_id = t.doc_id AND c.cpos = t.pos)
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
        |  CAST(len(d.w) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
        |  md5(coalesce(k.scrubbed, '')) AS scrub_md5
        |FROM docs d LEFT JOIN kept k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    Query("q170_bucketed_agg", q170BucketedAgg,
      """SELECT l_orderkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 5
        |ORDER BY l_orderkey""".stripMargin),
    Query("q168_robust_stats", q168RobustStats,
      """WITH med AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
        |  FROM documents GROUP BY lang),
        |dev AS (SELECT d.lang, abs(d.n_chars::DOUBLE - m.med) AS dev, m.med
        |  FROM documents d JOIN med m USING (lang)),
        |mad AS (SELECT lang, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY lang)
        |SELECT dev.lang, max(dev.med) AS median_chars, max(mad.mad) AS mad_chars,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN dev.dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (lang)
        |GROUP BY dev.lang ORDER BY dev.lang""".stripMargin),
    Query("q169_ewma", q169Ewma,
      """WITH ranked AS (SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
        |  round(CAST(sum(CAST(value * CASE WHEN r = 1 THEN pow(0.7, n - 1)
        |    ELSE 0.3 * pow(0.7, n - r) END AS DECIMAL(25,12))) AS DOUBLE), 6) AS ewma
        |FROM ranked GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q161_cdc_chunks", q161CdcChunks,
      """WITH toks AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
        |  FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents)),
        |flagged AS (SELECT doc_id, pos, w[pos] AS tok,
        |    CASE WHEN pos = 1 OR
        |      ('0x' || substr(md5(array_to_string(w[greatest(1, pos-3):pos], ' ')), 1, 15))::BIGINT % 16 = 0
        |    THEN 1 ELSE 0 END AS boundary
        |  FROM toks),
        |chunked AS (SELECT doc_id, pos, tok,
        |    CAST(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chunk_idx
        |  FROM flagged)
        |SELECT doc_id, chunk_idx, count(*) AS n_tokens,
        |  ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 15))::BIGINT AS chunk_hash
        |FROM chunked GROUP BY doc_id, chunk_idx
        |ORDER BY doc_id, chunk_idx""".stripMargin),
    Query("q162_pmi_collocations", q162PmiCollocations,
      """WITH docs AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT x, count(*) AS cx FROM
        |  (SELECT unnest(w) AS x FROM docs) GROUP BY x),
        |tot AS (SELECT count(*)::DOUBLE AS n FROM (SELECT unnest(w) FROM docs)),
        |pairs AS (SELECT w[i-1] AS x, w[i] AS y, count(*) AS cxy
        |  FROM (SELECT w, unnest(generate_series(2, len(w))) AS i FROM docs
        |        WHERE len(w) >= 2)
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT p.x, p.y, CAST(cxy AS BIGINT) AS cxy,
        |  CAST(ux.cx AS BIGINT) AS cx, CAST(uy.cx AS BIGINT) AS cy,
        |  round(ln(cxy::DOUBLE * (SELECT n FROM tot) / (ux.cx::DOUBLE * uy.cx::DOUBLE)), 6) AS pmi
        |FROM pairs p JOIN uni ux ON p.x = ux.x JOIN uni uy ON p.y = uy.x
        |ORDER BY pmi DESC, p.x, p.y LIMIT 30""".stripMargin),
    Query("q163_corrupt_ingest", q163CorruptIngest,
      """SELECT CAST(sum(CASE WHEN doc_id % 100 <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |  CAST(sum(CASE WHEN doc_id % 100 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |  CAST(sum(CASE WHEN doc_id % 100 <> 7 THEN n_chars END) AS BIGINT) AS chars_good,
        |  count(DISTINCT CASE WHEN doc_id % 100 <> 7 THEN lang END) AS langs_good
        |FROM documents""".stripMargin),
    Query("q165_bpe_encode", q165BpeEncode,
      (Curation3.bpeChain6 +
        """
        |SELECT tok, CAST(sum(freq) AS BIGINT) AS n
        |FROM (SELECT freq, unnest(string_split(trim(repr), '  ')) AS tok FROM r6)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin)),
    Query("q166_bucket_pruning", q166BucketPruning,
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (7, 42)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q167_incremental_agg", q167IncrementalAgg,
      """SELECT user_id, event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 6) AS sum_value
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),
    Query("q164_bitext_mining", q164BitextMining,
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |    FROM embeddings),
        |l AS (SELECT e.vec_id, v, lang FROM e JOIN documents d ON e.vec_id = d.doc_id),
        |q AS (SELECT vec_id AS qid, v AS qv, lang FROM l WHERE lang <> 'en'),
        |c AS (SELECT vec_id AS nid, v FROM l WHERE lang = 'en'),
        |sims AS (SELECT qid, lang, nid,
        |    list_dot_product(qv, v) / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)) AS cos
        |  FROM q JOIN c ON qid <> nid),
        |ranked AS (SELECT qid, lang, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 9) DESC, nid ASC) AS rn
        |  FROM sims)
        |SELECT qid, lang, nid, cos FROM ranked WHERE rn = 1 ORDER BY qid""".stripMargin))
}
