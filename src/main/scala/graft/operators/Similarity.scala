package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.GraftFunctions.{dotNative, normSqNative}

/** Approximate / exact nearest-neighbor search over embedding columns.
  *
  * Two tiers, per the scale plan:
  *  - [[bruteForceTopK]]: exact cosine top-k of a (small, broadcast)
  *    query set against the full corpus — one scan of the corpus, no
  *    corpus-side shuffle except the per-query top-k.
  *  - [[hyperplaneBucket]] + [[lshNearDupPairs]]: random-hyperplane LSH.
  *    Bucket id = sign pattern of `nPlanes` pseudo-random ±1 hyperplanes.
  *    Candidates are bucket-colliding pairs only — the O(n²) term drops
  *    to Σ bucket².
  *
  * All dot products run through the native codegen'd
  * [[graft.functions.DotExpr]] — one tight loop over the array data
  * (higher-order aggregate would fall back to interpretation; an
  * element_at unroll pays per-access bounds checks) — and norms are
  * computed once per row, never per pair.
  */
object Similarity {

  // first `dim` components as doubles — the slice keeps the documented
  // "dots run over dim components" contract (the unrolled forms this
  // code used to call truncated at dim; DotExpr runs the full array)
  private def asDouble(vecCol: String, dim: Int) =
    transform(slice(col(vecCol), 1, dim), x => x.cast(DoubleType))

  /** Exact cosine top-k: for each query row, the k nearest corpus rows
    * (excluding itself). Ranking key rounds the similarity to 9 dp with
    * an id tie-break, making the cutoff deterministic across engines and
    * partitionings.
    *
    * Ranking runs through the native [[graft.operators.TopK]] physical
    * operator: the |corpus|·|queries| similarity rows are reduced to k
    * per query per scan partition BEFORE any shuffle — the window
    * formulation this replaces shuffled and sorted the full product.
    */
  /** Smallest power-of-two m (≥ `min`) with m·m ≥ n. Taking every m-th
    * vector as an IVF/k-means centroid gives ≈√n cells of ≈√n members —
    * the balance point where neither the coarse probe (queries × cells)
    * nor the per-cell scan grows linearly with the corpus. A
    * corpus-FIXED modulus makes the centroid count linear in n and the
    * probe stage O(n²): the round-8 sf10 decade run measured q77 at
    * 131 s (2.3× over linear) under `% 50`; √n sizing restores the
    * n^1.5 contract. Pure integer arithmetic so the DuckDB oracle's
    * CASE ladder reproduces it bit-for-bit.
    *
    * Doubling stops at `cap` (default 65536 — balanced to ~4.3e9
    * rows): the oracle mirror is a FINITE CASE ladder, so an unbounded
    * engine-side loop would disagree with the ladder's ELSE rung
    * beyond its last threshold (round-8 advice: the old unbounded loop
    * vs a 16384-ELSE ladder diverged above 268M rows). Engine cap and
    * ladder ELSE now come from the same constant, and
    * [[sqrtModulusLadderSql]] / [[sqrtModulusLadderCol]] GENERATE the
    * mirrors from the same (min, cap) so the three can't drift.
    * Past the cap, cells grow beyond √n — the documented contract is
    * to shard the corpus (date/tenant partition) before a single IVF
    * layer sees >4e9 vectors.
    */
  val SqrtModulusCap = 65536L

  def sqrtModulus(n: Long, min: Long = 32L, cap: Long = SqrtModulusCap): Long = {
    require(min >= 1 && min <= cap, s"sqrtModulus needs 1 <= min <= cap, got min=$min cap=$cap")
    var m = min
    while (m * m < n && m < cap) m *= 2
    m
  }

  /** The rung thresholds of the ladder from `min` up to (excluding)
    * `cap`: modulus m applies while n ≤ m². */
  private def ladderRungs(min: Long, cap: Long): Seq[Long] =
    Iterator.iterate(min)(_ * 2).takeWhile(_ < cap).toSeq

  /** DuckDB CASE-ladder text for [[sqrtModulus]] over a count
    * expression — generated from the same (min, cap), so the oracle
    * agrees with the engine at every rung INCLUDING the ELSE. */
  def sqrtModulusLadderSql(countExpr: String, min: Long = 32L,
      cap: Long = SqrtModulusCap): String = {
    require(min >= 1 && min <= cap, s"ladder needs 1 <= min <= cap, got min=$min cap=$cap")
    val rungs = ladderRungs(min, cap)
    if (rungs.isEmpty) return cap.toString // min == cap: degenerate single-rung ladder
    val whens = rungs.map(m => s"WHEN $countExpr <= ${m * m} THEN $m").mkString(" ")
    s"CASE $whens ELSE $cap END"
  }

  /** Catalyst column form of the same ladder (for fully-declarative
    * plans that derive the modulus from a 1-row count frame instead of
    * a driver-side count). */
  def sqrtModulusLadderCol(c: org.apache.spark.sql.Column, min: Long = 32L,
      cap: Long = SqrtModulusCap): org.apache.spark.sql.Column = {
    require(min >= 1 && min <= cap, s"ladder needs 1 <= min <= cap, got min=$min cap=$cap")
    val rungs = ladderRungs(min, cap)
    if (rungs.isEmpty) return lit(cap) // min == cap: degenerate single-rung ladder
    rungs.tail.foldLeft(when(c <= rungs.head * rungs.head, rungs.head)) {
      (acc, m) => acc.when(c <= m * m, m)
    }.otherwise(cap)
  }

  /** Smallest modulus m = min·2^k with n ≤ m·target — sampling every
    * m-th id yields a query/probe set of AT MOST ~target rows no
    * matter how big the corpus grows. A corpus-FIXED query modulus
    * makes |Q| linear in n and any exact |Q|×n audit baseline
    * QUADRATIC: the round-11 paired decade measured q437 at 524 s /
    * 89.5× under `% 25` at sf10; this ladder pins the audit sample to
    * ≈`target` and restores the linear contract. Same generated-ladder
    * discipline as [[sqrtModulus]]: engine value and DuckDB CASE text
    * come from the same (min, target, cap) so they cannot drift. Past
    * `cap` (n > cap·target, ≈6.9e9 at the defaults) the sample grows
    * again — the documented contract is to shard first, as with the
    * IVF layer itself.
    */
  val FixedCountModulusCap = 26214400L // 25 * 2^20

  def fixedCountModulus(n: Long, target: Long = 256L, min: Long = 25L,
      cap: Long = FixedCountModulusCap): Long = {
    require(min >= 1 && min <= cap && target >= 1,
      s"fixedCountModulus needs 1 <= min <= cap and target >= 1, got min=$min cap=$cap target=$target")
    var m = min
    while (n > m * target && m < cap) m *= 2
    m
  }

  /** DuckDB CASE-ladder mirror of [[fixedCountModulus]]. */
  def fixedCountModulusLadderSql(countExpr: String, target: Long = 256L,
      min: Long = 25L, cap: Long = FixedCountModulusCap): String = {
    require(min >= 1 && min <= cap && target >= 1,
      s"ladder needs 1 <= min <= cap and target >= 1, got min=$min cap=$cap target=$target")
    val rungs = Iterator.iterate(min)(_ * 2).takeWhile(_ < cap).toSeq
    if (rungs.isEmpty) return cap.toString
    val whens = rungs.map(m => s"WHEN $countExpr <= ${m * target} THEN $m").mkString(" ")
    s"CASE $whens ELSE $cap END"
  }

  /** Filter-then-rank exact top-k: neighbors constrained to share the
    * query's `filterCol` value. The constraint rides IN the join
    * condition — cost is Σ_v |Q_v|·|C_v| over filter values, never the
    * global |Q|·|C| product a post-hoc filter would pay. Ground truth
    * for filtered-retrieval audits (q456).
    */
  def bruteForceTopKFiltered(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, filterCol: String, k: Int,
      dim: Int = 64): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), col(filterCol).as("nf"),
        asDouble(vecCol, dim).as("e_n"))
      .withColumn("nrm_n", normSqNative(col("e_n")))
    val q = queries.select(col(idCol).as("qid"), col(filterCol).as("qf"),
        asDouble(vecCol, dim).as("e_q"))
      .withColumn("nrm_q", normSqNative(col("e_q")))
    val sims = c.join(broadcast(q), col("qf") === col("nf") && col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotNative(col("e_q"), col("e_n")) /
          sqrt(col("nrm_q") * col("nrm_n"))).as("cos"))
      .withColumn("__cos_r", round(col("cos"), 9))
    TopK.perGroup(sims, Seq("qid"), Seq(("__cos_r", true), ("nid", false)), k)
      .drop("__cos_r")
  }

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int = 64): DataFrame = {
    // NOTE deliberately NOT Kernels.fanOut: the dot-product kernel is
    // cheap codegen'd arithmetic, and the repartition would break the
    // scan -> broadcast-join stage fusion for no kernel win (measured
    // 2x slower at sf0.1); fan-out is for the expensive hash kernels
    val c = corpus.select(col(idCol).as("nid"), asDouble(vecCol, dim).as("e_n"))
      .withColumn("nrm_n", normSqNative(col("e_n")))
    val q = queries.select(col(idCol).as("qid"), asDouble(vecCol, dim).as("e_q"))
      .withColumn("nrm_q", normSqNative(col("e_q")))
    val sims = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotNative(col("e_q"), col("e_n")) /
          sqrt(col("nrm_q") * col("nrm_n"))).as("cos"))
      .withColumn("__cos_r", round(col("cos"), 9))
    TopK.perGroup(sims, Seq("qid"), Seq(("__cos_r", true), ("nid", false)), k)
      .drop("__cos_r")
  }

  /** Sign bits of components `lo..hi` (1-based, inclusive) packed into
    * one long — bit (j−lo) set iff component j ≥ 0. Window is ≤ 32 bits
    * so the shift constant stays positive in both engines (the DuckDB
    * oracle mirrors with `1::BIGINT << (j-lo)`).
    */
  private def packSignBits(v: org.apache.spark.sql.Column, lo: Int, hi: Int) = {
    require(hi - lo < 32, s"pack window must be < 32 bits, got [$lo,$hi]")
    (lo to hi).map { j =>
      when(element_at(v, j) >= 0, lit(1L << (j - lo))).otherwise(lit(0L))
    }.reduceLeft(_.bitwiseOR(_))
  }

  /** 1-bit (sign) quantized top-k with exact rerank — the binary-
    * quantization serving pattern: each vector is compressed to one sign
    * bit per component (dim=64 → two 32-bit words, a 32× compression of
    * float32), the candidate stage ranks the full corpus by sign-overlap
    * similarity dim − 2·hamming — two XOR+popcount words per pair
    * instead of a dim-multiply float dot — and only the
    * `candidates`-deep shortlist pays the exact float cosine.
    *
    * Same shuffle shape as [[bruteForceTopK]] (one corpus scan ×
    * broadcast queries, per-query top-k through the native TopK
    * operator), but the per-pair candidate cost is constant in dim/64
    * words: at 100 TB the packed corpus is the only thing the candidate
    * scan reads (2×8 bytes + id per row), and the float vectors are
    * fetched for candidates·|q| rows only.
    *
    * Determinism: hamming similarity is integer-valued with an id
    * tie-break; the rerank key rounds cosine to 9 dp with an id
    * tie-break — both cutoffs reproduce in any engine/partitioning.
    */
  def signBitTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, candidates: Int,
      dim: Int = 64): DataFrame = {
    require(dim == 64, s"signBitTopK packs exactly two 32-bit words, got dim=$dim")
    val c = corpus.select(col(idCol).as("nid"), asDouble(vecCol, dim).as("e_n"))
      .withColumn("lo_n", packSignBits(col("e_n"), 1, 32))
      .withColumn("hi_n", packSignBits(col("e_n"), 33, 64))
      .withColumn("nrm_n", normSqNative(col("e_n")))
    val q = queries.select(col(idCol).as("qid"), asDouble(vecCol, dim).as("e_q"))
      .withColumn("lo_q", packSignBits(col("e_q"), 1, 32))
      .withColumn("hi_q", packSignBits(col("e_q"), 33, 64))
      .withColumn("nrm_q", normSqNative(col("e_q")))
    // the Hamming sweep ranks LIGHT (qid, nid, ham) rows only — carrying
    // the two 64-double arrays through the |Q|×n product and the TopK
    // heaps made every swept row ~1 KB (q428 measured 498 s at sf10 on
    // 5e7 rows; the float arrays are only needed for the ≤|Q|·candidates
    // rerank rows, re-joined below)
    val scored = c.join(broadcast(q.select(col("qid"), col("lo_q"), col("hi_q"))),
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (lit(dim) - lit(2) * (bit_count(col("lo_q").bitwiseXOR(col("lo_n"))) +
          bit_count(col("hi_q").bitwiseXOR(col("hi_n"))))).as("ham_sim"))
    val shortlist = TopK.perGroup(scored, Seq("qid"),
      Seq(("ham_sim", true), ("nid", false)), candidates)
    val reranked = c.select(col("nid"), col("e_n"), col("nrm_n"))
      .join(broadcast(shortlist), Seq("nid"))
      .join(broadcast(q.select(col("qid"), col("e_q"), col("nrm_q"))), Seq("qid"))
      .select(col("qid"), col("nid"), col("ham_sim"),
        (dotNative(col("e_q"), col("e_n")) /
          sqrt(col("nrm_q") * col("nrm_n"))).as("cos"))
      .withColumn("__cos_r", round(col("cos"), 9))
    TopK.perGroup(reranked, Seq("qid"), Seq(("__cos_r", true), ("nid", false)), k)
      .drop("__cos_r")
  }

  /** ±1 hyperplane components, precomputed driver-side with the same
    * cross-engine md5 formula the oracle uses: component j of plane p is
    * +1 iff bit 0 of the 60-bit md5 hash of "p,j" is 1 (j is 1-based).
    */
  private[graft] def planeComponents(dim: Int, nPlanes: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, j0) =>
      md.reset()
      val hex = md.digest(s"$p,${j0 + 1}".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      if (java.lang.Long.parseLong(hex.take(15), 16) % 2 == 1) 1.0 else -1.0
    }
  }

  /** Random-hyperplane LSH bucket id (0 .. 2^nPlanes-1): one codegen'd
    * [[graft.functions.DotExpr]] loop per plane against a literal
    * coefficient array — nPlanes expression nodes total, independent of
    * dim. (The unrolled element_at formulation this replaces built a
    * dim×nPlanes node tree — 512 nodes at 64×8 — and risked the
    * JIT/codegen method-size cliff at higher dims.) Accumulation order
    * matches the unrolled form (sequential over j), so bucket ids are
    * bit-identical.
    */
  def hyperplaneBucket(vec: org.apache.spark.sql.Column, dim: Int, nPlanes: Int)
      : org.apache.spark.sql.Column = {
    val planes = planeComponents(dim, nPlanes)
    (0 until nPlanes).map { p =>
      val dot = dotNative(vec, typedLit(planes(p).toSeq))
      when(dot >= 0, lit(1L << p)).otherwise(0L)
    }.reduceLeft(_ + _)
  }

  /** IVF (inverted-file) top-k: corpus is partitioned into cells by
    * nearest centroid; a query probes only its `nprobe` nearest cells.
    * Search cost drops from |corpus| to |probed cells| per query.
    *
    * Centroids here are a deterministic subsample of the corpus (a
    * production pipeline would k-means them — the operator shape is
    * identical: assignment join + cell-pruned search). All rankings use
    * round(cos, 9) + id tie-breaks so the cell assignment and the final
    * top-k are engine-reproducible.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int, dim: Int = 64): DataFrame = {
    ivfTopKAssigned(assignToCells(corpus, centroids, idCol, vecCol, dim),
      queries, centroids, idCol, vecCol, k, nprobe, dim)
  }

  /** Public handle on the corpus→cell assignment (the n×|cells| stage,
    * n^1.5 under the √n sizing) so callers sweeping nprobe or running
    * repeated searches over ONE corpus version pay it once: persist the
    * returned frame and feed it to [[ivfTopKAssigned]] per probe level
    * (q437's three-level curve re-ran it three times — the assignment
    * does not depend on nprobe at all).
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, dim: Int = 64): DataFrame = {
    assignToCells(corpus, centroids, idCol, vecCol, dim)
  }

  /** IVF search over a pre-computed cell assignment ([[assignCells]]).
    * Only the query-side probing and the within-cell scan depend on
    * nprobe; the corpus assignment is the caller's to reuse.
    */
  def ivfTopKAssigned(assigned: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int, dim: Int = 64): DataFrame = {
    val cent = centroids.select(col(idCol).as("cid"), asDouble(vecCol, dim).as("cv"))
      .withColumn("nrm_c", normSqNative(col("cv")))
    def cos(e: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      dotNative(e, col("cv")) / sqrt(n * col("nrm_c"))

    // probe list: nprobe nearest cells per query
    val q = queries.select(col(idCol).as("qid"), asDouble(vecCol, dim).as("e_q"))
      .withColumn("nrm_q", normSqNative(col("e_q")))
    val wProbe = Window.partitionBy("qid")
      .orderBy(round(col("ccos"), 9).desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("ccos", cos(col("e_q"), col("nrm_q")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("e_q"), col("nrm_q"), col("cid"))

    // search only within probed cells; final ranking through the native
    // top-k operator (partial heaps, survivor-only shuffle)
    val hits = probes.join(assigned, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotNative(col("e_q"), col("e_n")) /
          sqrt(col("nrm_q") * col("nrm_n"))).as("cos"))
      .withColumn("__cos_r", round(col("cos"), 9))
    TopK.perGroup(hits, Seq("qid"), Seq(("__cos_r", true), ("nid", false)), k)
      .drop("__cos_r")
  }

  /** Persist the IVF index as a CELL-PARTITIONED parquet table: one
    * directory per coarse cell, holding the member vectors and their
    * precomputed norms. Build once per corpus version; every
    * subsequent search reads only its probed cells' directories.
    */
  def buildIvfIndex(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, dir: String, dim: Int = 64): Unit =
    assignToCells(corpus, centroids, idCol, vecCol, dim)
      .write.mode("overwrite").partitionBy("cid").parquet(dir)

  /** Search a persisted IVF index ([[buildIvfIndex]]): probe cells are
    * computed per query against the broadcast centroids, the DISTINCT
    * probe set (bounded by |centroids| — driver-safe) becomes an IN
    * filter on the partition column, and the scan's directory pruning
    * (`PartitionFilters`, pinned in PlanQualitySpec) means unprobed
    * cells are never listed, opened, or read. At 100 TB this is the
    * difference between touching nprobe/|cells| of the index and
    * touching all of it — the layout IS the index.
    */
  def ivfTopKIndexed(spark: SparkSession, indexDir: String,
      queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int, dim: Int = 64): DataFrame = {
    val cent = centroids.select(col(idCol).as("cid"), asDouble(vecCol, dim).as("cv"))
      .withColumn("nrm_c", normSqNative(col("cv")))
    val q = queries.select(col(idCol).as("qid"), asDouble(vecCol, dim).as("e_q"))
      .withColumn("nrm_q", normSqNative(col("e_q")))
    val wProbe = Window.partitionBy("qid")
      .orderBy(round(col("ccos"), 9).desc, col("cid").asc)
    // persist the probe table: the distinct-cell collect (for the
    // partition filter) and the search join both read it — without the
    // cache the query×centroid cross join and rank window run twice
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("ccos", dotNative(col("e_q"), col("cv")) / sqrt(col("nrm_q") * col("nrm_c")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("e_q"), col("nrm_q"), col("cid"))
      .persist()
    val probedCells = probes.select("cid").distinct().collect().map(_.getLong(0))
    val idx = spark.read.parquet(indexDir)
      .filter(col("cid").isin(probedCells.toIndexedSeq: _*))
    val hits = probes.join(idx, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotNative(col("e_q"), col("e_n")) /
          sqrt(col("nrm_q") * col("nrm_n"))).as("cos"))
      .withColumn("__cos_r", round(col("cos"), 9))
    val top = TopK.perGroup(hits, Seq("qid"), Seq(("__cos_r", true), ("nid", false)), k)
      .drop("__cos_r")
    Materialize.spillRelease(top, probes)
  }

  /** One distributed Lloyd (k-means) iteration — the centroid-training
    * step [[ivfTopK]]'s coarse quantizer needs: assign every corpus row
    * to its nearest centroid (broadcast centroids + partial-aggregable
    * argmax, exactly the IVF assignment shape), then recompute each
    * centroid as the member mean. The mean runs per (centroid,
    * dimension) — explode by position, partial-aggregable sum — so the
    * only shuffles are |corpus| rows for the argmax and
    * |centroids|·dim cells for the update, never corpus×centroids.
    * Coordinate sums use exact decimals (partition-order independent);
    * the emitted coordinate rounds the double quotient to 6 dp.
    * Returns one row per (cid, pos): the new centroid, flattened.
    */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, dim: Int = 64): DataFrame = {
    assignToCells(corpus, centroids, idCol, vecCol, dim)
      .select(col("cid"), posexplode(col("e_n")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(count(lit(1)).as("n_members"),
        sum(col("x").cast(org.apache.spark.sql.types.DecimalType(30, 12))).as("sx"))
      .select(col("cid"), col("pos"), col("n_members"),
        round(col("sx").cast(DoubleType) / col("n_members"), 6).as("coord"))
  }

  /** Full k-means training: up to `iters` Lloyd iterations from the
    * given seed centroids, stopping early once the largest centroid
    * coordinate shift is ≤ `tol` (a fixed point: identical centroids
    * reproduce identical assignments, so further rounds are no-ops).
    * The shift is a join of the step output against the exploded old
    * centroids — both ≤ |centroids|·dim rows — and is collected as an
    * `observe()` metric by the SAME action that materializes the
    * round's centroid table: convergence costs zero extra jobs. Each
    * round's (small) centroid table is materialized and released
    * ([[Materialize.spillRelease]] pattern), so the lineage stays flat
    * and no cache outlives the call — iterate 100 rounds on a 100 TB
    * corpus and the plan for round N never replays rounds 1..N-1.
    * Returns (cid, cv) with the trained centroids as arrays.
    */
  def kmeans(corpus: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String, iters: Int, dim: Int = 64,
      tol: Double = 0.0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var cent = seeds.select(col(idCol).as("cid"), asDouble(vecCol, dim).as("cv"))
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      val step = kmeansStep(corpus, cent.select(col("cid").as(idCol), col("cv").as(vecCol)),
        idCol, vecCol, dim)
      val oldFlat = cent.select(col("cid"), posexplode(col("cv")).as(Seq("pos", "old")))
      val obs = new org.apache.spark.sql.Observation(s"kmeans_round_$i")
      val rebuilt = step
        .join(oldFlat, Seq("cid", "pos"), "left")
        .observe(obs, max(abs(col("coord") - col("old"))).as("shift"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("coord")))).as("pc"))
        .select(col("cid"), expr("transform(pc, p -> p.coord)").as("cv"))
      cent = Materialize.spillRelease(rebuilt)
      val shift = obs.get.apply("shift") match {
        case null => 0.0
        case n: Number => n.doubleValue
      }
      converged = shift <= tol
      i += 1
    }
    cent
  }

  /** Nearest-centroid cell assignment — the shared core of [[ivfTopK]],
    * [[kmeansStep]] and [[semanticDedupPairs]]: broadcast the (small)
    * centroid table, then collapse the corpus×centroids product back
    * to one row per corpus id with a partially-aggregable argmax —
    * max_by on (rounded cos, -cid) reproduces the "cos DESC, cid ASC"
    * tie-break and lets the map-side combine run BEFORE the shuffle.
    * (The window formulation this replaced shuffled the full product
    * through an Exchange just to take rn=1.)
    * Returns (nid, e_n, nrm_n, cid).
    */
  private def assignToCells(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, dim: Int): DataFrame = {
    val cent = centroids.select(col(idCol).as("cid"), asDouble(vecCol, dim).as("cv"))
      .withColumn("nrm_c", normSqNative(col("cv")))
    // NOTE deliberately NOT Kernels.fanOut: the dot-product kernel is
    // cheap codegen'd arithmetic, and the repartition would break the
    // scan -> broadcast-join stage fusion for no kernel win (measured
    // 2x slower at sf0.1); fan-out is for the expensive hash kernels
    val c = corpus.select(col(idCol).as("nid"), asDouble(vecCol, dim).as("e_n"))
      .withColumn("nrm_n", normSqNative(col("e_n")))
    // the n×cells product is projected to LIGHT (nid, cid, ccos) rows
    // INSIDE the fused join stage; the argmax aggregation then hashes
    // ~30-byte rows instead of dragging the two 64-double arrays
    // through first() (q437's three probe levels measured 30+ min at
    // sf10 on the array-carrying form). Arrays re-attach with one
    // corpus-keyed join.
    val best = c.crossJoin(broadcast(cent))
      .select(col("nid"), col("cid"),
        (dotNative(col("e_n"), col("cv")) /
          sqrt(col("nrm_n") * col("nrm_c"))).as("ccos"))
      .groupBy("nid")
      .agg(max_by(col("cid"),
        struct(round(col("ccos"), 9).as("c"), (-col("cid")).as("t"))).as("cid"))
    c.join(best, Seq("nid"))
      .select(col("nid"), col("e_n"), col("nrm_n"), col("cid"))
  }

  /** SemDeDup-style semantic dedup candidates: embeddings are bucketed
    * into k-means cells (nearest centroid), and cosine near-duplicate
    * pairs are discovered only WITHIN each cell — the cluster-then-
    * compare shape that makes embedding dedup tractable at corpus
    * scale by turning the all-pairs product into Σ cell². Centroids
    * come from the caller (a [[kmeans]] run, or any deterministic
    * seed). Returns (cid, id_a, id_b, cos) with id_a < id_b and
    * cos ≥ threshold.
    *
    * Recall caveat mirrors IVF: a near-dup pair straddling a cell
    * boundary is missed; tighter cells (more centroids) trade recall
    * for cost exactly as nprobe does for search.
    */
  def semanticDedupPairs(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, threshold: Double, dim: Int = 64): DataFrame = {
    val assigned = assignToCells(corpus, centroids, idCol, vecCol, dim).persist()
    val a = assigned.select(col("cid"), col("nid").as("id_a"),
      col("e_n").as("e_a"), col("nrm_n").as("nrm_a"))
    val b = assigned.select(col("cid"), col("nid").as("id_b"),
      col("e_n").as("e_b"), col("nrm_n").as("nrm_b"))
    val pairs = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cid"), col("id_a"), col("id_b"),
        (dotNative(col("e_a"), col("e_b")) /
          sqrt(col("nrm_a") * col("nrm_b"))).as("cos"))
      .filter(col("cos") >= threshold)
    Materialize.spillRelease(pairs, assigned)
  }

  /** LSH-bucketed near-duplicate pairs: cosine ≥ threshold among pairs
    * colliding in the hyperplane bucket. The scale path for
    * [[Dedup.cosineNearDupPairs]].
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nPlanes: Int, threshold: Double): DataFrame = {
    val e = df.select(col(idCol).as("id"), asDouble(vecCol, dim).as("e"))
      .withColumn("bucket", hyperplaneBucket(col("e"), dim, nPlanes))
      .withColumn("nrm", normSqNative(col("e")))
      .persist()
    val a = e.select(col("bucket"), col("id").as("id_a"), col("e").as("e_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("bucket"), col("id").as("id_b"), col("e").as("e_b"), col("nrm").as("nrm_b"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("bucket"),
        (dotNative(col("e_a"), col("e_b")) /
          sqrt(col("nrm_a") * col("nrm_b"))).as("cos"))
      .filter(col("cos") >= threshold)
    // spill pairs + release the bucketed-embedding cache (leak-free exit,
    // see Materialize.spillRelease)
    Materialize.spillRelease(pairs, e)
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the k most-similar vectors that share its LSH bucket but sit at or
    * below `maxCos` — semantically close enough to be informative,
    * dissimilar enough to be true negatives. Same Σ bucket² join shape
    * as [[lshNearDupPairs]] (the bucket IS the candidate generator —
    * no corpus×corpus product), ranking through the native top-k
    * operator, leak-free spillRelease exit.
    */
  def lshHardNegatives(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nPlanes: Int, maxCos: Double, k: Int): DataFrame = {
    val e = df.select(col(idCol).as("id"), asDouble(vecCol, dim).as("e"))
      .withColumn("bucket", hyperplaneBucket(col("e"), dim, nPlanes))
      .withColumn("nrm", normSqNative(col("e")))
      .persist()
    val a = e.select(col("bucket"), col("id").as("anchor"), col("e").as("e_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("bucket"), col("id").as("neg"), col("e").as("e_b"), col("nrm").as("nrm_b"))
    val cand = a.join(b, Seq("bucket"))
      .filter(col("anchor") =!= col("neg"))
      .select(col("anchor"), col("neg"), col("bucket"),
        (dotNative(col("e_a"), col("e_b")) /
          sqrt(col("nrm_a") * col("nrm_b"))).as("cos"))
      .filter(col("cos") <= maxCos)
      .withColumn("__cos_r", round(col("cos"), 9))
    val top = TopK.perGroup(cand, Seq("anchor"),
      Seq(("__cos_r", true), ("neg", false)), k).drop("__cos_r")
    Materialize.spillRelease(top, e)
  }
}
