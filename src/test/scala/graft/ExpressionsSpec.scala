package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Similarity}

class ExpressionsSpec extends SparkSpec {

  test("count-min sketch: never underestimates, partition-split merge equals single-pass") {
    import graft.functions.CountMinAgg
    val keys = (1 to 50).flatMap(i => Seq.fill(i % 7 + 1)(s"k$i"))
    val whole = keys.foldLeft(CountMinAgg.zero)(CountMinAgg.reduce)
    val (l, r) = keys.splitAt(keys.length / 3)
    val merged = CountMinAgg.merge(
      l.foldLeft(CountMinAgg.zero)(CountMinAgg.reduce),
      r.foldLeft(CountMinAgg.zero)(CountMinAgg.reduce))
    assert(whole.toSeq == merged.toSeq)
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong)
    exact.foreach { case (k, n) =>
      val est = CountMinAgg.cells(k).zipWithIndex
        .map { case (c, i) => whole(i * CountMinAgg.width + c) }.min
      assert(est >= n, s"$k: est $est < exact $n")
    }
  }

  test("LogitExpr: torch edge semantics (NaN/Inf, not NULL) and interior parity") {
    import spark.implicits._
    val out = Seq(0.2, 0.5, 0.9, 0.0, 1.0, -0.5).toDF("p")
      .selectExpr("graft_logit(p) as l").collect().map(_.getDouble(0))
    assert(math.abs(out(0) - math.log(0.25)) < 1e-12)
    assert(out(1) == 0.0)
    assert(math.abs(out(2) - math.log(9.0)) < 1e-9)
    assert(out(3).isNegInfinity)        // logit(0) = -inf (torch), composed log would be NULL
    assert(out(4).isPosInfinity)        // p=1 -> 1/0 -> +inf
    assert(out(5).isNaN)                // log of negative -> NaN (torch semantics)
  }

  test("GeoMean UDAF matches exp(mean(ln)) and splits across partitions") {
    import spark.implicits._
    val xs = Seq(1.0, 2.0, 4.0, 8.0)
    val got = xs.toDF("x").repartition(3)
      .agg(expr("graft_geomean(x)")).collect()(0).getDouble(0)
    val want = math.exp(xs.map(math.log).sum / xs.size)
    assert(math.abs(got - want) < 1e-12)
  }

  test("multimodal decode: deterministic features through mapPartitions") {
    import spark.implicits._
    val docs = Seq((7L, "srcA", "hello world of binary payloads")).toDF("doc_id", "source", "text")
    val f = Multimodal.decodeFeatures(Multimodal.mediaFromDocuments(docs)).collect()(0)
    assert(f.nBytes == 30L)
    assert(f.frameHex == "hello world of b".getBytes("UTF-8").map(b => f"$b%02X").mkString)
    assert(f.width == (7 % 8) * 160 + 320 && f.height == (7 % 8) * 90 + 180)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("hello world of binary payloads".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(f.checksum == java.lang.Long.parseLong(hex.take(15), 16))
  }

  test("DotExpr matches the unrolled formulation bit-for-bit; null array -> null") {
    import graft.functions.GraftFunctions.{dotNative, dotUnrolled}
    import spark.implicits._
    val vecs = (1 to 200).map { i =>
      (i.toLong, (1 to 64).map(j => (i * 31 + j) * 0.001 - 1.0),
        (1 to 64).map(j => (j * 17 - i) * 0.002))
    }.toDF("id", "a", "b")
      .select(col("id"),
        transform(col("a"), x => x.cast("double")).as("a"),
        transform(col("b"), x => x.cast("double")).as("b"))
    val r = vecs.select(
        dotNative(col("a"), col("b")).as("n"),
        dotUnrolled(col("a"), col("b"), 64).as("u"))
      .collect()
    assert(r.forall(x => x.getDouble(0) == x.getDouble(1)), "sum order must be identical")
    val withNull = Seq((Seq(1.0, 2.0), Option(Seq(3.0, 4.0))), (Seq(1.0, 2.0), None))
      .toDF("a", "b")
    val got = withNull.select(dotNative(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 11.0 && got(1).isNullAt(0))
  }

  test("channelStats kernel equals a brute-force model, invariant under partitioning") {
    import spark.implicits._
    val docs = Seq((1L, "s1", "abcXYZ012"), (2L, "s2", "a"), (3L, "s1", ""))
      .toDF("doc_id", "source", "text")
    val expected = (for {
      (id, src, txt) <- Seq((1L, "s1", "abcXYZ012"), (2L, "s2", "a"))
      ch <- 0 until 3
      bytes = txt.getBytes("UTF-8").zipWithIndex.collect {
        case (b, i) if i % 3 == ch => (b & 0xff).toLong
      }
      if bytes.nonEmpty
    } yield (id, src, ch, bytes.length.toLong, bytes.sum,
      bytes.map(v => v * v).sum, bytes.min.toInt, bytes.max.toInt)).toSet
    for (parts <- Seq(1, 4)) {
      val got = Multimodal
        .channelStats(Multimodal.mediaFromDocuments(docs.repartition(parts)), 3)
        .collect().map(c =>
          (c.id, c.source, c.channel, c.n, c.sum, c.sumSq, c.min, c.max)).toSet
      assert(got == expected, s"parts=$parts")
    }
    intercept[IllegalArgumentException] {
      Multimodal.channelStats(Multimodal.mediaFromDocuments(docs), 0)
    }
  }

  test("multimodal kernels: precondition guards and empty-payload handling") {
    import spark.implicits._
    val docs = Seq((1L, "s", "")).toDF("doc_id", "source", "text")
    val media = Multimodal.mediaFromDocuments(docs)
    intercept[IllegalArgumentException] { Multimodal.frameSample(media, 4, 0) }
    intercept[IllegalArgumentException] { Multimodal.frameSample(media, 0, 3) }
    intercept[IllegalArgumentException] { Multimodal.resizeNearest(media, 0, 8) }
    // empty payload: defined all-zero raster instead of a kernel crash
    val r = Multimodal.resizeNearest(media, 4, 4).collect()(0)
    assert(r.nBytes == 16)
    val md = java.security.MessageDigest.getInstance("MD5")
    val dg = md.digest(new Array[Byte](16))
    var a = 0L
    (0 until 7).foreach(k => a = (a << 8) | (dg(k) & 0xffL))
    assert(r.checksum == ((a << 4) | ((dg(7) & 0xf0L) >> 4)))
  }

  test("kmeans: two Lloyd iterations recover planted directional clusters, leak-free") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // three directional blobs; seeds = one member of each
    def blob(base: (Double, Double), ids: Range) =
      ids.map(i => (i.toLong, Seq(base._1 + (i % 5) * 0.01f, base._2 + (i % 3) * 0.01f)
        .map(_.toFloat)))
    val corpus = (blob((1.0, 0.0), 0 to 19) ++ blob((0.0, 1.0), 20 to 39) ++
      blob((-1.0, -1.0), 40 to 59)).toDF("vec_id", "embedding")
    val seeds = corpus.filter(col("vec_id").isin(3L, 23L, 43L))
    val cent = graft.operators.Similarity.kmeans(corpus, seeds, "vec_id", "embedding",
        iters = 2, dim = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(cent.size == 3)
    // each trained centroid points at its blob's direction
    val dirs = cent.values.map { v =>
      val n = math.sqrt(v(0) * v(0) + v(1) * v(1))
      (math.round(v(0) / n * 10) / 10.0, math.round(v(1) / n * 10) / 10.0)
    }.toSet
    assert(dirs.exists(d => d._1 > 0.9), s"missing +x blob in $dirs")
    assert(dirs.exists(d => d._2 > 0.9), s"missing +y blob in $dirs")
    assert(dirs.exists(d => d._1 < -0.6 && d._2 < -0.6), s"missing diag blob in $dirs")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("kmeans stops at a fixed point: converged seeds run 1 round, not iters") {
    import spark.implicits._
    def blob(base: (Double, Double), ids: Range) =
      ids.map(i => (i.toLong, Seq(base._1 + (i % 5) * 0.01f, base._2 + (i % 3) * 0.01f)
        .map(_.toFloat)))
    val corpus = (blob((1.0, 0.0), 0 to 19) ++ blob((0.0, 1.0), 20 to 39)).toDF("vec_id", "embedding")
    val seeds = corpus.filter(col("vec_id").isin(3L, 23L))
    // train to the fixed point first (coords are 6-dp rounded, so the
    // fixed point is exact), then re-run from the trained centroids
    val trained = graft.operators.Similarity.kmeans(corpus, seeds, "vec_id", "embedding",
      iters = 8, dim = 2)
    val sc = spark.sparkContext
    sc.setJobGroup("kmeans_conv_probe", "kmeans convergence spec")
    val again = graft.operators.Similarity.kmeans(corpus,
      trained.select(col("cid").as("vec_id"), col("cv").as("embedding")),
      "vec_id", "embedding", iters = 50, dim = 2)
    val centAgain = again.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val jobs = sc.statusTracker.getJobIdsForGroup("kmeans_conv_probe").length
    sc.clearJobGroup()
    // 50 full rounds would be >= 50 jobs; a single converged round is a
    // handful (step + spill write + result collect)
    assert(jobs <= 10, s"expected early stop after 1 round, saw $jobs jobs")
    // and the fixed point is reproduced exactly
    val centTrained = trained.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(centAgain == centTrained)
  }

  test("cosine top-k: exact neighbors on a constructed corpus") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 2, dim = 2)
      .orderBy("rank").collect().map(_.getAs[Long]("nid")).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("dim is honored: components beyond dim are ignored") {
    import spark.implicits._
    // 3rd component would flip the ranking if it were read
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.9f, 0.1f, -50f)),
      (2L, Seq(0.0f, 1.0f, 50f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 2, dim = 2)
      .orderBy("rank").collect().map(_.getAs[Long]("nid")).toSeq
    assert(top == Seq(1L, 2L), "3rd component must not affect dim=2 search")
  }

  test("LuhnCheckExpr: ISO 7812 vectors, codegen + interpreted parity, non-digit -> NULL") {
    import spark.implicits._
    // classic test vectors: 79927398713 valid; each single-digit change invalid
    val cases = Seq(
      ("79927398713", java.lang.Boolean.TRUE),
      ("79927398710", java.lang.Boolean.FALSE),
      ("4539578763621486", java.lang.Boolean.TRUE), // standard 16-digit vector
      ("4539578763621487", java.lang.Boolean.FALSE),
      ("0000000000000000", java.lang.Boolean.TRUE), // all zeros sum 0
      ("79 27398713", null),                        // non-digit -> not a candidate
      ("", null))
    val out = cases.map(_._1).toDF("s")
      .selectExpr("s", "graft_luhn(s) AS v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else java.lang.Boolean.valueOf(r.getBoolean(1)))).toMap
    cases.foreach { case (s, expect) =>
      assert(out(s) == expect, s"graft_luhn('$s') = ${out(s)}, want $expect")
    }
    // interpreted eval path agrees (the codegen fallback contract)
    import org.apache.spark.sql.catalyst.expressions.Literal
    cases.foreach { case (s, expect) =>
      val got = graft.functions.LuhnCheckExpr(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)).eval(null)
      assert(got == (if (expect == null) null else expect.booleanValue()),
        s"interpreted luhn('$s') = $got")
    }
  }

  test("JaroWinklerExpr: textbook vectors, codegen + interpreted parity, DuckDB edges") {
    import spark.implicits._
    // Winkler's canonical pairs + the DuckDB edge semantics the oracle
    // relies on (both-empty -> 0.0, one-empty -> 0.0)
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("abc", "", 0.0),
      ("", "", 0.0),
      ("abc", "xyz", 0.0))
    val out = cases.map(c => (c._1, c._2)).toDF("a", "b")
      .selectExpr("a", "b", "graft_jw(a, b) AS v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    cases.foreach { case (a, b, expect) =>
      assert(math.abs(out((a, b)) - expect) < 1e-12,
        s"graft_jw('$a','$b') = ${out((a, b))}, want $expect")
    }
    // interpreted eval agrees with codegen (the fallback contract)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    cases.foreach { case (a, b, expect) =>
      val got = graft.functions.JaroWinklerExpr(
        Literal(UTF8String.fromString(a), StringType),
        Literal(UTF8String.fromString(b), StringType)).eval(null)
      assert(math.abs(got.asInstanceOf[Double] - expect) < 1e-12,
        s"interpreted jw('$a','$b') = $got")
    }
  }

  test("AhoCorasick: counts equal the per-term indexOf/step reference on adversarial patterns") {
    import graft.operators.KeywordScrub
    // overlapping, nested, and self-overlapping patterns
    val terms = Array("ab", "aba", "bab", "aa", "b")
    val texts = Seq("ababab", "aaaa", "abababa", "bbbbb", "", "xyz", "aabab aba")
    def refCount(text: String, t: String): Long = {
      var n = 0L; var i = text.indexOf(t)
      while (i >= 0) { n += 1; i = text.indexOf(t, i + t.length) }
      n
    }
    val ac = new KeywordScrub.AhoCorasick(terms)
    texts.foreach { tx =>
      val got = ac.countNonOverlapping(tx)
      terms.zipWithIndex.foreach { case (t, ti) =>
        assert(got(ti) == refCount(tx, t),
          s"'$tx' term '$t': ac ${got(ti)} != ref ${refCount(tx, t)}")
      }
    }
  }

  test("aHash: decode-then-hash of a real PNG equals the formula-computed hash") {
    import spark.implicits._
    val (id, w, h) = (42L, 20, 15)
    val png = Multimodal.encodeTestImage(id, w, h, "png")
    val got = Multimodal.aHash(Seq((id, png)).toDS()).collect().head
    assert(got.ok)
    // independent arithmetic recomputation from the generating formula
    val gray = Array.tabulate(8, 8) { (i, j) =>
      val x = j * w / 8; val y = i * h / 8
      ((x + id) % 256) + ((y + 2 * id) % 256) + ((x + y + 3 * id) % 256)
    }
    val tot = gray.flatten.sum
    var lo = 0L; var hi = 0L; var ones = 0L
    for (i <- 0 until 8; j <- 0 until 8) {
      val p = i * 8 + j
      if (64L * gray(i)(j) > tot) {
        ones += 1
        if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
      }
    }
    assert((got.hashHi, got.hashLo, got.nOnes) == ((hi, lo, ones)))
    // corrupted payload quarantines, never throws
    val badRow = Multimodal.aHash(Seq((1L, Array[Byte](1, 2, 3))).toDS()).collect().head
    assert(!badRow.ok)
  }

  test("Misra-Gries: retention guarantee holds under every partitioning and merge order") {
    import graft.functions.MisraGriesAgg
    val k = MisraGriesAgg.k
    // skewed stream: symbol i appears (40 - i)^2 times, 30 symbols
    val stream = (0 until 30).flatMap(i => Seq.fill((40 - i) * (40 - i))(s"s$i"))
    val n = stream.size
    val exact = stream.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val mustKeep = exact.collect { case (w, c) if c > n.toDouble / (k + 1) => w }.toSet
    assert(mustKeep.nonEmpty && exact.size > k) // the test exercises evictions
    // deterministic pseudo-shuffles + varying chunkings, pairwise merge trees
    for (seed <- 0 until 5; chunks <- Seq(1, 3, 8, 17)) {
      val perm = stream.sortBy(x => (x.hashCode * (seed * 2 + 1)) ^ (seed * 0x9e3779b9))
      val parts = perm.grouped(math.max(1, n / chunks)).toSeq
      val summaries = parts.map(_.foldLeft(MisraGriesAgg.zero)(MisraGriesAgg.reduce))
      val merged =
        if (seed % 2 == 0) summaries.reduceLeft(MisraGriesAgg.merge)
        else summaries.reduceRight(MisraGriesAgg.merge)
      assert(merged.size <= k, s"summary exceeded capacity: ${merged.size}")
      val kept = MisraGriesAgg.finish(merged).toSet
      assert(mustKeep.subsetOf(kept),
        s"seed=$seed chunks=$chunks lost heavy hitters: ${mustKeep -- kept}")
    }
  }
}
