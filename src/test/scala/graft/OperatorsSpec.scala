package graft

import org.apache.spark.sql.functions._

import graft.operators.Joins

/** Scale-machinery semantics: salted joins, partitioned writes,
  * union-by-name schema evolution, approx-distinct error bound.
  */
class OperatorsSpec extends JobFence {

  test("salted equi-join is row-identical to the plain join") {
    import spark.implicits._
    // one hot key (1) with 80% of rows — the salting target
    val left = ((1 to 80).map(i => (1L, i)) ++ (1 to 20).map(i => (i.toLong + 1, i)))
      .toDF("k", "v")
    val right = (1 to 30).map(i => (i.toLong, s"r$i")).toDF("rk", "name")
    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "v", "name").collect().toSet
    val salted = Joins.saltedEquiJoin(left, right, col("k") === col("rk"),
        col("v"), saltFactor = 8)
      .select("k", "v", "name").collect().toSet
    assert(salted == plain && plain.size == 100)
  }

  test("partitioned parquet write prunes partitions on read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    (1 to 100).map(i => (i, s"g${i % 4}")).toDF("v", "g")
      .write.mode("overwrite").partitionBy("g").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("g") === "g1")
    assert(back.count() == 25)
    // partition filter must reach the scan, not a post-scan filter
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || !plan.contains("Filter"),
      s"expected partition pruning in:\n$plan")
  }

  test("unionByName with allowMissingColumns fills nulls") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "extra")
    val b = Seq(2).toDF("id")
    val u = a.unionByName(b, allowMissingColumns = true).orderBy("id").collect()
    assert(u(0).getString(1) == "x" && u(1).isNullAt(1))
  }

  test("nearDupClusters converges on a chain (diameter > 2) and keeps components apart") {
    import spark.implicits._
    // chain 1-2-3-10 needs multiple propagation rounds (min label 1
    // must travel 3 hops); {20,21} is a separate component
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val labels = graft.operators.Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 20L -> 20L, 21L -> 20L))
  }

  test("binnedRangeJoin matches the naive inequality join row set") {
    import spark.implicits._
    // edge rows (ids > 1000) at width 5: points on lo and on hi, bounds
    // on multiples of the width, negative values (where floor and a
    // truncating cast pick different bins), null bounds and a null point
    val edgePoints = Seq(1001L -> Some(10.0), 1002L -> Some(15.0), 1003L -> Some(17.5),
      1004L -> Some(-3.0), 1005L -> Some(-5.0), 1006L -> Some(-8.0), 1007L -> Some(-10.0),
      1008L -> None)
    val points = ((1 to 200).map(i => (i.toLong, Option(i * 3.7 % 100))) ++ edgePoints)
      .toDF("pk", "p")
    val edgeIvs = Seq(
      (1001L, Some(10.0), Some(15.0)),   // multiples of the width
      (1002L, Some(12.5), Some(17.5)),
      (1003L, Some(-10.0), Some(-5.0)),  // negative multiples
      (1004L, Some(-9.5), Some(-6.0)),   // negative, inside one bin
      (1005L, Some(-3.0), Some(2.0)),    // straddles zero
      (1006L, None, Some(20.0)),
      (1007L, Some(-20.0), None))
    val ivs = ((1 to 50).map(i => (i.toLong, Option(i * 1.9 % 90), Option(i * 1.9 % 90 + 7.5)))
        ++ edgeIvs).toDF("ik", "lo", "hi")
    val binned = graft.operators.Joins.binnedRangeJoin(points, "p", ivs, "lo", "hi", 5.0)
      .select("pk", "ik").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val naive = points.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pk", "ik").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(binned == naive)
    assert(binned.filter { case (pk, ik) => pk > 1000 && ik > 1000 }.toSet == Set(
      (1001L, 1001L), (1002L, 1001L), (1002L, 1002L), (1003L, 1002L), (1004L, 1005L),
      (1005L, 1003L), (1006L, 1003L), (1006L, 1004L), (1007L, 1003L)))
  }

  test("approx_count_distinct is within 3x rsd of exact") {
    import spark.implicits._
    val df = spark.range(20000).select((col("id") % 7919).as("v"))
    val r = df.agg(
      countDistinct(col("v")).as("exact"),
      approx_count_distinct(col("v")).as("approx")).collect()(0)
    val exact = r.getLong(0).toDouble
    assert(math.abs(r.getLong(1) - exact) / exact < 0.15)  // 3x default rsd
  }

  test("dedupCorpus works with idCol = \"id\" and preserves caller columns named cluster_id") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    // 1 and 2 are exact near-dups (same text); 3 is distinct
    val docs = Seq(
      (1L, base, "keepA"), (2L, base, "keepB"),
      (3L, (101 to 140).map(i => s"x$i").mkString(" "), "keepC"))
      .toDF("id", "text", "cluster_id") // decoy column shares the internal join column name
    val kept = graft.operators.Dedup.dedupCorpus(docs, "id", "text")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("cluster_id"))).toSet
    // quality ties -> smallest id survives per cluster; schema intact
    assert(kept == Set((1L, "keepA"), (3L, "keepC")))
  }

  test("paragraphDedup keeps first occurrence, reassembles in order, empties fully-duped docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("alpha beta", "shared one", "gamma")),
      (2L, Seq("shared one", "delta", "shared one")), // dup of doc 1's line + internal dup
      (3L, Seq("shared one", "alpha beta"))) // every line seen earlier -> emptied
      .toDF("id", "lines")
    val out = graft.operators.Dedup.paragraphDedup(docs, "id", "lines")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_lines"),
        r.getAs[Long]("n_kept"), r.getAs[String]("text_kept"))).toSet
    assert(out == Set(
      (1L, 3L, 3L, "alpha beta\nshared one\ngamma"),
      (2L, 3L, 1L, "delta"),
      (3L, 2L, 0L, "")))
  }

  test("quantileFilter keeps rows at/above the per-group interpolated percentile") {
    import spark.implicits._
    // group a: scores 1..5 -> p=0.5 threshold 3.0 (exact hit, kept)
    // group b: scores 10,20,30,40 -> p=0.5 threshold 25.0 (interpolated)
    val df = (Seq(1, 2, 3, 4, 5).map(("a", _)) ++ Seq(10, 20, 30, 40).map(("b", _)))
      .toDF("g", "s").withColumn("s", col("s").cast("double"))
    val kept = graft.operators.Sampling.quantileFilter(df, "g", "s", 0.5)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Double]("s"))).toSet
    assert(kept == Set(("a", 3.0), ("a", 4.0), ("a", 5.0), ("b", 30.0), ("b", 40.0)))
  }

  test("Merge.upsert: matched rows take source values (incl. nulls), inserts append, rest pass") {
    import spark.implicits._
    val target = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "n")
    val source = Seq((2L, null.asInstanceOf[String], 99), (3L, "c", 30)).toDF("id", "v", "n")
    val out = graft.operators.Merge.upsert(target, source, "id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"), r.getAs[Int]("n"))).toSet
    // row 2's v becomes NULL — a matched row takes ALL source values
    assert(out == Set((1L, "a", 10), (2L, null, 99), (3L, "c", 30)))
    // self-join lineage (the usual CDC case): change batch DERIVED from
    // the target — dataset-accessor columns would be rejected as
    // ambiguous here; alias-qualified resolution must succeed
    val derived = target.filter(col("id") === 2L)
      .select(col("id"), col("v"), (col("n") + 100).as("n"))
    val out2 = graft.operators.Merge.upsert(target, derived, "id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"), r.getAs[Int]("n"))).toSet
    assert(out2 == Set((1L, "a", 10), (2L, "b", 120)))
  }

  test("Layout.zValue interleaves bits; clusterByZ gives files tight z-ranges") {
    import spark.implicits._
    val z = Seq((3, 5)).toDF("x", "y")
      .select(graft.operators.Layout.zValue(col("x"), col("y"), 4).as("z"))
      .head().getLong(0)
    assert(z == 39L) // x=011 -> bits 0,2; y=101 -> bits 1,5: 1+2+4+32
    // cluster 1024 scattered points into 4 partitions: each partition's
    // z-range must be disjoint from the others (tight bounding boxes)
    val pts = (0 until 1024).map(i => (i % 32, (i * 7) % 32)).toDF("x", "y")
    val ranges = graft.operators.Layout.clusterByZ(pts, "x", "y", 4, bits = 5)
      .select(graft.operators.Layout.zValue(col("x"), col("y"), 5).as("z"))
      .rdd.mapPartitions(it => {
        val zs = it.map(_.getLong(0)).toSeq
        if (zs.isEmpty) Iterator.empty else Iterator((zs.min, zs.max))
      }).collect().sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, s"overlapping z-ranges: $hi > $lo")
      case _ =>
    }
  }

  test("toMixture: binding stratum keeps all rows, others downsample toward the target mix") {
    import spark.implicits._
    // a: 10 rows, b: 100 rows; target 50/50 -> scale = min(10/.5, 100/.5) = 20
    // a keeps all 10 (binding), b keeps ~10 (rate 0.1)
    val df = ((1 to 10).map(i => ("a", i.toLong)) ++ (11 to 110).map(i => ("b", i.toLong)))
      .toDF("src", "id")
    val kept = graft.operators.Sampling.toMixture(df, "src", "id",
        Map("a" -> 0.5, "b" -> 0.5))
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("a") == 10L)
    assert(kept("b") >= 5L && kept("b") <= 16L) // hash-thresholded at rate 0.1
    // no weighted stratum present in the data -> eager failure
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.toMixture(
        df.withColumn("src", lit("c")), "src", "id", Map("a" -> 1.0))
    }
  }

  test("importanceLogWeights: in-domain docs score positive, off-domain negative, exact values") {
    import spark.implicits._
    val docs = Seq((1L, "a a", "en"), (2L, "b b", "de")).toDF("doc_id", "text", "lang")
    val out = graft.operators.Sampling
      .importanceLogWeights(docs, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("log_weight")).toMap
    // totals: all=4, target=2, V=2; lw(a)=ln(3/4)-ln(3/6), lw(b)=ln(1/4)-ln(3/6)
    assert(math.abs(out(1L) - 2 * (math.log(3.0 / 4) - math.log(3.0 / 6))) < 1e-5)
    assert(math.abs(out(2L) - 2 * (math.log(1.0 / 4) - math.log(3.0 / 6))) < 1e-5)
    assert(out(1L) > 0 && out(2L) < 0)
  }

  test("pageRank on an empty edge list returns an empty frame; paragraphDedup handles null lines") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.operators.Graph.pageRank(empty, iters = 2).count() == 0)
    val docs = Seq((1L, Seq("x")), (2L, null)).toDF("id", "lines")
    val out = graft.operators.Dedup.paragraphDedup(docs, "id", "lines")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_lines"),
        r.getAs[Long]("n_kept"))).toSet
    assert(out == Set((1L, 1L, 1L), (2L, 0L, 0L)))
  }

  test("pageRank matches an independent reference, redistributes dangling mass, sums to 1") {
    import spark.implicits._
    // cycle + cross-link + feeder + dangling sink (node 5 has no out-edges)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L), (4L, 1L), (2L, 5L))
    val out = graft.operators.Graph.pageRank(edges.toDF("src", "dst"), iters = 5)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("rank")).toMap

    // independent reference: plain double-precision PageRank loop
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val mass = nodes.filterNot(deg.contains).map(r).sum
      val contrib = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = nodes.map(v =>
        v -> (0.15 / n + 0.85 * (contrib.getOrElse(v, 0.0) + mass / n))).toMap
    }
    assert(out.keySet == nodes.toSet)
    nodes.foreach(v => assert(math.abs(out(v) - r(v)) < 1e-9, s"node $v: ${out(v)} vs ${r(v)}"))
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
  }

  test("pair kernels handle negative ids (floorMod tiling)") {
    import spark.implicits._
    val t = (1 to 30).map(i => s"t$i").mkString(" ")
    val docs = Seq((-13L, t, "en"), (-5L, t, "en"), (7L, "another text entirely here now", "en"))
      .toDF("doc_id", "text", "lang")
    val jp = graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
        n = 3, threshold = 0.8, tiles = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jp == Set((-13L, -5L)))
    val vecs = Seq((-9L, Seq(1.0f, 0.0f)), (-2L, Seq(1.0f, 0.0f)), (4L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "e")
    val cp = graft.operators.Dedup.cosineNearDupPairs(vecs, "vec_id", "e",
        dim = 2, threshold = 0.99, tiles = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cp == Set((-9L, -2L)))
  }

  test("prefix-filtered Jaccard join is bit-identical to the tiled all-pairs scan") {
    // The prefix filter's recall theorem is exactness-critical: verify
    // the two physical plans produce the SAME (id_a, id_b, jac) set on
    // the real corpus at both a loose and a tight threshold, including
    // a degenerate single-shingle doc and an exact-duplicate pair.
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"))
      .unionByName(Seq(
        (900001L, "tiny", "en"), (900002L, "tiny", "en"),
        (900003L, "a b c d e f g h i j", "en"),
        (900004L, "a b c d e f g h i x", "en")).toDF("doc_id", "text", "lang"))
    import graft.operators.Dedup
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.5, 0.8)) {
      // ngramJaccardPairs picks a path by corpus size (crossover
      // heuristic) — all three must return the identical pair set, so
      // the heuristic can only ever change the plan, never the answer
      val p = pairs(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", "lang", 3, t))
      val a = pairs(Dedup.ngramJaccardPairsTiled(docs, "doc_id", "text", "lang", 3, t))
      val auto = pairs(Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
        n = 3, threshold = t))
      assert(p.nonEmpty, s"t=$t produced no pairs — test corpus lost its near-dups")
      assert(p == a, s"t=$t: prefix ${p.size} pairs vs all-pairs ${a.size}")
      assert(p == auto, s"t=$t: size-picked path diverged from prefix")
    }
  }

  test("early-exit Jaccard kernel is exact against a full walk") {
    import graft.operators.Dedup.jaccardSorted
    // the pre-early-exit kernel: walk both arrays to the end
    def fullWalk(ha: Array[Long], hb: Array[Long]): Double = {
      var i = 0; var j = 0; var cnt = 0
      while (i < ha.length && j < hb.length) {
        val x = ha(i); val y = hb(j)
        if (x < y) i += 1
        else if (x > y) j += 1
        else {
          cnt += 1
          while (i < ha.length && ha(i) == x) i += 1
          while (j < hb.length && hb(j) == x) j += 1
        }
      }
      cnt.toDouble / (ha.length.toDouble + hb.length.toDouble - cnt.toDouble)
    }
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    var exits = 0
    // callers keep a pair iff kernel >= thr: a kept pair must carry the
    // full walk's exact value, a dropped one must be one it drops too
    def check(ha: Array[Long], hb: Array[Long], thr: Double): Unit = {
      val ref = fullWalk(ha, hb)
      val got = jaccardSorted(ha, hb, thr)
      val ctx = s"thr=$thr a=${ha.mkString(",")} b=${hb.mkString(",")}: ref=$ref got=$got"
      if (ref >= thr) assert(bits(got) == bits(ref), ctx)
      else {
        assert(!(got >= thr), ctx)
        if (!thr.isNaN && !ref.isNaN) assert(got < thr, ctx)
      }
      if (got == Double.NegativeInfinity) exits += 1
    }
    val edgeThr = Seq(Double.NaN, Double.NegativeInfinity, -0.5, -0.0, 0.0,
      Double.MinPositiveValue, 0.5, 0.8, Math.nextDown(1.0), 1.0, Math.nextUp(1.0),
      1.5, Double.PositiveInfinity)
    val rng = new scala.util.Random(42)
    def sortedArr(): Array[Long] =
      Array.fill(rng.nextInt(24))(rng.nextInt(20).toLong).sorted
    for (_ <- 1 to 4000) {
      val ha = sortedArr()
      val hb = if (rng.nextInt(4) == 0) ha.clone() else sortedArr()
      val ref = fullWalk(ha, hb)
      // pairs sitting exactly on (and one ulp around) the threshold
      val onLine = if (ref.isNaN) Nil else Seq(ref, Math.nextUp(ref), Math.nextDown(ref))
      (Seq(rng.nextDouble(), edgeThr(rng.nextInt(edgeThr.size))) ++ onLine)
        .foreach(check(ha, hb, _))
    }
    assert(exits > 1000, s"only $exits early exits — the random pairs no longer exercise the cut")
    // cnt 8 of na = nb = 9: 8 / (18 - 8) is exactly 0.8 and must be kept
    val nine = (0L to 8L).toArray
    val eightOfNine = (0L to 7L).toArray :+ 100L
    assert(jaccardSorted(nine, eightOfNine, 0.8) == 0.8)
    assert(jaccardSorted(nine, eightOfNine, Math.nextUp(0.8)) < Math.nextUp(0.8))
    // empty sides: both empty is 0/0 = NaN (rejected at every threshold),
    // one empty scores 0
    for (t <- edgeThr) {
      assert(jaccardSorted(Array.empty, Array.empty, t).isNaN)
      check(Array.empty, nine, t)
      check(nine, Array.empty, t)
    }
  }

  test("jaccard auto mode crossover: tiled below the doc threshold, prefix above") {
    // the size heuristic (Dedup.PrefixCrossoverDocs): a
    // corpus under the crossover must NOT pay the prefix path's linear
    // constant. Pin by plan shape: the prefix path distinct()s
    // candidates (an extra aggregate over (id_a, id_b)), the tiled
    // path never does — detect via the physical plan of the live frame.
    import spark.implicits._
    val tiny = Seq((1L, "a b c d e", "en"), (2L, "a b c d x", "en"))
      .toDF("doc_id", "text", "lang")
    assert(2L < graft.operators.Dedup.PrefixCrossoverDocs)
    // plan markers: the tiled path is a live MapPartitions kernel; the
    // prefix path (materialize=true) returns a scan of its spill file
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.toString
    assert(planOf(graft.operators.Dedup.ngramJaccardPairs(tiny, "doc_id", "text", "lang",
        n = 1, threshold = 0.5)).contains("MapPartitions"),
      "auto under the crossover must take the tiled (live kernel) plan")
    assert(!planOf(graft.operators.Dedup.ngramJaccardPairsPrefix(tiny, "doc_id", "text", "lang",
        1, 0.5)).contains("MapPartitions"),
      "prefix path must not be the tiled kernel (it materializes to a spill scan)")
  }

  test("jaccard auto mode decides from plan statistics — no job runs to pick the path") {
    // r9 verdict item: the old auto mode spent an eager df.count() at
    // plan-construction time (a full extra pass over arbitrary upstream
    // work at 100 TB). Parquet-backed frames must decide from Catalyst
    // stats: assert (a) the estimate exists and lands in the right
    // decade for both harness dirs, and (b) constructing the auto plan
    // on a parquet scan submits ZERO Spark jobs.
    val tinyDocs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"))
    val est = graft.operators.Dedup.estimatedRowCount(tinyDocs)
    assert(est.isDefined, "parquet scan must expose a stats-based row estimate")
    assert(est.get < graft.operators.Dedup.PrefixCrossoverDocs,
      s"sf0.001 corpus estimated at ${est.get} docs — must sit below the crossover")
    val bigDocs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
    val estBig = graft.operators.Dedup.estimatedRowCount(bigDocs)
    assert(estBig.isDefined && estBig.get > est.get * 10,
      s"sf0.1 estimate (${estBig.getOrElse(-1L)}) must scale with the data (sf0.001 = ${est.get})")
    // zero-job pin: count job submissions while the auto plan is built
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.operators.Dedup.ngramJaccardPairs(tinyDocs, "doc_id", "text", "lang",
        n = 3, threshold = 0.8) // auto (conf unset), tiled side: a live plan
      Thread.sleep(1500) // listener bus is async; a count() job would surface well within this
      assert(jobs.get() == 0,
        s"auto path selection submitted ${jobs.get()} job(s) — must be stats-only")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("registerAll is order-independent: events view works without a pre-set nanos conf") {
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    graft.sources.Tables.registerAll(spark, "/root/testdata/sf0.001")
    assert(spark.sql("SELECT count(*) FROM events").collect()(0).getLong(0) > 0)
  }

  test("df.stat surface: freqItems finds the heavy hitter, cov/corr sane") {
    import spark.implicits._
    val df = ((1 to 900).map(_ => "hot") ++ (1 to 100).map(i => s"cold$i"))
      .zipWithIndex.map { case (s, i) => (s, i.toDouble, i * 2.0 + 1) }
      .toDF("k", "x", "y")
    val freq = df.stat.freqItems(Array("k"), 0.5).collect()(0)
      .getSeq[String](0)
    assert(freq.contains("hot"))
    assert(math.abs(df.stat.corr("x", "y") - 1.0) < 1e-9)
    assert(df.stat.cov("x", "x") > 0)
  }

  test("contamination scan finds the planted overlap; stratified sample is deterministic") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon"
    val train = Seq((1L, s"$shared zeta"), (2L, "nothing in common at all here"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, s"prefix $shared")).toDF("doc_id", "text")
    val hits = graft.operators.Contamination.ngramOverlap(train, eval, "doc_id", "text",
        n = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((1L, 100L)))
    val docs = (1 to 500).map(i => (i.toLong, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    def run() = graft.operators.Sampling.stratified(docs, "lang", "doc_id",
      Map("en" -> 0.5), defaultRate = 0.1).collect().map(_.getLong(0)).toSet
    val a = run(); val b = run()
    assert(a == b && a.nonEmpty, "hash sampling must be run-stable")
    val en = a.count(_ % 3 == 0).toDouble / docs.filter(col("lang") === "en").count()
    val de = a.count(_ % 3 != 0).toDouble / docs.filter(col("lang") === "de").count()
    assert(en > 0.35 && en < 0.65 && de < 0.2, s"rates off: en=$en de=$de")
  }

  test("LSH/cluster operators leave no persisted blocks behind") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, "totally different words here okay"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text")
    assert(pairs.count() == 1)
    assert(graft.operators.Dedup.nearDupClusters(pairs).count() == 2)
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f))).toDF("vec_id", "e")
    assert(graft.operators.Similarity.lshNearDupPairs(vecs, "vec_id", "e",
      dim = 2, nPlanes = 4, threshold = 0.99).count() == 1)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"operators leaked persisted RDDs: $leaked")
  }

  test("bloom semi-join is row-identical to the plain semi-join") {
    import spark.implicits._
    // negative, zero, and wide-magnitude keys; dup keys on both sides
    val big = Seq(-9999999999L, -7L, -7L, 0L, 1L, 5L, 5L, 42L, 1L << 60, 77L)
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "v")
    val small = Seq(-7L, 0L, 42L, 1L << 60, 123456L, 123456L).toDF("sk")
    val expected = big.join(small.distinct(), col("k") === col("sk"), "left_semi")
      .collect().toSet
    val got = Joins.bloomSemiJoin(big, "k", small, "sk", mBits = 1024, numHashes = 3)
      .collect().toSet
    assert(got == expected && expected.size == 5, s"got $got")
  }

  test("bloom semi-join with an empty small side returns nothing") {
    import spark.implicits._
    val big = (1 to 10).map(i => (i.toLong, i)).toDF("k", "v")
    val small = Seq.empty[Long].toDF("sk")
    assert(Joins.bloomSemiJoin(big, "k", small, "sk").count() == 0)
  }

  test("bloom anti-join is row-identical to the plain anti-join") {
    import spark.implicits._
    val big = Seq(-9999999999L, -7L, -7L, 0L, 1L, 5L, 5L, 42L, 1L << 60, 77L)
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "v")
    val small = Seq(-7L, 0L, 42L, 1L << 60, 123456L).toDF("sk")
    val expected = big.join(small.distinct(), col("k") === col("sk"), "left_anti")
      .collect().toSet
    val got = Joins.bloomAntiJoin(big, "k", small, "sk", mBits = 1024, numHashes = 3)
      .collect().toSet
    assert(got == expected && expected.size == 5, s"got $got")
    // empty small side: anti join keeps everything
    val none = Seq.empty[Long].toDF("sk")
    assert(Joins.bloomAntiJoin(big, "k", none, "sk").count() == big.count())
  }

  test("bloom probe side plans as broadcast-hash, not nested-loop") {
    import spark.implicits._
    val big = (1 to 100).map(i => (i.toLong, i)).toDF("k", "v")
    val small = Seq(3L, 5L, 7L).toDF("sk")
    val df = Joins.bloomSemiJoin(big, "k", small, "sk")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bloom row must join via BHJ on the constant key, got:\n$plan")
  }

  test("compact: small-file dir rewrites to the byte-sized file count, rows intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // 64 tiny files
    (1 to 2048).map(i => (i.toLong, s"row-$i")).toDF("id", "v")
      .repartition(64).write.mode("overwrite").parquet(dir)
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 64)
    val after = graft.operators.Layout.compact(spark, dir, targetBytes = 64L << 20)
    assert(after == 1, s"expected 1 compacted file, got $after")
    val rows = spark.read.parquet(dir)
    assert(rows.count() == 2048)
    assert(rows.agg(sum($"id")).head.getLong(0) == 2048L * 2049 / 2)
  }

  test("BPE merge learning: argmax pair per round, greedy non-overlapping apply") {
    import spark.implicits._
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // 'aaab'×3 + 'ab'×2: round 1 counts (a,a)=6 > (a,b)=5 → merge aa;
    // greedy left-to-right turns 'a a a b' into 'aa a b' (NOT 'a aa b');
    // round 2 then counts (aa,a)=3, (a,b)=5 → merge ab.
    val vocab = Seq(("aaab", 3L), ("ab", 2L)).toDF("word", "freq")
    val m = graft.operators.Bpe.learnMerges(spark, vocab, rounds = 2)
      .orderBy("round").collect()
    assert(m.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq ==
      Seq((1, "a", "a", "aa", 6L), (2, "a", "b", "ab", 5L)))
    // no round cache outlives the call
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"BPE leaked cached RDDs: $leaked")
  }

  test("BPE apply merges non-overlapping runs: 'aaaa' -> 'aa aa'") {
    import spark.implicits._
    val vocab = Seq(("aaaa", 1L)).toDF("word", "freq")
    // round 1: (a,a)=3 → merge aa applied greedily → ' aa aa ';
    // round 2: pairs of the new repr: (aa,aa)=1
    val m = graft.operators.Bpe.learnMerges(spark, vocab, rounds = 2)
      .orderBy("round").collect()
    assert(m(0).getString(3) == "aa" && m(0).getLong(4) == 3L)
    assert(m(1).getString(1) == "aa" && m(1).getString(2) == "aa" && m(1).getLong(4) == 1L)
  }

  test("imageio decode: PNG round-trips the formula exactly; JPEG dims; garbage quarantined") {
    import spark.implicits._
    import graft.operators.Multimodal
    // golden values: 4x3 image id=7 — r=(x+7)%256, g=(y+14)%256, b=(x+y+21)%256
    // sum_r = 3*(7+8+9+10) = 102; sum_g = 4*(14+15+16) = 180
    // sum_b = sum over x in 0..3, y in 0..2 of (21+x+y) = 12*21 + 3*(0+1+2+3) + 4*(0+1+2) = 282
    val png = Multimodal.encodeTestImage(7L, 4, 3, "png")
    val jpg = Multimodal.encodeTestImage(7L, 4, 3, "jpg")
    assert(png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt),
      "encodeTestImage must emit a real PNG container")
    assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8,
      "encodeTestImage must emit a real JPEG container (SOI marker)")
    val blobs = Seq((7L, "png", png), (7L, "jpg", jpg),
      (9L, "png", "not an image".getBytes("UTF-8"))).toDS()
    val out = Multimodal.decodeImageStats(blobs).collect()
      .map(s => (s.id, s.format) -> s).toMap
    val p = out((7L, "png"))
    assert(p.ok && p.width == 4 && p.height == 3 && p.nPx == 12)
    assert((p.sumR, p.sumG, p.sumB) == ((102L, 180L, 282L)),
      s"lossless PNG decode must reproduce the generating formula, got $p")
    val j = out((7L, "jpg"))
    assert(j.ok && j.width == 4 && j.height == 3, s"JPEG decode failed: $j")
    val bad = out((9L, "png"))
    assert(!bad.ok, "undecodable payload must quarantine, not throw")
  }

  /** Greedy BPE that recounts every pair each round, on the two-space
    * string encoding (`"  a  b  "`, merge = `replace(" l  r ", " lr ")`):
    * the reference the incremental learner must equal. Symbols start as
    * code points, which is what regex `.` splits for words without line
    * terminators. Returns the merges and each word's final tokens.
    */
  private def recountMerges(vocab: Seq[(String, Long)], rounds: Int)
      : (Seq[(Int, String, String, String, Long)], Map[String, Seq[String]]) = {
    def codePoints(s: String): Seq[Int] = s.codePoints.toArray.toSeq
    val utf8 = Ordering.Implicits.seqOrdering[Seq, Int]
    var reprs = vocab.map { case (w, f) =>
      ("  " + codePoints(w).map(cp => new String(Character.toChars(cp)) + "  ").mkString, f)
    }
    def tokens(repr: String): Seq[String] = repr.substring(2, repr.length - 2).split("  ").toSeq
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      val weights = reprs.flatMap { case (r, f) =>
        tokens(r).sliding(2).collect { case Seq(l, rr) => (l, rr) -> f }
      }.groupMapReduce(_._1)(_._2)(_ + _)
      if (weights.isEmpty) exhausted = true
      else {
        val ((l, rr), w) = weights.toSeq.min(Ordering.fromLessThan[((String, String), Long)] {
          case (((l1, r1), w1), ((l2, r2), w2)) =>
            if (w1 != w2) w1 > w2
            else if (l1 != l2) utf8.lt(codePoints(l1), codePoints(l2))
            else utf8.lt(codePoints(r1), codePoints(r2))
        })
        round += 1
        merges += ((round, l, rr, l + rr, w))
        reprs = reprs.map { case (r, f) => (r.replace(s" $l  $rr ", s" $l$rr "), f) }
      }
    }
    (merges.result(), vocab.map(_._1).zip(reprs.map(r => tokens(r._1))).toMap)
  }

  test("BPE learner equals the recount-every-round reference, before and past exhaustion") {
    import spark.implicits._
    // a real-text vocabulary with ties, overlapping candidates, and
    // chainable merges
    val corpus = "the quick brown fox jumps over the lazy dog " +
      "the quicker foxes jumped over lazy dogs then the dog ran"
    val vocab = Seq(corpus).toDF("text")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val local = vocab.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    for (rounds <- Seq(12, 500)) {
      val learned = graft.operators.Bpe.learnMerges(spark, vocab, rounds)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
      val (reference, segs) = recountMerges(local, rounds)
      assert(learned == reference,
        s"rounds=$rounds: learner diverged from the recount reference:\n$learned\nvs\n$reference")
      val encoded = graft.operators.Bpe.encodeVocab(spark, vocab, rounds)
        .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
      assert(encoded == segs, s"rounds=$rounds: final segmentation $encoded vs $segs")
      // 500 rounds run past exhaustion: every word ends as one token
      if (rounds == 500)
        assert(reference.size < 500 && segs.values.forall(_.size == 1), s"${reference.size} merges, $segs")
    }
  }

  test("BPE batched rounds are bit-identical to classic one-merge-per-round") {
    import spark.implicits._
    // the learner runs every round in one task; classic BPE runs one
    // Spark round per merge — count pairs with a group-by, take the
    // argmax with Spark's own sort, apply it with the space-anchored
    // replace — on the same real-text vocabulary with ties
    val corpus = "the quick brown fox jumps over the lazy dog " +
      "the quicker foxes jumped over lazy dogs then the dog ran"
    val vocab = Seq(corpus).toDF("text")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val rounds = 12
    var repr = vocab.select(col("freq"),
      concat(lit("  "), regexp_replace(col("word"), "(.)", "$1  ")).as("repr"))
    val classic = Seq.newBuilder[(Int, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      val best = repr.select(col("freq"), split(trim(col("repr")), "  ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("freq"),
          explode(expr("transform(sequence(2, size(t)), i -> struct(t[i-2] as lhs, t[i-1] as rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs")).agg(sum("freq").as("weight"))
        .orderBy(col("weight").desc, col("lhs"), col("rhs")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr, w) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        round += 1
        classic += ((round, l, rr, l + rr, w))
        repr = repr.withColumn("repr",
          org.apache.spark.sql.functions.replace(col("repr"), lit(s" $l  $rr "), lit(s" $l$rr ")))
      }
    }
    val batched = graft.operators.Bpe.learnMerges(spark, vocab, rounds)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(batched.size == rounds && batched == classic.result(),
      s"one-task merges diverged from classic greedy:\n$batched\nvs\n${classic.result()}")
  }

  test("BPE ties break by UTF-8 byte order, Spark's string order, not UTF-16") {
    import spark.implicits._
    // U+FF21 sorts before U+1F600 in UTF-8 (EF.. < F0..) but after it
    // in UTF-16 (FF21 > D83D)
    val (fullA, grin) = ("\uFF21", "\uD83D\uDE00")
    assert(fullA.compareTo(grin) > 0)
    assert(Seq(grin, fullA).toDF("s").orderBy("s").as[String].collect().toSeq == Seq(fullA, grin))
    val vocab = Seq((grin + "x", 1L), (fullA + "x", 1L)).toDF("word", "freq")
    val m = graft.operators.Bpe.learnMerges(spark, vocab, rounds = 2)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(m == Seq((fullA, "x", 1L), (grin, "x", 1L)), s"$m")
  }

  test("BPE plans are lazy: building runs no job; q165 runs at most 4 jobs") {
    import spark.implicits._
    val vocab = Seq(("lower", 2L), ("lowest", 1L)).toDF("word", "freq")
    val (_, learnJobs, _) = run(graft.operators.Bpe.learnMerges(spark, vocab, rounds = 6))
    val (_, encodeJobs, _) = run(graft.operators.Bpe.encodeVocab(spark, vocab, rounds = 6))
    assert(learnJobs == 0 && encodeJobs == 0, s"build jobs: learn $learnJobs, encode $encodeJobs")
    val sf = "/root/testdata/sf0.001"
    val (q165, buildJobs, _) = run(SparkEntry.queries("q165_bpe_encode")(spark, sf))
    assert(buildJobs == 0, s"building q165 ran $buildJobs jobs")
    val (rows, jobs, _) = run(q165.collect())
    assert(rows.nonEmpty && jobs <= 4, s"q165's action ran $jobs jobs")
  }

  test("BPE applyMerges agrees with encodeVocab and tokenizes unseen text") {
    import spark.implicits._
    val corpus = Seq(("low lower lowest low low", 1)).toDF("text", "x")
    val vocab = corpus.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val merges = graft.operators.Bpe.learnMerges(spark, vocab, rounds = 3)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // encode path == apply path on the training vocabulary
    val enc = graft.operators.Bpe.encodeVocab(spark, vocab, rounds = 3)
      .select(col("word"), col("tokens")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val applied = graft.operators.Bpe.applyMerges(
        vocab.select(col("word").as("text")), "text", merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(enc == applied, s"encode $enc vs apply $applied")
    // unseen text tokenizes with the same learned units
    val novel = graft.operators.Bpe.applyMerges(
        Seq("lowly").toDF("text"), "text", merges)
      .collect().head.getSeq[String](1)
    assert(novel.mkString("") == "lowly", s"lossless over characters: $novel")
    assert(novel.length < "lowly".length, s"some merge must apply: $novel")
  }

  test("bucketed tables: ensure() is idempotent and the join is row-identical") {
    val sf = "/root/testdata/sf0.001"
    graft.sources.Bucketing.ensure(spark, sf)
    graft.sources.Bucketing.ensure(spark, sf) // no rewrite, no throw
    val bucketed = spark.table(graft.sources.Bucketing.ordersTable(sf))
      .join(spark.table(graft.sources.Bucketing.lineitemTable(sf)), col("o_orderkey") === col("l_orderkey"))
      .count()
    val plain = graft.sources.Tables.orders(spark, sf)
      .join(graft.sources.Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .count()
    assert(bucketed == plain && plain > 0)
  }

  test("globalRank equals the single-partition window rank, and re-evaluates identically") {
    val df = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), length(col("text")).as("k"))
    val ranked = graft.operators.Ranking.globalRank(
      df, "rank", col("k").desc, col("doc_id").asc)
    val expected = df.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("k").desc, col("doc_id").asc)))
    val a = ranked.select("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = expected.select("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).toSet
    assert(a == b, s"globalRank diverges from the window oracle")
    // second evaluation reads the same spilled buckets — ranks cannot
    // drift across jobs the way resampled range boundaries could
    val a2 = ranked.select("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a2 == a)
  }

  test("two-phase skyline equals brute-force dominance on adversarial partitionings") {
    import spark.implicits._
    // deterministic pseudo-random points incl. duplicate (x, y) pairs,
    // duplicate x with differing y, and a strict Pareto chain
    val pts = (1 to 400).map { i =>
      val x = (i * 2654435761L % 97).toInt
      val y = (i * 40503L % 89).toInt
      (i.toLong, x.toLong, y.toLong)
    } ++ Seq((9001L, 96L, 88L), (9002L, 96L, 88L), (9003L, 0L, 0L))
    def brute(ps: Seq[(Long, Long, Long)]) = ps.filter { case (_, x, y) =>
      !ps.exists { case (_, x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y)
      }
    }.map(_._1).toSet
    val expected = brute(pts)
    for (parts <- Seq(1, 3, 32)) {
      val df = pts.toDF("id", "x", "y").repartition(parts)
      val got = graft.operators.Skyline.skyline2d(df, "x", "y")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"parts=$parts: $got vs $expected")
      // the generic d-dimensional path must agree with the windowed 2D one
      val gotNd = graft.operators.Skyline.skyline(df, "x", "y")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(gotNd == expected, s"generic parts=$parts: $gotNd vs $expected")
    }
  }

  test("skyline2d stays distributed on anti-correlated data (no single-task window)") {
    import spark.implicits._
    // worst case for local-front shrinkage: y = N - x puts EVERY row on
    // every local front, so phase 2 sees the full input. The r9 verdict
    // required the threshold prefix-max to distribute even here.
    val n = 5000
    val pts = (1 to n).map(i => (i.toLong, i.toLong, (n - i).toLong))
    val df = pts.toDF("id", "x", "y").repartition(16)
    val res = graft.operators.Skyline.skyline2d(df, "x", "y")
    // plan pin: every window in the physical plan is keyed by the range
    // bucket — an unpartitioned windowspecdefinition would be the
    // single-task pass the operator's contract forbids
    val plan = res.queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val bucketed = "windowspecdefinition\\(__bkt#\\d+".r.findAllIn(plan).size
    assert(specs > 0, "expected a window in the skyline2d plan")
    assert(specs == bucketed,
      s"$specs window spec(s) but only $bucketed keyed by __bkt — single-task window leaked in:\n" +
        plan.linesIterator.filter(_.contains("Window")).mkString("\n"))
    // correctness: the full anti-correlated set IS the skyline
    assert(res.count() == n.toLong)
    // and a correlated frame on the same path still reduces properly
    val corr = (1 to 100).map(i => (i.toLong, i.toLong, i.toLong)).toDF("id", "x", "y")
    val top = graft.operators.Skyline.skyline2d(corr, "x", "y")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top == Set(100L))
  }

  test("3D skyline equals brute-force dominance on adversarial partitionings") {
    import spark.implicits._
    // duplicates on the front, a dominated interior cloud, and corner
    // points that each win on exactly one dimension
    val pts = (1 to 300).map { i =>
      val x = (i * 2654435761L % 53).toInt
      val y = (i * 40503L % 47).toInt
      val z = (i * 69069L % 41).toInt
      (i.toLong, x.toLong, y.toLong, z.toLong)
    } ++ Seq((9001L, 52L, 46L, 40L), (9002L, 52L, 46L, 40L),
      (9003L, 60L, 0L, 0L), (9004L, 0L, 60L, 0L), (9005L, 0L, 0L, 60L))
    def brute(ps: Seq[(Long, Long, Long, Long)]) = ps.filter { case (_, x, y, z) =>
      !ps.exists { case (_, x2, y2, z2) =>
        x2 >= x && y2 >= y && z2 >= z && (x2 > x || y2 > y || z2 > z)
      }
    }.map(_._1).toSet
    val expected = brute(pts)
    for (parts <- Seq(1, 3, 32)) {
      val df = pts.toDF("id", "x", "y", "z").repartition(parts)
      val got = graft.operators.Skyline.skyline(df, "x", "y", "z")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"parts=$parts: $got vs $expected")
    }
  }

  test("sqrtModulus matches the oracle CASE ladder on every rung and boundary") {
    import graft.operators.Similarity.{sqrtModulus, sqrtModulusLadderSql, SqrtModulusCap}
    // the DuckDB oracles replicate the modulus as a GENERATED CASE
    // ladder — parse the generated SQL back into (threshold, m) rungs
    // and assert the pure function agrees at every boundary INCLUDING
    // past the ELSE rung (the round-8 advice gap: an unbounded
    // engine-side doubling loop vs a finite ladder diverged above the
    // ladder's last threshold)
    val sql = sqrtModulusLadderSql("c")
    val rung = """WHEN c <= (\d+) THEN (\d+)""".r
    val ladder = rung.findAllMatchIn(sql)
      .map(m => m.group(1).toLong -> m.group(2).toLong).toSeq
    assert(ladder.nonEmpty && sql.endsWith(s"ELSE $SqrtModulusCap END"))
    def oracle(c: Long): Long =
      ladder.find(c <= _._1).map(_._2).getOrElse(SqrtModulusCap)
    val probes = Seq(1L, 2L, 500L, 1023L, 1024L, 1025L) ++
      ladder.flatMap { case (t, _) => Seq(t - 1, t, t + 1) } ++
      // past the ELSE: the old 16384 divergence point and the cap's own
      // threshold neighborhood
      Seq(100000000L, 268435456L, 268435457L,
        SqrtModulusCap * SqrtModulusCap, SqrtModulusCap * SqrtModulusCap + 1)
    probes.foreach { n =>
      assert(sqrtModulus(n) === oracle(n), s"n=$n")
      assert(sqrtModulus(n) * sqrtModulus(n) >= n || sqrtModulus(n) == SqrtModulusCap,
        s"m^2 >= n violated at n=$n")
    }
    // the q388 segment ladder (min=8) obeys the same agreement
    val sql8 = sqrtModulusLadderSql("c", min = 8L)
    val ladder8 = rung.findAllMatchIn(sql8)
      .map(m => m.group(1).toLong -> m.group(2).toLong).toSeq
    def oracle8(c: Long): Long =
      ladder8.find(c <= _._1).map(_._2).getOrElse(SqrtModulusCap)
    (Seq(1L, 63L, 64L, 65L, 15000L) ++ ladder8.flatMap { case (t, _) => Seq(t - 1, t, t + 1) })
      .foreach(n => assert(sqrtModulus(n, min = 8L) === oracle8(n), s"min=8 n=$n"))
  }

  test("fixedCountModulus matches its oracle CASE ladder and caps the sample size") {
    import graft.operators.Similarity.{fixedCountModulus, fixedCountModulusLadderSql, FixedCountModulusCap}
    val sql = fixedCountModulusLadderSql("c")
    val rung = """WHEN c <= (\d+) THEN (\d+)""".r
    val ladder = rung.findAllMatchIn(sql)
      .map(m => m.group(1).toLong -> m.group(2).toLong).toSeq
    assert(ladder.nonEmpty && sql.endsWith(s"ELSE $FixedCountModulusCap END"))
    def oracle(c: Long): Long =
      ladder.find(c <= _._1).map(_._2).getOrElse(FixedCountModulusCap)
    val probes = Seq(1L, 600L, 6000L, 60000L, 600000L, 6000000L) ++
      ladder.flatMap { case (t, _) => Seq(t - 1, t, t + 1) } ++
      Seq(FixedCountModulusCap * 256, FixedCountModulusCap * 256 + 1)
    probes.foreach { n =>
      val m = fixedCountModulus(n)
      assert(m === oracle(n), s"n=$n")
      // the contract: the sample n/m stays <= target until the cap rung
      assert(n / m <= 256 || m == FixedCountModulusCap, s"|Q| cap violated at n=$n")
    }
  }

  test("q318 sign-of-ROUNDED slope boundary: engine matches the oracle contract") {
    // Round-8 ADVICE adjudication: the advice claimed the DuckDB oracle
    // takes sign() of the UNROUNDED slope while the engine signs the
    // 6dp-rounded one. Both in fact sign the rounded value
    // (Curation28: engine signum(round(slope,6)); oracle
    // sign(slope_group) where grp already rounds 6dp) — advice struck.
    // This pins the shared near-zero boundary: a group slope in
    // (-5e-7, 5e-7) signs as 0 (so a +4.9e-7 group vs a positive
    // pooled slope DOES read as flipped — the 6dp contract treats it
    // as flat), and ±5e-7 rounds away from zero on both engines
    // (HALF_UP on the same IEEE double; DuckDB measured:
    // round(5e-7,6)=1e-6 sign 1, round(4.9e-7,6)=0 sign 0,
    // round(-5e-7,6)=-1e-6 sign -1).
    import org.apache.spark.sql.functions.{col, round, signum}
    import spark.implicits._
    val probes = Seq(
      4.9e-7 -> 0.0, 5e-7 -> 1.0, 5.0000001e-7 -> 1.0, 9.999999e-7 -> 1.0,
      -4.9e-7 -> 0.0, -5e-7 -> -1.0, -9.999999e-7 -> -1.0)
    val got = probes.map(_._1).toDF("x")
      .select(col("x"), signum(round(col("x"), 6)).as("s"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    probes.foreach { case (x, want) =>
      assert(got(x) === want, s"signum(round($x,6))")
    }
  }
}
