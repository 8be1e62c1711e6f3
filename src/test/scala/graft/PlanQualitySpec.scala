package graft

import graft.sources.Tables

/** Plan-shape assertions — the 100 TB contract, checked mechanically:
  * filters reach the parquet scan, projections prune the read schema,
  * dimension joins broadcast, aggregations split partial/final. A plan
  * regression here is a cluster-scale performance bug even when
  * results stay correct.
  */
class PlanQualitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  /** A pin of an at-scale plan shape (a broadcast dimension join, a
    * bucketed sort-merge join), run with `SmallInputRule` excluded: the
    * sf0.001 fixtures fall under its bound, where every join is a
    * shuffled hash join over one partition.
    */
  private def atScaleTest(name: String)(body: => Any): Unit =
    test(name)(withConf("spark.sql.optimizer.excludedRules" -> "graft.plans.SmallInputRule")(body))

  test("predicate pushdown: q50's filters reach the parquet scan") {
    val p = plan("q50_filter_predicates")
    // plan strings truncate long filter lists — check the head of the
    // pushed list plus the IN rendered in DataFilters
    assert(p.contains("PushedFilters: [Is"), s"expected non-empty pushdown:\n$p")
    assert(p.contains("IN (A,R)"), s"expected IN filter at the scan:\n$p")
  }

  test("column pruning: q30 reads only the 3 projected columns") {
    val p = plan("q30_sort_limit")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"),
      s"scan reads too much: $readSchema")
  }

  test("broadcast joins: q11's dimension joins are BroadcastHashJoin, fact join shuffles") {
    val p = plan("q11_join_multiway")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
  }

  test("partial aggregation: q01 has map-side partial + final HashAggregate") {
    val p = plan("q01_agg_pricing_summary")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$p")
    assert(p.contains("partial_"), s"expected partial agg functions:\n$p")
  }

  test("top-k pushdown: q30's global sort is a TakeOrderedAndProject, not a full sort") {
    val p = plan("q30_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), s"limit+sort must fuse:\n$p")
  }

  test("bucketed tables: co-located join plans without a shuffle exchange") {
    import org.apache.spark.sql.functions._
    // session warehouse dir (/tmp/graft-warehouse via SparkSpec) — the
    // warehouse location is a static conf, not settable per-test
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").saveAsTable("li_b")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").saveAsTable("o_b")
    val joined = spark.table("li_b")
      .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    // both sides bucketed on the join key with equal bucket counts:
    // SortMergeJoin with NO shuffle (Exchange) on either side
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$p")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
  }

  test("q179 dynamic partition pruning: fact scan carries a dynamicpruning subquery") {
    // the filter (Mondays) lives only on the dim side; the date-
    // partitioned fact scan must discover its partitions at runtime —
    // DPP injects a dynamicpruning expression into PartitionFilters
    val q = SparkEntry.queries("q179_dpp_join")(spark, sf)
    q.collect() // executedPlan with AQE finalizes after execution
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n$p")
  }

  test("q73 ngram-jaccard (prefix path): token equi-join candidates, never all-pairs") {
    // materialize=false exposes the live plan (the query's own plan is
    // a scan of the spillRelease file)
    val docs = Tables.documents(spark, sf)
    val p = graft.operators.Dedup
      .ngramJaccardPairsPrefix(docs, "doc_id", "text", "lang", 3, 0.8,
        materialize = false)
      .queryExecution.executedPlan.toString
    // candidates come from a hash equi-join on (block, prefix token),
    // confirm by kernel — no nested-loop pair scan
    assert(p.contains("Exchange hashpartitioning"),
      s"expected keyed shuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the prefix equi-join:\n$p")
  }

  test("q73 ngram-jaccard (tiled path): block shuffle, no driver broadcast") {
    val p = graft.operators.Dedup
      .ngramJaccardPairsTiled(Tables.documents(spark, sf), "doc_id", "text", "lang", 3, 0.8)
      .queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning"),
      s"expected shuffle on the block key:\n$p")
    assert(!p.contains("Broadcast"), s"no driver-side broadcast allowed:\n$p")
  }

  test("q74 cosine pairs: tile-pair shuffle in executors, no driver broadcast") {
    val p = plan("q74_dedup_cosine")
    assert(p.contains("Exchange hashpartitioning"),
      s"expected shuffle on tile-pair keys:\n$p")
    assert(!p.contains("Broadcast"), s"no driver-side broadcast allowed:\n$p")
  }

  test("q77 IVF: cell assignment is a partial-aggregable argmax, not a corpus window") {
    val p = plan("q77_similarity_ivf")
    // max_by assignment must split partial/final so the map-side
    // combine collapses corpus×centroids before the shuffle
    assert(p.contains("max_by"), s"expected max_by assignment:\n$p")
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      (p.contains("partial_") && p.contains("max_by")),
      s"assignment must be partially aggregated:\n$p")
    // only the two query-side windows remain (probe top-nprobe, final
    // top-k) — the corpus-side assignment window is gone
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 2, s"corpus-side Window crept back in ($windows windows):\n$p")
  }

  /** Collect every executed plan while `run` executes — for operators
    * that end in Materialize.spillRelease, whose interesting plans run
    * eagerly inside the call (the returned frame is just the spilled
    * parquet read). QueryExecutionListener fires async; poll until the
    * expected plan arrived or the deadline passed.
    */
  private def executedPlansDuring(run: => Unit)(done: String => Boolean): String = {
    val plans = scala.collection.mutable.Buffer[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      run
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (!done(plans.synchronized(plans.mkString("\n"))) && System.nanoTime() < deadline)
        Thread.sleep(100)
      plans.synchronized(plans.mkString("\n"))
    } finally spark.listenerManager.unregister(l)
  }

  test("q112 semdedup: centroids broadcast, assignment partially aggregated, no cartesian blowup") {
    val all = executedPlansDuring {
      SparkEntry.queries("q112_semdedup")(spark, sf).collect(): Unit
    }(p => p.contains("max_by"))
    assert(all.contains("BroadcastNestedLoopJoin") || all.contains("BroadcastHashJoin"),
      s"centroid side must broadcast:\n$all")
    assert(all.contains("max_by") && all.contains("partial_"),
      s"assignment must be a partial-aggregable argmax:\n$all")
    assert(!all.contains("CartesianProduct"), s"no cartesian corpus blowup:\n$all")
  }

  test("q113 importance weights: log-ratio table broadcasts over the token stream") {
    val all = executedPlansDuring {
      SparkEntry.queries("q113_importance_weights")(spark, sf).collect(): Unit
    }(p => p.contains("BroadcastHashJoin"))
    assert(all.contains("BroadcastHashJoin"), s"lr table must broadcast:\n$all")
    assert(all.contains("partial_"), s"doc sum must partially aggregate:\n$all")
  }

  test("q109 paragraph dedup: first-occurrence pick is a partial-aggregable min, no window") {
    val p = plan("q109_paragraph_dedup")
    assert(p.contains("partial_min") || (p.contains("partial_") && p.contains("min(")),
      s"keep-first must partially aggregate:\n$p")
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows == 0, s"corpus-wide Window crept in:\n$p")
  }

  test("q39 binned range join plans as a hash join, not a nested loop") {
    val p = plan("q39_range_bin_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join must not nested-loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi join on the bin id:\n$p")
  }

  test("q101 span stats: partial aggregation on both levels, no nested loop") {
    val p = plan("q101_cross_doc_spans")
    assert(p.contains("partial_min") || p.contains("partial_count") || p.contains("HashAggregate"),
      s"expected partial-aggregable plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span stats must never go quadratic:\n$p")
  }

  test("q103 bm25: dimension tables broadcast, no cartesian corpus blowup") {
    val p = plan("q103_bm25_search")
    assert(p.contains("BroadcastHashJoin"), s"terms/dfreq must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"only the 1-row stats frame may cross:\n$p")
  }

  test("q28 contamination: eval side broadcasts, train side never shuffles for the join") {
    val p = plan("q28_contamination")
    assert(p.contains("BroadcastHashJoin"), s"eval grams must broadcast:\n$p")
  }

  test("q27 native top-k: partial+final exec, survivor shuffle, no WindowExec") {
    val p = plan("q27_topk_native").split("== Initial Plan ==")(0)
    assert("TopKPerGroup".r.findAllIn(p).length == 2,
      s"expected partial+final TopKPerGroup:\n$p")
    assert(!p.contains("Window"), s"must not plan a window:\n$p")
  }

  test("q108 SQL row_number<=k rewrites to native top-k: no WindowExec in plan") {
    val p = plan("q108_sql_topk").split("== Initial Plan ==")(0)
    assert("TopKPerGroup".r.findAllIn(p).length == 2,
      s"SQL top-k idiom must plan as partial+final TopKPerGroup:\n$p")
    assert(!p.contains("Window"), s"must not plan a window:\n$p")
  }

  test("WindowTopKRule leaves non-rewritable windows alone, keeps residual filters") {
    import spark.implicits._
    Seq((1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 5.0))
      .toDF("id", "g", "v").createOrReplaceTempView("wtk_t")
    // rank() has tie semantics TopKPerGroup can't reproduce — must stay a Window
    val rank = spark.sql(
      """SELECT * FROM (SELECT id, rank() OVER (PARTITION BY g ORDER BY v) r
        |FROM wtk_t) WHERE r <= 1""".stripMargin)
    assert(rank.queryExecution.executedPlan.toString.contains("Window"))
    assert(rank.collect().map(_.getInt(0)).toSet == Set(1, 4))
    // residual conjunct survives the rewrite
    val res = spark.sql(
      """SELECT * FROM (SELECT id, g, row_number() OVER (PARTITION BY g ORDER BY v DESC, id) rn
        |FROM wtk_t) WHERE rn <= 2 AND g = 'a' AND rn > 1""".stripMargin)
    val pp = res.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(pp.contains("TopKPerGroup") && !pp.contains("Window"), s"expected rewrite:\n$pp")
    assert(res.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("q135 chunking: generator expansion is map-only (no hash shuffle before the sort)") {
    val p = plan("q135_chunk_overlap")
    // chunk expansion must stay inside the scan stage: one Generate over
    // the in-row sequence, no Exchange hashpartitioning anywhere (the
    // only exchange is the final presentation sort's range partitioning)
    assert(p.contains("Generate"), s"expected in-row generator:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must not hash-shuffle:\n$p")
  }

  test("q136 weighted sample: global top-200 is TakeOrderedAndProject, not a full sort") {
    val p = plan("q136_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"A-ES selection must fuse sort+limit:\n$p")
  }

  test("q137 bigram LM: vocab size broadcasts over the token stream") {
    val df = SparkEntry.queries("q137_bigram_lm")(spark, sf)
    df.collect()
    val all = df.queryExecution.executedPlan.toString
    assert(all.contains("BroadcastNestedLoopJoin") || all.contains("BroadcastHashJoin"),
      s"one-row vocab aggregate must broadcast:\n$all")
    assert(!all.contains("CartesianProduct"), s"no cartesian product:\n$all")
  }

  test("q142 LATERAL: decorrelated to a join+aggregate, no per-row re-execution") {
    val df = SparkEntry.queries("q142_sql_lateral")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), s"lateral agg must plan as aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"decorrelation must avoid cartesian:\n$p")
  }

  test("q147 PQ encode: codebook broadcasts, distance eval never shuffles the vectors") {
    val df = SparkEntry.queries("q147_pq_encode")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"centroid side must broadcast:\n$p")
  }

  test("q146 incremental dedup: band join is an equi-join (no nested loop over the corpus)") {
    val df = SparkEntry.queries("q146_incremental_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"batch x corpus must join on (band, key):\n$p")
  }

  atScaleTest("q152 bucketed join: co-partitioned, co-sorted scans — no Exchange, no Sort") {
    import org.apache.spark.sql.functions.col
    graft.sources.Bucketing.ensure(spark, sf)
    val j = spark.table(graft.sources.Bucketing.ordersTable(sf)).hint("merge")
      .join(spark.table(graft.sources.Bucketing.lineitemTable(sf)), col("o_orderkey") === col("l_orderkey"))
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected sort-merge over buckets:\n$p")
    assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
    assert(!p.contains("+- Sort") && !p.contains("+- *Sort"),
      s"sortBy'd buckets must not re-sort:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan must be bucket-aware:\n$p")
  }

  test("q155 temperature mix: share table broadcasts; only the rank window shuffles") {
    val df = SparkEntry.queries("q155_temperature_mix")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"5-row share table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"scalar total must broadcast, not cross:\n$p")
  }

  test("q157 AUC: rank window runs over the aggregated distinct-score table") {
    val df = SparkEntry.queries("q157_rank_auc")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), s"scores must aggregate before ranking:\n$p")
    val windows = p.linesIterator.count(_.contains("Window"))
    assert(windows <= 2, s"expected one cumulative window over distinct scores:\n$p")
  }

  test("AQE splits a skewed shuffle partition at runtime (skewed read in the final join)") {
    // one key holds ~95% of the left side. With skew thresholds scaled
    // down to fixture size, AQE must rewrite the SortMergeJoin into its
    // skew-split form — the runtime half of the skew story (the salted
    // join covers the planners-can't-see-it half).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8KB")
    import org.apache.spark.sql.functions.{length, max}
    import s2.implicits._
    // payload must be INCOMPRESSIBLE: skew detection reads compressed
    // map-output sizes, and a constant pad deflates below threshold
    def noise(i: Long): String = {
      var x = i
      (1 to 12).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        java.lang.Long.toHexString(x)
      }.mkString
    }
    val left = (1 to 60000).map(i => (if (i % 20 == 0) i.toLong else 1L, noise(i)))
      .toDF("k", "payload")
    val right = (1 to 3000).map(i => (i.toLong, i * 2)).toDF("rk", "rv")
    val j = left.join(right, $"k" === $"rk").agg(max(length($"payload")))
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("skewed") || p.contains("skew=true"),
      s"AQE skew split did not fire:\n$p")
  }

  test("q166 bucket pruning: the IN-filter scan reads only matching buckets") {
    val df = SparkEntry.queries("q166_bucket_pruning")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(m.isDefined, s"scan must be bucket-aware:\n$p")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"IN-filter must prune buckets (${m.get.matched}):\n$p")
  }

  test("q170 bucketed agg: groupBy on the bucket key needs no hash Exchange") {
    val df = SparkEntry.queries("q170_bucketed_agg")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), s"expected hash aggregate:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed distribution must satisfy the aggregate (only the sort may exchange):\n$p")
  }

  test("q173 indexed IVF: probe scan prunes unprobed cell partitions") {
    // the operator ends in spillRelease, so the pruned index scan runs
    // eagerly inside the call — capture executed plans during it
    // the probe list renders as IN (...) below 10 cells and INSET
    // above (spark.sql.optimizer.inSetConversionThreshold)
    val re = "PartitionFilters: \\[cid#\\d+ (IN \\(|INSET )".r
    val all = executedPlansDuring {
      SparkEntry.queries("q173_ivf_indexed")(spark, sf).collect(): Unit
    }(p => re.findFirstIn(p).isDefined)
    assert(re.findFirstIn(all).isDefined,
      s"index scan must carry a cid IN partition filter:\n$all")
  }

  test("whole-stage codegen covers the criteo expression chain") {
    // AQE hides codegen stages until the final plan: execute first
    val df = SparkEntry.queries("q00_criteo_pipeline")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)  // "*" prefix marks codegen stages
  }

  test("q183 PQ search: codebook and query tables broadcast, corpus side never nested-loops") {
    val p = plan("q183_pq_search")
    assert(p.contains("BroadcastHashJoin"), s"codebook/query side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ADC lookup must stay an equi-join:\n$p")
  }

  test("q182 shard balance: global rank goes through bucketed windows, not one partition") {
    val p = plan("q182_shard_balance")
    assert(p.contains("__bkt"), s"expected the bucket-keyed rank path:\n$p")
  }

  test("q246 Theil-Sen: slope-pair median rank goes through bucketed windows, not one partition") {
    val p = plan("q246_theil_sen")
    // the O(days²) slope-pair rank must take the range-bucketed
    // distributed-rank path (q182's machinery); the only permissible
    // unpartitioned window is the |days|-row daily index
    assert(p.contains("__bkt"), s"expected the bucket-keyed rank path:\n$p")
  }

  test("q195 fuzzy join: SymSpell variant blocking plans as an equi-join, never a distance cross join") {
    val p = plan("q195_fuzzy_join")
    assert(!p.contains("CartesianProduct"), s"all-pairs levenshtein scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"distance predicate must not drive the join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"variant key must equi-join:\n$p")
  }

  test("q196 phash dedup: candidate pairs come from the chunk equi-join, not all-pairs") {
    val p = plan("q196_phash_dedup")
    assert(!p.contains("CartesianProduct"), s"all-pairs hamming scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"hamming predicate must not drive the join:\n$p")
  }

  test("q204 heavy hitters: MG candidates broadcast back for the exact recount") {
    val p = plan("q204_heavy_hitters")
    // the candidate set (≤ k rows) must broadcast into the recount join —
    // a shuffled join here would mean the full symbol stream shuffles twice
    assert(p.contains("BroadcastHashJoin"), s"candidate recount must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the recount:\n$p")
  }

  test("q205 thread paths: pointer doubling joins are keyed, never nested-loop") {
    val p = plan("q205_thread_paths")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ancestor join must be keyed:\n$p")
  }

  test("q206 rouge: clipped overlap comes from keyed (pair, gram) joins, not per-pair products") {
    val p = plan("q206_rouge_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap must be a keyed join:\n$p")
  }

  test("q214 char entropy: per-doc entropy is map-only — one shuffle, for the source rollup") {
    val p = plan("q214_char_entropy")
    // the text stream must never shuffle: entropy is computed in-row via
    // higher-order functions, so the only Exchanges are the tiny per-source
    // agg and the final presentation sort — both post-aggregation
    assert("Exchange".r.findAllIn(p).length <= 2, s"text stream must not shuffle:\n$p")
    assert(p.contains("partial_count"), s"source rollup must partial-aggregate:\n$p")
    assert(!p.contains("Generate"), s"no char explosion:\n$p")
  }

  test("q216 mixture resample: rate table broadcasts, corpus side never shuffles pre-explode") {
    val p = plan("q216_mixture_resample")
    assert(p.contains("BroadcastHashJoin"), s"rates must broadcast:\n$p")
  }

  test("q218 knn label noise: neighbor pick is native top-k, no corpus window or sort") {
    val p = plan("q218_knn_label_noise").split("== Initial Plan ==")(0)
    assert("TopKPerGroup".r.findAllIn(p).length == 2,
      s"expected partial+final TopKPerGroup:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"must not plan a window:\n$p")
  }

  test("q230 resample/LOCF: closed form plans no grid explode and no interval join") {
    val p = plan("q230_resample_locf")
    assert(!p.contains("Generate"), s"must not materialize the hour grid:\n$p")
    assert(!p.contains("Join"), s"closed form needs no gap join:\n$p")
  }

  test("q231 SCD2 lookup: interval probe is an equi join on the entity key, never nested-loop") {
    val p = plan("q231_scd2_lookup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval lookup must stay keyed on user_id:\n$p")
  }

  test("q237 association rules: pair join keyed on the order key; top-20 is TakeOrdered, not a global sort") {
    val p = plan("q237_association_rules")
    assert(!p.contains("CartesianProduct"), s"no all-pairs:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"bounded top-k expected:\n$p")
  }

  test("q239 containment: candidates come from the banded LSH join, intersection is hash-keyed") {
    val p = plan("q239_minhash_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must never form all pairs:\n$p")
  }

  test("q273 grid density: neighborhood lookup is an equi-join on claims, never cell x cell") {
    val p = plan("q273_grid_density")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"8-neighborhood must be an exploded-claim equi-join:\n$p")
  }

  test("q274 itemsets: triple generation is in-row (Generate), no self-join anywhere") {
    val p = plan("q274_itemsets3")
    assert(p.contains("Generate"), s"expected in-row explode:\n$p")
    assert(!p.contains("Join"), s"frequent triples must not self-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"bounded top-k expected:\n$p")
  }

  test("q276 winnowing: shared-fingerprint pairs via keyed join, never all pairs") {
    val p = plan("q276_winnowing")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fingerprint pairs must be an equi-join on fp:\n$p")
  }

  test("q278 item similarity: item totals broadcast back to the pair table") {
    val p = plan("q278_item_similarity")
    assert(p.contains("BroadcastHashJoin"), s"item totals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"bounded top-k expected:\n$p")
  }

  test("q270 trimmed mean: rank window is keyed by the group, not global") {
    val p = plan("q270_trimmed_mean")
    val winLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("o_orderpriority"),
      s"window must partition by o_orderpriority: $winLine")
  }

  test("q275 sessionize: both windows keyed by user_id") {
    val p = plan("q275_sessionize")
    p.linesIterator.filter(_.trim.startsWith("+- Window")).foreach { l =>
      assert(l.contains("user_id"), s"session window must be keyed: $l")
    }
    assert(!p.contains("CartesianProduct"), s"no products in sessionization:\n$p")
  }

  test("q301 vocab coverage: vocabulary rank is distributed, no global window over types") {
    val p = plan("q301_vocab_coverage")
    // Ranking.globalRank keys its window by the range-bucket id — the
    // only windows allowed in this plan are __bkt-partitioned
    p.linesIterator.filter(_.trim.startsWith("+- Window")).foreach { l =>
      assert(l.contains("__bkt"), s"rank window must be bucket-keyed: $l")
    }
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  test("q304 sliding distinct: hour-list join broadcasts, no range join") {
    val p = plan("q304_sliding_distinct")
    assert(p.contains("BroadcastHashJoin"), s"hour list must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"window expansion must stay an equi join:\n$p")
  }

  test("q307 streak: islands window is keyed by user_id") {
    val p = plan("q307_streak")
    p.linesIterator.filter(_.trim.startsWith("+- Window")).foreach { l =>
      assert(l.contains("user_id"), s"streak window must be keyed: $l")
    }
  }

  atScaleTest("q308 conformal: train means and qhat broadcast back to the event scan") {
    val p = plan("q308_conformal")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"mu and qhat joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  test("q315 entity resolution: candidates from a hash block join, top-30 is TakeOrdered") {
    val p = plan("q315_entity_resolution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must stay an equi join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"bounded top-k, not a global sort:\n$p")
  }

  test("q323 geometric median: corpus-side weight join is keyed, only label-domain frames broadcast") {
    val p = plan("q323_geometric_median")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no products in the Weiszfeld step:\n$p")
  }

  test("q327 MMD: rank windows are bucket-keyed, pairing is an equi join") {
    val p = plan("q327_mmd_linear")
    p.linesIterator.filter(_.trim.startsWith("+- Window")).foreach { l =>
      assert(l.contains("__bkt"), s"rank window must be bucket-keyed: $l")
    }
    assert(!p.contains("CartesianProduct"), s"never the n^2 kernel matrix:\n$p")
  }

  test("q284 symspell join: deletion-variant equi-join, never all-pairs") {
    val p = plan("q284_symspell_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay a hash equi-join on deletion variants:\n$p")
  }

  test("q315 entity resolution: target-size chunk equi-join, never all-pairs") {
    val p = plan("q315_entity_resolution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay a hash equi-join on (nat, kb, chunk):\n$p")
    // the rank-chunk key must be part of the join, not filtered after a
    // bare (nat, kb) join — the bounded-block discipline itself
    assert(p.contains("ck#") || p.contains("ck "),
      s"chunk key missing from the plan:\n$p")
  }

  test("q331 propensity matching: running frames only — no unbounded-following rescan") {
    val p = plan("q331_propensity_match")
    // Spark's unbounded-FOLLOWING frame is O(n²) per partition (rescans
    // to the end per row) — both lookups must be running frames
    assert(!p.toLowerCase.contains("unboundedfollowing"),
      s"forward lookup must run over the reversed order:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bucketed as-of must never go pairwise:\n$p")
  }

  test("q333 CKA / q335 effective rank: in-row Gram expansion, no coordinate self-join") {
    for (q <- Seq("q333_cka_linear", "q335_effective_rank")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q: Gram cells must come from the in-row expansion, not a vec_id join:\n$p")
      assert(p.contains("Generate"), s"$q: expected the posexplode expansion:\n$p")
    }
  }

  test("q343 hubness: native top-k sample selection, pair work stays an equi join") {
    val p = plan("q343_hubness_audit")
    assert(p.contains("TopKPerGroup"),
      s"the per-label sample filter must rewrite to the native top-k:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair scoring must stay the (label, dim) equi join:\n$p")
  }

  test("q347 label propagation: rounds are keyed equi joins on the edge list") {
    val p = plan("q347_label_propagation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"each round must join edges to labels on the source id:\n$p")
  }

  test("q356 KNN-Shapley: bounded test cross is broadcast, recurrence is a tid-keyed window") {
    val p = plan("q356_knn_shapley")
    assert(!p.contains("CartesianProduct"),
      s"the 32-test cross must broadcast, never a shuffled product:\n$p")
    assert(p.linesIterator.exists(l => l.contains("Window") || l.contains("window")),
      s"the tail recurrence must be a window, not a self-join:\n$p")
  }

  test("q363/q368 recommender: candidate generation stays hash equi-joins, never all-pairs") {
    for (q <- Seq("q363_rec_coverage", "q368_rec_holdout_eval")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: item-item scoring must ride the basket expansion + equi joins:\n$p")
    }
  }

  test("q388 learned index: segment count scales with the corpus, rank windows are segment-keyed") {
    // the r8 `weak` item: a hardwired 8-way fanout made each segment's
    // rank window a single-task n/8-row sort. Pin both halves of the
    // fix: (a) the global rank decomposes into per-SEGMENT windows
    // (the row_number window partitions by sg — no unpartitioned sort
    // of the key corpus), and (b) the segment count GROWS with the
    // data past the old 8 (sqrtModulus convention, min 8: sf0.001's
    // 1500 keys give 64 segments of ~23 keys).
    val df = SparkEntry.queries("q388_learned_index_fit")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val rankWindows = p.linesIterator.filter(_.contains("row_number")).toSeq
    assert(rankWindows.nonEmpty, s"expected the per-segment rank window:\n$p")
    rankWindows.foreach { l =>
      assert(l.contains("sg#"), s"rank window must partition by segment: $l")
    }
    val segs = df.select("segment").distinct().count()
    val keys = Tables.orders(spark, sf).select("o_orderkey").distinct().count()
    val m = graft.operators.Similarity.sqrtModulus(keys, min = 8L)
    assert(m > 8, s"fixture too small to exercise growth (m=$m)")
    assert(segs > 8 && segs <= m,
      s"segment count must scale with the corpus: got $segs of m=$m (n=$keys)")
  }

  test("q406 universe sampling: the key-hash filter sits on BOTH sides of each sampled join") {
    // losing one side's filter silently turns the unbiased 1/p
    // estimator into a p² intersection (still runs, wrong variance and
    // wrong inflation) — pin it structurally: of the three l_orderkey
    // joins, the truth join has no hash filter and BOTH sampled joins
    // carry an md5-based filter in EACH child subtree; no join may
    // carry it on exactly one side.
    val qe = SparkEntry.queries("q406_universe_join_sample")(spark, sf).queryExecution
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val equiJoins = joins.filter(_.condition.exists(_.toString.contains("l_orderkey")))
    assert(equiJoins.size >= 3, s"expected truth + 2 sampled joins:\n${qe.optimizedPlan}")
    def hasHash(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.toString.toLowerCase.contains("md5")
    val sides = equiJoins.map(j => (hasHash(j.left), hasHash(j.right)))
    assert(sides.count { case (l, r) => l && r } >= 2,
      s"both sampled joins must filter both sides by the key hash: $sides")
    assert(!sides.exists { case (l, r) => l != r },
      s"a one-sided sample filter is the silent p² bug: $sides")
  }

  test("q409 WOE binning: bounds broadcast to the scan, grid aggregation is keyed") {
    val p = plan("q409_woe_binning")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row bounds frame must broadcast, never a shuffled product:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"expected the bounds/totals broadcast:\n$p")
    assert(p.contains("partial_"),
      s"the 20-bin grid must aggregate map-side first:\n$p")
  }

  test("q420 DeLong CI: score-bucket aggregate is keyed map-side, totals broadcast") {
    val p = plan("q420_delong_auc_ci")
    assert(p.contains("partial_"),
      s"the quantized-score grid must aggregate map-side first:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 1-row totals frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no shuffled products in the placement pass:\n$p")
  }

  test("q422 OBF looks: corpus collapses to the arm x day grid before the 5-look expansion") {
    val p = plan("q422_obf_sequential")
    // the look expansion must multiply the BOUNDED (arm, day) grid,
    // not the raw event scan — pin: the scan side aggregates
    // (partial_ over arm/dy) below any join with the looks frame
    assert(p.contains("partial_"), s"expected the keyed day grid:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the looks cross must broadcast, never a shuffled product:\n$p")
  }

  test("q410 fair thresholds: search space is the bounded broadcast grid, argmin is top-1") {
    val p = plan("q410_fair_thresholds")
    assert(!p.contains("CartesianProduct"),
      s"the 20x20 combo cross must broadcast, never a shuffled product:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the argmin must be a bounded top-1, not a global sort:\n$p")
    // cumulative selection rates must stay per-group windows
    p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("g#"), s"selection-rate window must partition by group: $l")
    }
  }

  test("q428 binary quant: queries broadcast, both top-k stages are native TopKPerGroup") {
    val p = plan("q428_binary_quant_recall")
    assert(p.contains("BroadcastExchange"),
      s"the bounded query set must broadcast against the corpus scan:\n$p")
    // exact baseline + candidate stage + rerank = >= 3 native top-k
    // operators; a Window fallback here would sort the full q x n product
    val topks = p.linesIterator.count(_.contains("TopKPerGroup"))
    assert(topks >= 3, s"expected >= 3 native TopKPerGroup operators, got $topks:\n$p")
    assert(!p.contains("CartesianProduct"), s"no shuffled products:\n$p")
  }

  test("q430 successive halving: budget slice is native TopKPerGroup, not a corpus window") {
    val p = plan("q430_successive_halving")
    assert(p.contains("TopKPerGroup"),
      s"first-200-per-arm must run through the bounded-heap operator:\n$p")
    // the only Window operators allowed are the rank cascades over the
    // bounded 16-row arm frame (they sit above the per-arm aggregate)
    assert(p.contains("partial_"), s"per-arm budget means must aggregate map-side:\n$p")
  }

  test("q425 template dedup: top-20 is a bounded TakeOrdered over the hash aggregate") {
    val p = plan("q425_template_dedup")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 must be a bounded top-k, not a global sort:\n$p")
    assert(p.contains("partial_"),
      s"template groups must aggregate map-side first:\n$p")
  }

  test("q426 RLE advisor: every run-count window partitions by month") {
    val p = plan("q426_sort_rle_advisor")
    p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("m#"), s"run-count window must partition by month: $l")
    }
    assert(p.contains("partial_"), s"run flags must aggregate map-side:\n$p")
  }

  test("q424 IV 2SLS: one keyed moment pass, no product joins") {
    val p = plan("q424_iv_2sls")
    assert(p.contains("partial_"), s"moment sums must aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no shuffled products:\n$p")
  }

  test("q434 Hilbert layout: file ranks are range-bucketed windows, never single-task") {
    val p = plan("q434_hilbert_layout")
    // equal-count cuts rank by curve index through Ranking.globalRank:
    // every window must be __bkt-keyed (the distributed rank machinery)
    p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("__bkt#"), s"rank window must partition by range bucket: $l")
    }
    assert(p.contains("partial_"), s"bucket spans must aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row count must broadcast, never a shuffled product:\n$p")
  }

  test("q433 local-DP: randomized response is per-row expression work, aggregates keyed") {
    val p = plan("q433_local_dp_freq")
    assert(p.contains("partial_"), s"frequency counts must aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row total must broadcast, never a shuffled product:\n$p")
  }

  test("q437 IVF probe curve: centroids broadcast, every top-k is the native operator") {
    // q437 now ends in spillRelease (the shared cell assignment is
    // persisted across the three probe levels), so the interesting
    // plans execute inside the call
    val all = executedPlansDuring {
      SparkEntry.queries("q437_ivf_probe_curve")(spark, sf).collect(): Unit
    }(p => p.contains("TopKPerGroup"))
    assert(all.contains("BroadcastExchange"),
      s"the centroid frame must broadcast to the probe stage:\n$all")
    assert(all.linesIterator.count(_.contains("TopKPerGroup")) >= 1,
      s"final rankings must run through the native top-k operator:\n$all")
    assert(all.contains("InMemoryTableScan"),
      s"probe levels must reuse the persisted assignment, not recompute it:\n$all")
  }

  test("q438 spec-decode acceptance: LM counts are keyed joins, totals broadcast") {
    val p = plan("q438_spec_decode_acceptance")
    assert(p.contains("partial_"), s"count tables must aggregate map-side:\n$p")
    assert(p.contains("BroadcastExchange"), s"the 1-row totals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no shuffled products:\n$p")
  }

  test("q439 leakage audit: as-of features from user-keyed running windows") {
    val p = plan("q439_feature_leakage_audit")
    p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("user_id#"), s"running feature window must be user-keyed: $l")
    }
    assert(p.contains("partial_"), s"cohort aggregate must be map-side first:\n$p")
  }

  test("q440 watermark detector is map-side: no explode, one data shuffle + the sort") {
    val p = plan("q440_watermark_greenlist")
    assert(!p.contains("Generate"),
      s"the green count must be an array-local filter, never an explode:\n$p")
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
      s"detector work is per-row; only the source agg + output sort may shuffle:\n$p")
  }

  test("q441 Naive Bayes: class model broadcasts, scoring never goes cartesian") {
    val p = plan("q441_naive_bayes_langid")
    assert(p.contains("BroadcastExchange"),
      s"the bounded class-model frame must broadcast into scoring:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"doc-side scoring must stay keyed/broadcast, never a shuffled product:\n$p")
  }

  test("q442 GRPO advantage: group moments are one keyed map-side aggregate, no window") {
    val p = plan("q442_grpo_advantage")
    assert(p.contains("partial_"), s"group moments must aggregate map-side:\n$p")
    assert(!p.linesIterator.exists(_.trim.startsWith("Window")),
      s"the moment join-back replaces a per-row window pass:\n$p")
  }

  test("q443 prototype pruning: centroid model broadcasts, rank windows label-keyed") {
    val p = plan("q443_prototype_pruning")
    assert(p.contains("BroadcastExchange"),
      s"the <=|labels|-row centroid frame must broadcast:\n$p")
    p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("label#"), s"rank window must be label-keyed: $l")
    }
  }

  test("q444 crawl novelty: shingle work aggregates map-side, no cartesian") {
    val p = plan("q444_crawl_novelty")
    assert(p.contains("partial_"), s"shingle counts must aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"day rollup is keyed:\n$p")
  }

  test("q445 UCB1 audit: corpus folds in one map-side aggregate; grid work bounded") {
    val p = plan("q445_ucb1_audit")
    assert(p.contains("partial_"), s"the (day, arm) cells must aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"grid joins stay keyed:\n$p")
  }

  atScaleTest("q446 AIPW: propensity/outcome models broadcast back to the rows") {
    val p = plan("q446_aipw_ate")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded per-bucket model frames must broadcast:\n$p")
    assert(p.contains("partial_"), s"estimator sums must aggregate map-side:\n$p")
  }

  test("q447 ALS step: normal equations are one user-keyed aggregate, no window") {
    val p = plan("q447_als_step")
    assert(p.contains("partial_"), s"per-user moments must aggregate map-side:\n$p")
    assert(!p.linesIterator.exists(_.trim.startsWith("Window")),
      s"the closed-form solve is row-local, never a window pass:\n$p")
  }

  test("q448 clustered DiD: cell means broadcast, user influence is one keyed aggregate") {
    val p = plan("q448_did_cluster")
    assert(p.contains("BroadcastHashJoin"),
      s"the 4-row cell-mean frame must broadcast:\n$p")
    assert(p.contains("partial_"), s"user influence sums must aggregate map-side:\n$p")
  }

  test("q449 mSPRT: look cells aggregate map-side before the bounded grid") {
    val p = plan("q449_msprt")
    assert(p.contains("partial_"), s"(look, arm) cells must aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"look rollup is keyed:\n$p")
  }

  test("q450 RANSAC: candidate lines broadcast into inlier scoring") {
    val p = plan("q450_ransac")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the <=8-row candidate frame must broadcast, never shuffle the points:\n$p")
    assert(!p.contains("CartesianProduct"), s"no shuffled products:\n$p")
  }

  atScaleTest("q451 newsvendor: part dim broadcasts, demand windows brand-keyed") {
    val p = plan("q451_newsvendor")
    assert(p.contains("BroadcastHashJoin"), s"part dim must broadcast:\n$p")
    p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("brand#"), s"rank window must be brand-keyed: $l")
    }
  }

  test("q452 contract audit: referential checks are anti joins, never products") {
    val p = plan("q452_contract_audit")
    assert(p.contains("LeftAnti"), s"orphan checks must be anti joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"no shuffled products:\n$p")
  }

  test("q453 variance decomposition: corpus folds map-side into the bounded grid") {
    val p = plan("q453_variance_decomp")
    assert(p.contains("partial_"), s"cell moments must aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row margin frames must broadcast, never a shuffled product:\n$p")
  }

  test("q458 fingerprint: per-variant hash sums are map-side aggregates, no sort") {
    val p = plan("q458_table_fingerprint")
    assert(p.contains("partial_"), s"hash sums must aggregate map-side:\n$p")
    assert(!p.contains("SortExec") || !p.linesIterator.exists(l =>
      l.trim.startsWith("Sort") && l.contains("l_orderkey")),
      s"an order-independent checksum must never sort the table:\n$p")
  }

  test("q459 skew advisor: per-key counts aggregate map-side; histograms bounded") {
    val p = plan("q459_skew_advisor")
    assert(p.contains("partial_"), s"key counts must aggregate map-side:\n$p")
  }

  test("q460 regression discontinuity: bandwidth filter reaches the orders scan") {
    val p = plan("q460_reg_discontinuity")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice)") ||
      p.contains("o_totalprice"),
      s"the bandwidth predicate must prune at the scan:\n$p")
    assert(p.contains("partial_"), s"side moments must aggregate map-side:\n$p")
  }

  test("q461 mediation: one corpus aggregate, all algebra on the 1-row frame") {
    val p = plan("q461_mediation")
    assert(p.contains("partial_"), s"moments must aggregate map-side:\n$p")
    assert(!p.linesIterator.exists(_.trim.startsWith("Window")),
      s"closed forms replace window passes:\n$p")
  }

  test("q432 RMST: risk sets from the broadcast day list, windows cohort-keyed") {
    val p = plan("q432_rmst")
    assert(p.contains("BroadcastExchange"), s"event-day list must broadcast:\n$p")
    p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("x#"), s"survival windows must partition by cohort: $l")
    }
  }

  test("q466 MI ranking: grids collapse map-side, the melt never touches raw rows") {
    val p = plan("q466_mi_ranking")
    assert(p.contains("partial_count"),
      s"the joint grids must combine map-side before any shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"totals broadcast, no products:\n$p")
    // the explode (Generate) runs on the post-aggregate bounded grid:
    // every Generate must sit above an Aggregate, never above a scan
    assert(p.contains("Generate"), s"expected the melt Generate in the plan:\n$p")
  }

  test("q471 sequential patterns: lead windows user-keyed, no positional self-join") {
    val p = plan("q471_seq_pattern")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"lead(1..3) must replace the per-user positional self-join:\n$p")
    p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("user_id#"), s"pattern window must be user-keyed: $l")
    }
  }

  test("q473 Merkle diff: row reconciliation is semi-join pruned to dirty blocks") {
    val p = plan("q473_merkle_diff")
    assert(p.contains("LeftSemi"),
      s"row-level work must be gated by the dirty-block semi-join:\n$p")
    assert(p.contains("partial_"), s"block hashes must combine map-side:\n$p")
  }

  test("q477 JW linkage: the native expression scores pairs, no UDF in the plan") {
    val p = plan("q477_jw_linkage")
    assert(p.contains("graft_jw"),
      s"scoring must run through the codegen'd JaroWinklerExpr:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidate pairs come from the block equi-join:\n$p")
  }
}
