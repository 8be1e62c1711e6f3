package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics

import graft.{SparkEntry, Tuning}
import graft.sources.{Bucketing, DataContract}

/** Closed-loop, one-client benchmark of one workload.
  *
  * Runs in one JVM: set-up (timed from JVM start), one cold pass, one
  * untimed pass that writes every query's result for the output check
  * and so also warms up, `warmup` further untimed passes, then measured
  * passes until `seconds` have elapsed and at least `min_passes` of them
  * ran with host CPU steal at most `max_steal`. A pass over the steal
  * limit is kept in the record but does not count, so a steal window
  * lengthens the run rather than the figures; measuring stops at
  * `2 * seconds` in any case. Each query is built by
  * `SparkEntry.queries(name)(spark, dir)` and executed by a `noop` write.
  * The seed only permutes the query order within each pass.
  *
  * With `trace=1` the measured passes alternate between untraced and
  * traced (listeners installed), at least two of each, so the tracing
  * overhead is measured in the same run; layer metrics come from the
  * traced passes only.
  *
  * Writes one JSON record to `out`; `run.py` turns it into metrics.
  * Usage: `perfbench.Driver key=value ...` (see `Args`).
  */
object Driver {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    val workload: String = apply("workload")
    val queries: Seq[String] = apply("queries").split(",").toSeq
    val data: String = apply("data")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val work: String = apply("work")
    val cores: Int = apply("cores").toInt
    val maxSteal: Double = apply("max_steal").toDouble
    val warmup: Int = apply("warmup").toInt
    val minPasses: Int = apply("min_passes").toInt
    val out: String = apply("out")
  }

  final case class QueryRun(name: String, spanId: Long, start: Double, end: Double, buildS: Double,
                            error: Option[String], leaked: Int) {
    def wallS: Double = (end - start) / 1e3
  }
  final case class PassRun(index: Int, kind: String, traced: Boolean, spanId: Long, start: Double,
                           end: Double, steal: Double, queries: Seq[QueryRun]) {
    def wallS: Double = (end - start) / 1e3
  }

  private def nowMs: Double = System.nanoTime() / 1e6 - nanoOffset
  private val nanoOffset = System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("dump-oracles")) { dumpOracles(argv(1)); return }
    val a = Args(argv.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val ticks0 = Tracer.cpuTicks()
    val known = SparkEntry.queries
    val missing = a.queries.filterNot(known.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val fns = a.queries.map(n => n -> known(n)).toMap

    // --- set-up: session, extensions, contract canary, bucketed layout
    val spark = session(a, s"${a.work}/warehouse")
    val t1 = nowMs
    val contract = DataContract.report(spark, a.data)
    val t2 = nowMs
    Bucketing.ensure(spark, a.data)
    val t3 = nowMs
    contract.filter(_.startsWith("FAIL")).foreach(l => System.err.println(s"[perfbench] contract $l"))
    val ticks1 = Tracer.cpuTicks()
    val setup = Map("setup_s" -> (t3 - jvmStart) / 1e3, "session_s" -> (t1 - jvmStart) / 1e3,
      "contract_s" -> (t2 - t1) / 1e3, "bucketing_s" -> (t3 - t2) / 1e3,
      "steal_frac" -> Tracer.stealFrac(ticks0, ticks1))
    val sc = spark.sparkContext
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val workloadSpan = tracer.map(_.newId()).getOrElse(0L)
    val runStart = nowMs

    def runPass(index: Int, kind: String, traced: Boolean): PassRun = {
      val order = new scala.util.Random(a.seed * 1000003L + index).shuffle(a.queries)
      val passSpan = tracer.map(_.newId()).getOrElse(0L)
      val ticks0 = Tracer.cpuTicks()
      val start = nowMs
      val qs = order.map(n => runQuery(spark, a, tracer.filter(_ => traced), n, fns(n)))
      val end = nowMs
      val steal = Tracer.stealFrac(ticks0, Tracer.cpuTicks())
      val p = PassRun(index, kind, traced, passSpan, start, end, steal, qs)
      System.err.println(f"[perfbench] pass $index%d $kind%s${if (traced) " traced" else ""}%s " +
        f"${p.wallS}%.2f s, ${qs.count(_.error.nonEmpty)}%d failed, steal ${steal * 100}%.1f%%")
      p
    }

    // --- cold pass, output check, warm-up, measured passes
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val passes = mutable.ArrayBuffer(runPass(0, "cold", a.trace))
    val coldCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val coldCompileS = coldCompiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3
    tracer.foreach(_.uninstall())
    // --- output-check pass: untimed, and the first warm-up pass
    val checkStart = nowMs
    val checkDir = s"${a.work}/check"
    val checks = a.queries.sorted.map { n =>
      n -> (try {
        sc.setJobDescription(n)
        fns(n)(spark, a.data).write.mode("overwrite").parquet(s"$checkDir/$n")
        None
      } catch { case e: Throwable => Some(describe(e)) }
      finally sc.setJobDescription(null))
    }
    System.err.println(f"[perfbench] check pass ${(nowMs - checkStart) / 1e3}%.2f s")
    (1 to a.warmup).foreach(i => passes += runPass(i, "warmup", traced = false))
    val compiles1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val measureStart = nowMs
    var i = a.warmup + 1
    def elapsedS = (nowMs - measureStart) / 1e3
    def counted = passes.count(p => p.kind == "measured" && p.steal <= a.maxSteal)
    // traced runs order their passes untraced, traced, traced, untraced, ...
    // so a pass-to-pass warming trend cancels out of the overhead
    val minPasses = if (a.trace) a.minPasses.max(4) else a.minPasses
    var measured = 0
    while (measured < minPasses ||
           ((counted < minPasses || elapsedS < a.seconds) && elapsedS < 2 * a.seconds)) {
      val traced = a.trace && Set(1, 2).contains(measured % 4)
      if (traced) tracer.foreach(_.install())
      passes += runPass(i, "measured", traced)
      if (traced) tracer.foreach(_.uninstall())
      measured += 1
      i += 1
    }
    val warmCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles1
    val memory = memoryMb()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> sc.master, "data" -> a.data,
      "setup" -> setup, "max_steal" -> a.maxSteal,
      "passes" -> passes.toSeq.map(p => Map(
        "index" -> p.index, "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS,
        "steal_frac" -> p.steal,
        "queries" -> p.queries.map(q => Map("name" -> q.name, "wall_s" -> q.wallS,
          "build_s" -> q.buildS, "error" -> q.error.orNull)))),
      "check" -> checks.map { case (n, e) => Map("name" -> n, "error" -> e.orNull) },
      "codegen" -> Map("cold_compiles" -> coldCompiles, "cold_compile_s" -> coldCompileS,
        "warm_compiles" -> warmCompiles),
      "memory_mb" -> memory)
    tracer.foreach { t =>
      record ++= Layers.summarize(t, a, workloadSpan, runStart, passes.toSeq, setup,
        coldCompiles, coldCompileS, s"${a.out.stripSuffix(".json")}-spans.jsonl")
    }
    Files.writeString(Paths.get(a.out), Json(record) + "\n")
    spark.stop()
  }

  private def session(a: Args, warehouse: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Tuning.shuffleConf(a.data, a.cores))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", Tuning.codegenCacheConf)
      .getOrCreate()
    Bucketing.sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def runQuery(spark: SparkSession, a: Args, tracer: Option[Tracer], name: String,
                       fn: (SparkSession, String) => DataFrame): QueryRun = {
    val sc = spark.sparkContext
    val spanId = tracer.map(_.newId()).getOrElse(0L)
    val cached0 = if (tracer.isDefined) sc.getPersistentRDDs.keySet else Set.empty[Int]
    sc.setJobDescription(name)
    sc.setLocalProperty(Tracer.SpanProp, spanId.toString)
    sc.setLocalProperty(Tracer.PhaseProp, "build")
    val start = nowMs
    var built = start
    val error =
      try {
        val df = fn(spark, a.data)
        built = nowMs
        sc.setLocalProperty(Tracer.PhaseProp, "write")
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(describe(e)) }
    val end = nowMs
    if (built == start) built = end
    Seq(Tracer.SpanProp, Tracer.PhaseProp).foreach(sc.setLocalProperty(_, null))
    sc.setJobDescription(null)
    val leaked = if (tracer.isDefined) (sc.getPersistentRDDs.keySet -- cached0).size else 0
    error.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    QueryRun(name, spanId, start, end, (built - start) / 1e3, error, leaked)
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}".take(300)

  /** Memory figures of this JVM, in MB: the heap still in use after a
    * full collection and the non-heap memory in use (metaspace, code
    * cache) at that point, which is what the program keeps; and for
    * context the peak use of the heap and non-heap pools and the peak
    * resident set (VmHWM), which follow the collector's sizing of the
    * fixed heap more than the program.
    */
  private def memoryMb(): Map[String, Double] = {
    val mb = 1048576.0
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    def peak(t: MemoryType) = pools.filter(_.getType == t).map(_.getPeakUsage.getUsed).sum / mb
    val peaks = Map("peak_heap_mb" -> peak(MemoryType.HEAP), "peak_non_heap_mb" -> peak(MemoryType.NON_HEAP))
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val f = scala.io.Source.fromFile("/proc/self/status")
    val hwm = try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally f.close()
    peaks ++ Map("live_heap_mb" -> mem.getHeapMemoryUsage.getUsed / mb,
      "non_heap_mb" -> mem.getNonHeapMemoryUsage.getUsed / mb, "vm_hwm_mb" -> hwm)
  }

  /** Writes `SparkEntry.oracleSql` as JSON, for deriving expected results. */
  private def dumpOracles(out: String): Unit =
    Files.writeString(Paths.get(out), Json(SparkEntry.oracleSql.toSeq.sortBy(_._1).toMap) + "\n")
}

/** Minimal JSON writer for the record types above. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
