package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Turns a traced run into per-layer metrics, per-query records and
  * the span file.
  *
  * Layer metrics are per warm pass: the median, over the traced
  * measured passes, of each pass's total. `codegen.*` describe the cold
  * pass, `sources.bucketing_s` / `sources.contract_s` the set-up.
  */
object Layers {
  import Driver.PassRun

  private val summed = Seq(
    "queries.eager_jobs", "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "plan.topk_rewrites", "plan.window_unpartitioned", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.records", "shuffle.fetch_wait_s", "spill.memory_bytes", "spill.disk_bytes",
    "sources.scan_bytes", "sources.scan_records", "sources.output_bytes", "stream.batches",
    "stream.add_batch_s", "stream.wal_commit_s", "stream.commit_offsets_s",
    "stream.query_planning_s", "stream.state_commit_s", "stream.state_rows_updated",
    "stream.state_memory_bytes")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def summarize(t: Tracer, a: Driver.Args, workloadSpan: Long, runStart: Double,
                passes: Seq[PassRun], setup: Map[String, Double],
                coldCompiles: Long, coldCompileS: Double, spanFile: String): Map[String, Any] = {
    val traced = passes.filter(_.traced)
    // spans the driver itself owns: workload -> pass -> query -> queries.build
    val querySpans = traced.flatMap { p =>
      t.add(Span(p.spanId, workloadSpan, "pass", p.start, p.end, Map("index" -> p.index, "kind" -> p.kind)))
      p.queries.map { q =>
        val build = t.newId()
        t.add(Span(build, q.spanId, "queries.build", q.start, q.start + q.buildS * 1e3))
        Span(q.spanId, p.spanId, "query", q.start, q.end, Map("query" -> q.name, "build_span" -> build))
      }
    }
    querySpans.foreach(t.add)
    t.add(Span(workloadSpan, 0L, "workload", runStart, passes.last.end, Map("workload" -> a.workload)))
    val layers = t.attribute(querySpans)

    // one record per traced query execution
    val records = traced.flatMap { p =>
      p.queries.map { q =>
        val l = layers.getOrElse(q.spanId, new Tracer.QueryLayers)
        val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        c ++= l.c
        c("queries.build_s") = q.buildS
        c("exec.no_job_s") = (q.end - q.start - Tracer.covered(l.jobIntervals, q.start, q.end)) / 1e3
        c("exec.single_task_stages_gt1s") = l.singleTaskStages.size
        c("exec.skew_max_over_median") = l.skew
        c("storage.leaked_rdds") = q.leaked
        (p, q, l, c)
      }
    }
    val findings = records.flatMap { case (p, q, l, c) =>
      l.singleTaskStages.map { case (s, w) => Map("query" -> q.name, "pass" -> p.index,
        "finding" -> "single_task_stage_gt1s", "stage" -> s, "wall_s" -> w) } ++
      (if (c("plan.window_unpartitioned") > 0) Seq(Map("query" -> q.name, "pass" -> p.index,
        "finding" -> "window_unpartitioned", "count" -> c("plan.window_unpartitioned"))) else Nil) ++
      (if (q.leaked > 0) Seq(Map("query" -> q.name, "pass" -> p.index,
        "finding" -> "leaked_rdds", "count" -> q.leaked)) else Nil)
    }

    // per-pass totals over the traced measured passes
    val measured = traced.filter(_.kind == "measured")
    val perPass = measured.map { p =>
      val rs = records.filter(_._1 eq p).map(_._4)
      val tot = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      rs.foreach(c => (summed ++ Seq("queries.build_s", "exec.no_job_s", "exec.single_task_stages_gt1s",
        "storage.leaked_rdds")).foreach(k => tot(k) += c(k)))
      tot("stream.state_memory_bytes") = rs.map(_("stream.state_memory_bytes")).maxOption.getOrElse(0.0)
      tot("exec.skew_max_over_median") = rs.map(_("exec.skew_max_over_median")).maxOption.getOrElse(0.0)
      tot("exec.task_offcpu_s") = tot("exec.task_run_s") - tot("exec.task_cpu_s")
      tot("exec.core_busy_frac") = tot("exec.task_run_s") / (p.wallS * a.cores)
      tot("host.steal_frac") = p.steal
      tot
    }
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    perPass.headOption.foreach(_.keys.toSeq.sorted.foreach(k => metrics(k) = median(perPass.map(_(k)))))
    metrics("codegen.compiles") = coldCompiles.toDouble
    metrics("codegen.compile_s") = coldCompileS
    metrics("sources.bucketing_s") = setup("bucketing_s")
    metrics("sources.contract_s") = setup("contract_s")
    metrics("host.cores") = a.cores
    val untracedS = median(passes.filter(p => p.kind == "measured" && !p.traced).map(_.wallS))
    metrics("trace.overhead_frac") = median(measured.map(_.wallS)) / untracedS - 1

    // self time: a span's duration minus what its children cover
    val spans = t.spans.toSeq
    val kids = spans.groupBy(_.parent)
    def self(s: Span): Double =
      (s.dur - Tracer.covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)) / 1e3
    def under(root: Span): Seq[Span] = root +: kids.getOrElse(root.id, Nil).flatMap(under)
    def selfByName(ss: Seq[Span]) =
      ss.groupBy(_.name).map { case (n, g) => n -> g.map(self).sum }.toSeq.sortBy(-_._2).toMap
    val measuredIds = measured.map(_.spanId).toSet
    val workloadSelf = selfByName(spans.filter(s => measuredIds.contains(s.id)).flatMap(under))
      .map { case (n, v) => n -> v / measured.size.max(1) }
    val perQuerySelf = querySpans.filter(q => measuredIds.contains(q.parent))
      .groupBy(_.attrs("query").toString).toSeq.sortBy(_._1)
      .map { case (n, qs) => n -> selfByName(qs.flatMap(under)).map { case (k, v) => k -> v / qs.size } }

    val w = Files.newBufferedWriter(Paths.get(spanFile))
    try spans.sortBy(_.start).foreach { s =>
      w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end) ++ s.attrs.filter(_._1 != "build_span")))
      w.newLine()
    } finally w.close()

    Map(
      "layers" -> metrics,
      "self_time_per_pass_s" -> workloadSelf,
      "self_time_per_query_s" -> perQuerySelf.toMap,
      "findings" -> findings,
      "query_records" -> records.map { case (p, q, _, c) =>
        Map("query" -> q.name, "pass" -> p.index, "wall_s" -> q.wallS,
          "error" -> q.error.orNull) ++ c.toSeq.sortBy(_._1) },
      "spans" -> spanFile)
  }
}
