package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization evidence trail (plans/r10/<q>_before.txt /
  * _after.txt). Same session bootstrap as Bench (GraftSession) so the
  * captured plan is the one the bench executes. Each query is run once
  * first (its rows discarded), so the dump shows AQE's final plan
  * (`isFinalPlan=true`, with runtime rewrites such as
  * [[graft.plans.SmallSortRule]]) above the initial one.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  * Names match EXACTLY, except a name ending in '_' which is a prefix
  * filter (so 'q43' cannot silently also dump q430-q439 — r10 ADVICE).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>\n" +
          "  query names match exactly; a trailing '_' makes a name a prefix filter")
      sys.exit(2)
    }
    val (sfDir, outDir, suffix, names) = (args(0), args(1), args(2), args(3).split(","))
    val spark = GraftSession.local(GraftSession.cpus, sfDir)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(t => names.exists(n =>
        if (n.endsWith("_")) t._1.startsWith(n) else t._1 == n))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          df.queryExecution.toRdd.foreach(_ => ())
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
