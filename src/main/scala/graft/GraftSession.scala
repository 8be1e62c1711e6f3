package graft

import org.apache.spark.sql.SparkSession

/** The one session bootstrap for every harness entry point — Bench,
  * Verify, the `graft.tools` mains and the test suites — so a plan
  * dumped or verified is the plan the bench times. README "Settings"
  * lists the `SPARK_GRAFT_*` variables the harness reads.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available processor. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with graft's functions and planner rules
    * installed and the shuffle width sized from `dataDir`'s input bytes
    * (see [[Tuning]]).
    */
  def local(cpus: Int, dataDir: String): SparkSession = {
    val confs = Seq(
      "spark.sql.extensions" -> classOf[GraftExtensions].getName,
      "spark.sql.shuffle.partitions" -> Tuning.shuffleConf(dataDir, cpus),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse",
      "spark.ui.enabled" -> "false",
      // let AQE coalesce partitions under cached plans: iterative
      // operators (label propagation, k-means) persist tiny per-round
      // frames whose fixed 32-partition stages otherwise dominate
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      // hold the whole suite's codegen units between passes (pass-2
      // wall 175 s -> 80 s on the 110-query q2* subset), see Tuning
      "spark.sql.codegen.cache.maxEntries" -> Tuning.codegenCacheConf
    ) ++
      // bucketed-layout planner flags (sort-aware scans, no auto-disable)
      graft.sources.Bucketing.sessionConfs
    val spark = confs.foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
