package graft.operators

import org.apache.spark.sql.DataFrame

/** Checkpoint-to-storage ending for iterative / multi-read operators.
  *
  * Operators like MinHash-LSH (signature table read by both self-join
  * sides) and label propagation (per-round label frames) persist
  * intermediates for reuse. Returning a DataFrame that still depends on
  * those persisted blocks leaks them into the block manager for the
  * session lifetime — measured 2-9× slowdowns on whatever runs next.
  * The fix is the standard ending for iterative jobs: write the (small)
  * result to storage, release every cached intermediate, and serve the
  * result from the file — the caller gets an unencumbered DataFrame and
  * the block manager is left clean.
  */
private[graft] object Materialize {

  /** Write `result` to a run-scoped parquet path — the session
    * checkpoint dir when configured (on a cluster: shared storage,
    * lifecycle owned by the job like any checkpoint), else a JVM temp
    * dir that is deleted on JVM exit — unpersist `release`, and return
    * the read-back frame. The write is distributed (executor-parallel,
    * never through the driver), so this is scale-safe for any result
    * that fits the cluster's scratch space.
    */
  def spillRelease(result: DataFrame, release: DataFrame*): DataFrame = {
    val spark = result.sparkSession
    val base = spark.sparkContext.getCheckpointDir.getOrElse(tempSpillRoot)
    val path = s"$base/graft-spill-${java.util.UUID.randomUUID()}"
    result.write.mode("overwrite").parquet(path)
    release.foreach(_.unpersist())
    // read back with the schema just written: parquet schema inference
    // runs a one-task footer-merge job even for a single file
    spark.read.schema(result.schema).parquet(path)
  }

  /** Per-JVM scratch path for query-built fixtures (IVF index, decoded
    * binary blobs, corrupt-record files). Keyed under the JVM temp root
    * so concurrent JVMs (bench + verify on the same sf) never read each
    * other's half-written directories, and a regenerated input can
    * never be shadowed by a stale fixture from an earlier run — the
    * root dies with the JVM.
    */
  def jvmScratch(name: String): String = s"$tempSpillRoot/$name"

  // one temp root per JVM, removed by a shutdown hook so long-lived
  // local sessions do not accumulate spill directories
  private lazy val tempSpillRoot: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spill")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(dir.toFile)
    }))
    dir.toString
  }
}
