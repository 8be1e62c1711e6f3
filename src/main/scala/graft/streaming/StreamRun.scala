package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.Tuning
import graft.sources.LocalFs

/** The one place a harness stream runs: every `writeStream.start()` of
  * the query layer (`Curation18.runStream`, `Curation50.runRestartable`)
  * happens inside [[apply]], which sets the session confs below for the
  * stream's lifetime and puts every key back afterwards — also when the
  * stream fails. `start()` clones the session, so the stream keeps the
  * values it started with and the read-back after it runs under the
  * caller's own confs.
  *
  * Measured on q266_stream_dedup (750 state rows, two micro-batches) in
  * the `short_mix` benchmark on a 4-cpu VM, local[4]: a warm run took
  * 1.30 s before these confs and 0.52 s after (medians of 10 runs):
  *
  *  - '''Codegen recompiled every run.''' Spark 4.1 keys its codegen
  *    cache on the thread's context classloader as well as the source.
  *    With artifact isolation on (the default) every cloned session
  *    gets a fresh executor classloader, so each run recompiled the
  *    same 7 byte-identical units. The harness adds no session
  *    artifacts, so there is nothing to isolate: with isolation off the
  *    clone uses the executor's default classloader and hits the cache
  *    (warm compiles 7 → 0 per run).
  *  - '''Every checkpoint and state file forked processes.''' Without
  *    libhadoop, Hadoop's local `FileContext` forks `chmod` for each
  *    file or directory it creates and `readlink` twice per rename:
  *    174 forks per q266 run (JFR `jdk.ProcessStart`) at 3.5–4.5 ms
  *    each, against 0.01 ms for the same chmod through `java.nio`.
  *    The metadata logs (driver) and state stores (executors) build
  *    their Hadoop conf from the cloned session, so
  *    `fs.AbstractFileSystem.file.impl` routes all of them through
  *    [[graft.sources.LocalFs]] (same semantics, no forks).
  *
  * The other two confs: Spark 4.1's checkpoint-file checksum manager
  * funnels every checkpoint write through a per-manager thread pool that
  * tasks await without bound (thread dumps during q431 showed all 32
  * join tasks parked in `ChecksumCheckpointFileManager.awaitResult`);
  * it is corruption-detection metadata, not semantics, and off restores
  * the ≤4.0 write path. The shuffle width is [[Tuning.streamShuffleConf]]
  * (the state-store count, pinned by the checkpoint at creation).
  */
object StreamRun {

  val ChecksumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
  val ShuffleKey = "spark.sql.shuffle.partitions"
  val IsolationKey = "spark.sql.artifact.isolation.enabled"
  val LocalFsKey = "fs.AbstractFileSystem.file.impl"

  /** The keys [[apply]] sets, and so restores. */
  val keys: Seq[String] = Seq(ChecksumKey, ShuffleKey, IsolationKey, LocalFsKey)

  /** Runs `body` — which starts a stream on `spark` and waits for it —
    * under the stream confs, then restores them and unloads the
    * state-store providers, on success and on failure.
    */
  def apply[T](spark: SparkSession)(body: => T): T = {
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(ChecksumKey, "false")
    spark.conf.set(ShuffleKey, Tuning.streamShuffleConf(spark.conf.get(ShuffleKey).toInt))
    spark.conf.set(IsolationKey, "false")
    spark.conf.set(LocalFsKey, classOf[LocalFs].getName)
    try body
    finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      // Drop the query's state-store provider maps now instead of
      // waiting for the 60 s maintenance sweep: HDFS-backed providers
      // keep every partition's full state map on-heap after the query
      // terminates (or fails), and a suite running 21 streaming queries
      // back-to-back measured the leftovers as GC pressure on whatever
      // ran next. A restarted query reloads from the checkpoint delta
      // files — the real recovery path. unloadAll is JVM-GLOBAL: it
      // assumes the harness's serial one-stream-at-a-time execution.
      org.apache.spark.sql.graft.StateStoreHousekeeping.unloadAll()
    }
  }
}
