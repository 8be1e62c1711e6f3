package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.streaming.state.StateStore

/** Package-access shim: [[StateStore.unloadAll]] is `private[sql]`, but
  * a harness that runs many short streaming queries in one JVM needs it
  * — HDFS-backed state-store providers keep every partition's full
  * state map on-heap after a query terminates, released only by the
  * 60 s maintenance sweep, and a suite running 21 streaming queries
  * back-to-back measured the leftovers as GC pressure on whatever ran
  * next. Called by `graft.streaming.StreamRun` once each stream has
  * ended or failed; a restarted query reloads its state from the
  * checkpoint delta files — the real recovery path.
  */
object StateStoreHousekeeping {
  def unloadAll(): Unit = StateStore.unloadAll()
}
