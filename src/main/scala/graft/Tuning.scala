package graft

/** Session-bootstrap sizing for the local harness.
  *
  * Shuffle width follows a TWO-REGIME rule, measured at both ends in
  * round 10 with fresh-JVM paired probes:
  *
  *  - **No-spill regime** (per-task working set fits the execution-
  *    memory slice): width = cores wins. sf10 (1.6 GB input, 80 GB
  *    heap): q408 10.4 s at 32 partitions vs 56.8 s at 256 vs 83.5 s
  *    at 1024 — every extra partition is pure scheduling + shuffle-
  *    segment overhead; even the spill-bound giants are width-neutral
  *    there (q363 900 s at 32 vs 964 s at 256; execution memory is
  *    shared by the same worker threads either way).
  *  - **Spill regime** (working set outgrows execution memory): wider
  *    tasks pull per-task sorts/aggregations back under the memory
  *    slice and win big. sf100 (16 GB input, same heap): q408 673.9 s
  *    at 32 partitions vs 231.6 s at 256 — 2.9×.
  *
  * The crossover is where per-task state meets the per-task execution
  * slice (~80 g × 0.6 / 32 ≈ 1.5 GB here): one partition per ~64 MB of
  * compressed input keeps the post-expansion (~5-10×) task share
  * inside it. That lands exactly on the measured winners: cores
  * through sf10, 256 at sf100. History: round 8 hand-set 256 at sf10
  * to fix an OOM that was really the 48 GB heap's fault; round 9
  * automated that width; round 10's probes showed it was premature at
  * sf10 once the heap scaled, but correct a decade later. On a real
  * cluster AQE + coalescePartitions does this from runtime statistics;
  * a local[N] harness derives it from bytes on disk. The former
  * environment override of the width is gone; README "Settings" lists
  * the variables the harness still reads.
  */
object Tuning {
  /** Recursive on-disk size of a data directory (bytes). */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(dir))
  }

  /** Input-scaled shuffle width: one partition per ~64 MB of compressed
    * input (see object doc for the measured two-regime rationale),
    * never below the core count, rounded up to a power of two, capped
    * at 2048. Identical to `cpus` for every harness SF up to and
    * including sf10 — the width only grows once the input outgrows the
    * box's execution memory.
    */
  def shufflePartitions(sfDir: String, cpus: Int): Int = {
    val bytes = try dirBytes(sfDir) catch { case _: Throwable => 0L }
    val fromData = bytes / (64L << 20) + 1
    var p = 1
    while (p < fromData && p < 2048) p *= 2
    math.max(cpus, p)
  }

  /** [[shufflePartitions]] as the `spark.sql.shuffle.partitions` value. */
  def shuffleConf(sfDir: String, cpus: Int): String =
    String.valueOf(shufflePartitions(sfDir, cpus))

  /** Shuffle width for STREAMING micro-batches (state-store count =
    * this width at checkpoint creation). Stateful streaming pays
    * per-partition fixed costs a batch exchange does not — one state
    * store per partition per stateful operator per micro-batch (a
    * delta file and its `.crc` sidecar created, written and renamed
    * into place, and up to 4 stores per partition for a stream-stream
    * join; through [[graft.streaming.StreamRun]]'s fork-free local
    * filesystem these are file-system calls only, where Hadoop's stock
    * one forked a `chmod` per file and two `readlink`s per rename, at
    * 3.5–4.5 ms a fork) — while the per-batch data
    * volume is a fraction of the corpus. The width therefore tracks
    * the batch width but is bounded by a small cap locally: an
    * AvailableNow run over harness-sized batches keeps per-task state
    * far under the execution-memory slice at width 8 (the q408 rule's
    * no-spill regime), so extra width is pure state-store overhead.
    * On a cluster, size it from state volume per the same 64 MB rule;
    * the checkpoint pins the width across restarts.
    */
  def streamShuffleConf(batchWidth: Int): String =
    String.valueOf(math.min(batchWidth, 8))

  /** Driver-side generated-code cache size. Spark's default (100
    * entries) is sized for a handful of long-running queries; a suite
    * of ~479 distinct plans × ~10 codegen units evicts everything
    * between passes, so even the WARM pass recompiles every stage
    * (janino compile measured 1-3 s for complex window/agg stages —
    * the round-11 in-suite-vs-isolated 2-4× inflation). Sized to hold
    * the whole suite's units; entries are compiled-class references,
    * cheap beside a 16 g driver heap. Same reasoning applies on a real
    * cluster driver running a many-query workload.
    */
  def codegenCacheConf: String = "8192"
}
