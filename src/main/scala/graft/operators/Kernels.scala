package graft.operators

import org.apache.spark.sql.DataFrame

/** Parallelism guard for CPU-heavy per-row kernels: the one place the
  * program asks for partitions ahead of a kernel.
  *
  * Scan parallelism is decided by file layout (file count, row-group
  * boundaries): a corpus that arrives as a few large single-row-group
  * files is scanned as a few tasks, and any expensive kernel fused
  * into that scan stage (MinHash signatures: |shingles|·numHashes
  * md5 + min loops per doc; bigram explodes, regex passes, per-char
  * histograms) inherits that — one straggler task doing all the CPU
  * work while the rest of the cluster idles. Every harness table is a
  * single parquet row group, so its scan is one task that reads rows
  * however many splits Spark plans for the file (sf0.1 lineitem plans
  * 3 splits; two of those tasks read nothing). The fix is the standard
  * one for compute-bound stages behind coarse inputs: one explicit
  * round-robin repartition of the (slim, pre-projected) kernel input,
  * decoupling kernel parallelism from input layout. Consumers of one
  * fanned-out frame share its exchange (ReusedExchange), so the scan
  * also runs once.
  *
  * The decision reads the plan estimate alone, before any job runs:
  *  - the width is ceil(estimated input bytes / [[BytesPerTask]]),
  *    clamped to [1, default parallelism]; a width of 1 adds nothing
  *    and passes the input through;
  *  - above [[MaxBytes]] (256 MB) the input passes through.
  * Flat cluster-width fan-out (rounds 3–5) made every kernel stage 32
  * tasks regardless of input size, and on the bench's ~7 MB corpora
  * the per-task scheduling overhead dominated the kernel itself
  * (measured: SimHash 0.58 s → 0.37 s, MinHash 1.28 s → 0.92 s at the
  * size-derived width; a single serial partition is in turn ~20%
  * worse than the sweet spot for MinHash).
  */
private[graft] object Kernels {

  /** Bytes of (pre-projected) kernel input per task. Catalyst's
    * estimate is COMPRESSED columnar bytes (file size scaled by column
    * pruning); text columns decompress ~10–30× and the kernels cost
    * ≳100 ns per raw byte, so 64 KiB compressed ≈ 0.1–1 s of compute
    * per task — well above per-task overhead (~10 ms), well below
    * straggler territory. Measured on the 254 KB-estimate bench corpus:
    * the resulting 4-way kernel beats both serial (1.3 s → 0.92 s
    * MinHash) and flat-32 (1.28 s) fan-out.
    */
  private val BytesPerTask = 1L << 16

  /** Column-pruned estimate past which an input is taken to be out of
    * the single-row-group regime: its scan already splits across row
    * groups or files, and a repartition would be a pure extra shuffle.
    */
  private val MaxBytes = BigInt(256L << 20)

  def fanOut(df: DataFrame): DataFrame = {
    // Catalyst's size estimate for the projected subtree (file size
    // scaled by column pruning); computing it runs no job
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = ((bytes + BytesPerTask - 1) / BytesPerTask)
      .min(df.sparkSession.sparkContext.defaultParallelism).toInt
    if (bytes > MaxBytes || target <= 1) df
    else df.repartition(target)
  }
}
