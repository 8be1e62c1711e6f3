package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Micro-benchmark for BPE merge-round batching: learn `rounds` merges
  * over the documents word-frequency vocabulary with the classic
  * one-merge-per-round driver loop vs the batched (bit-identical)
  * rounds, and print both wall times plus an equality check of the
  * learned merge lists.
  *
  * Usage: runMain graft.tools.BpeBench <sfDir> [rounds]
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rounds = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = GraftSession.local(GraftSession.cpus, sfDir)
    val vocab = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .cache()
    vocab.count()
    def time(maxBatch: Int): (Double, Seq[(Int, String, String)]) = {
      val t0 = System.nanoTime()
      val m = graft.operators.Bpe.learnMerges(spark, vocab, rounds, maxBatch)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      ((System.nanoTime() - t0) / 1e9, m)
    }
    time(maxBatch = 1) // JIT/codegen/page-cache warm-up, untimed
    val (tBatch, mBatch) = time(maxBatch = 16)
    val (tClassic, mClassic) = time(maxBatch = 1)
    println(f"[bpebench] rounds=$rounds classic=${tClassic}%.1fs batched=${tBatch}%.1fs " +
      f"speedup=${tClassic / tBatch}%.2fx identical=${mBatch == mClassic}")
    spark.stop()
  }
}
