package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.TextFunctions.words
import graft.metrics.QueryMetrics
import graft.sources.Tables

/** Learner scaling of BPE tokenizer training: for each scale-factor dir
  * and R ∈ {6, 64, 512}, learn R merges from the documents
  * word-frequency vocabulary (built as q153 builds it, word count
  * included) and print the wall time, the Spark jobs, stages and tasks
  * the run took, the merges learned (fewer than R once no pair is
  * left) and a digest of the ordered merge list, which two versions of
  * the learner must share. One untimed warm-up run per dir.
  *
  * Usage: runMain graft.tools.BpeBench <sfDir> [<sfDir> ...]
  */
object BpeBench {
  val Rounds: Seq[Int] = Seq(6, 64, 512)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BpeBench <sfDir> [<sfDir> ...]")
    val spark = GraftSession.local(GraftSession.cpus, args.head)
    val metrics = QueryMetrics.install(spark.sparkContext)
    val runs = for (dir <- args.toSeq; (rounds, pass) <- (Rounds.head +: Rounds).zipWithIndex) yield {
      val vocab = Tables.documents(spark, dir)
        .select(explode(words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val name = s"${new java.io.File(dir).getName} rounds=$rounds"
      metrics.label(name, pass)
      val t0 = System.nanoTime()
      val merges = graft.operators.Bpe.learnMerges(spark, vocab, rounds).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).sortBy(_._1).toSeq
      val wall = (System.nanoTime() - t0) / 1e9
      metrics.label(null, 0)
      (name, pass, wall, merges)
    }
    val records = metrics.records(runs.map { case (n, p, w, _) => (n, p, w) })
    // pass 0 is the warm-up
    for (((name, pass, wall, merges), r) <- runs.zip(records) if pass > 0)
      println(f"[bpebench] $name merges=${merges.size} digest=${merges.hashCode}%08x " +
        f"wall=$wall%.2fs jobs=${r.jobs} stages=${r.stages.size} tasks=${r.tasks}")
    spark.stop()
  }
}
