package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning — tokenizer training.
  *
  * Classic BPE (Sennrich et al. 2016) over the corpus word-frequency
  * table: start from character symbols, repeatedly (1) count adjacent
  * symbol pairs corpus-wide, (2) take the most frequent pair, (3) merge
  * every occurrence. The learned merge list IS the tokenizer.
  *
  * Scale shape: the corpus touches the cluster exactly once, in the
  * caller's word-count reduce, which stays as parallel as the caller
  * planned it. Its (word, freq) rows then cross one shuffle into a
  * single task (`repartition(1)`, an exchange, never a narrow coalesce
  * that would pull the reduce into that task too), and that task learns
  * all merges with the incremental learner of Sennrich et al.: a
  * pair → (weight, words holding it) table and a ranked set of pairs,
  * where a merge recounts only the words that hold the merged pair.
  * Memory is bounded by the vocabulary (|V| rows, ~10⁵-10⁶ at web
  * scale, independent of corpus size), and the plan is lazy: building
  * it runs no job, and running it runs the word-count's jobs plus one
  * stage for the learner, whatever the round count (a loop of Spark
  * jobs would cost O(R) jobs and O(R·|V|) row rewrites).
  *
  * Semantics, those of the oracle's unrolled SQL rounds (OperatorsSpec
  * also checks them against a recount-every-round reference):
  *  - the starting symbols are the Spark-computed split of
  *    `"  " + regexp_replace(word, "(.)", "$1  ")` on two spaces, so
  *    regex `.` decides what a character is (code points; a line
  *    terminator stays glued to the symbol before it);
  *  - a pair's weight is the sum of `freq` over every adjacent
  *    occurrence, overlapping ones included (`aaa` counts (a,a) twice);
  *  - the round's pair is the first by weight descending, then lhs,
  *    then rhs, strings compared by UTF-8 bytes (Spark's string order,
  *    not `String.compareTo`'s UTF-16 order);
  *  - a merge applies greedily left to right without overlap
  *    (`aaaa` → `aa aa`, `aaa` → `aa a`), which is what the oracle's
  *    space-anchored `replace(" a  b ", " ab ")` on the two-space
  *    encoding does for symbols without spaces (`words` splits on
  *    spaces);
  *  - learning stops early when no pair is left.
  */
object Bpe {

  /** Learn `rounds` merges from a (word, freq) vocabulary.
    *
    * @param vocab columns (`word` string, `freq` long)
    * @return one row per merge: (round, lhs, rhs, merged, weight)
    */
  def learnMerges(spark: SparkSession, vocab: DataFrame, rounds: Int): DataFrame = {
    import spark.implicits._
    learned(vocab, rounds)(_.merges.iterator)
      .toDF("round", "lhs", "rhs", "merged", "weight")
  }

  /** The encode side: the vocabulary after `rounds` learned merges —
    * (word, freq, tokens array), the learner's final segmentation.
    * Applying a FIXED merge list to new text is [[applyMerges]].
    */
  def encodeVocab(spark: SparkSession, vocab: DataFrame, rounds: Int): DataFrame = {
    import spark.implicits._
    learned(vocab, rounds)(_.segmentation)
      .toDF("word", "freq", "tokens")
  }

  /** Encode arbitrary text with a FIXED learned merge list — the
    * production tokenize path: train once (learnMerges), ship the
    * R-row merge table everywhere, apply as a scan-parallel chain of R
    * replaces per word (map-only; the merge list is driver-held like a
    * broadcast model, bounded by vocabulary size not corpus size).
    *
    * Uses the two-space symbol encoding: `" l  r "` → `" lr "` with
    * `replace`'s continue-after-match scan is exactly greedy
    * left-to-right pair merging, because each match consumes only the
    * inner space of each separator (`a b a b` → `ab ab`).
    *
    * @param merges (lhs, rhs) pairs IN LEARNED ORDER
    * @return `df` with `outCol` = array of subword tokens per row
    */
  def applyMerges(df: DataFrame, textCol: String, merges: Seq[(String, String)],
      outCol: String = "tokens"): DataFrame = {
    val f = org.apache.spark.sql.functions
    // per word: "  c  h  a  r  s  " then the ordered replace chain,
    // all inside one in-row lambda — map-only, no explode/regroup
    def encodeWord(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val merged = merges.foldLeft(spaced(w)) { case (acc, (l, r)) =>
        f.replace(acc, lit(s" $l  $r "), lit(s" $l$r "))
      }
      split(trim(merged), "  ")
    }
    df.withColumn(outCol,
      f.flatten(f.transform(split(col(textCol), " "),
        (w: org.apache.spark.sql.Column) => encodeWord(w))))
  }

  /** `"  k  e  y  "`: each regex character of `w` followed by two spaces. */
  private def spaced(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("  "), regexp_replace(w, "(.)", "$1  "))

  /** The vocabulary, gathered through one exchange into one task that
    * runs the learner for `rounds` merges and emits `out` of it.
    */
  private def learned[T: Encoder](vocab: DataFrame, rounds: Int)(
      out: Learner => Iterator[T]): Dataset[T] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = vocab.sparkSession
    import spark.implicits._
    vocab.select(col("word"), col("freq").cast("long"),
        split(trim(spaced(col("word"))), "  ").as("symbols"))
      .repartition(1)
      .as[(String, Long, Array[String])]
      .mapPartitions { rows =>
        val learner = new Learner(rows.toArray)
        learner.learn(rounds)
        out(learner)
      }
  }

  /** An adjacent symbol pair; UTF-8 bytes kept for Spark's string order. */
  private final case class Pair(lhs: String, rhs: String) {
    val lhsBytes: Array[Byte] = lhs.getBytes(UTF_8)
    val rhsBytes: Array[Byte] = rhs.getBytes(UTF_8)
  }

  /** Rank order: weight descending, then lhs, then rhs by UTF-8 bytes. */
  private object Rank extends Ordering[(Long, Pair)] {
    def compare(a: (Long, Pair), b: (Long, Pair)): Int = {
      val byWeight = java.lang.Long.compare(b._1, a._1)
      if (byWeight != 0) byWeight
      else {
        val byLhs = java.util.Arrays.compareUnsigned(a._2.lhsBytes, b._2.lhsBytes)
        if (byLhs != 0) byLhs
        else java.util.Arrays.compareUnsigned(a._2.rhsBytes, b._2.rhsBytes)
      }
    }
  }

  /** A pair's corpus weight, its occurrence count, and every word that
    * holds it — plus, possibly, words a merge has since taken it from,
    * whose recount changes nothing.
    */
  private final class Stat {
    var weight = 0L
    var occurrences = 0L
    val holders = mutable.HashSet.empty[Int]
  }

  /** Sequential greedy BPE over an in-memory (word, freq, symbols)
    * vocabulary, updating pair counts incrementally.
    */
  private final class Learner(vocab: Array[(String, Long, Array[String])]) {
    private val segs = vocab.map(_._3)
    private val stats = mutable.HashMap.empty[Pair, Stat]
    private val ranked = mutable.TreeSet.empty[(Long, Pair)](Rank)
    // pairs whose weight changed since the last rerank, out of `ranked`
    private val touched = mutable.HashSet.empty[Pair]
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]

    def segmentation: Iterator[(String, Long, Array[String])] =
      vocab.indices.iterator.map(w => (vocab(w)._1, vocab(w)._2, segs(w)))

    def learn(rounds: Int): Unit = {
      segs.indices.foreach(w => if (segs(w) != null) count(w, 1))
      rerank()
      while (merges.size < rounds && ranked.nonEmpty) {
        val (weight, best) = ranked.head
        merges += ((merges.size + 1, best.lhs, best.rhs, best.lhs + best.rhs, weight))
        // a greedy merge leaves no (lhs, rhs) adjacency behind, so
        // `best` drops out of `stats` by the end of this loop
        stats(best).holders.toArray.foreach { w =>
          count(w, -1)
          segs(w) = merge(segs(w), best)
          count(w, 1)
        }
        rerank()
      }
    }

    /** Add (`sign` 1) or remove (-1) word `w`'s adjacencies. */
    private def count(w: Int, sign: Int): Unit = {
      val s = segs(w)
      var i = 1
      while (i < s.length) {
        val p = Pair(s(i - 1), s(i))
        val st = stats.getOrElseUpdate(p, new Stat)
        if (touched.add(p) && st.occurrences > 0) ranked -= ((st.weight, p))
        st.weight += sign * vocab(w)._2
        st.occurrences += sign
        if (sign > 0) st.holders += w
        else if (st.occurrences == 0) stats -= p
        i += 1
      }
    }

    private def rerank(): Unit = {
      touched.foreach(p => stats.get(p).foreach(st => ranked += ((st.weight, p))))
      touched.clear()
    }

    private def merge(s: Array[String], p: Pair): Array[String] = {
      val out = mutable.ArrayBuilder.make[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == p.lhs && s(i + 1) == p.rhs) {
          out += p.lhs + p.rhs
          i += 2
        } else {
          out += s(i)
          i += 1
        }
      }
      out.result()
    }
  }
}
