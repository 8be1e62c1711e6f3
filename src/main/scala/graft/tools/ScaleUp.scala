package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Deterministic scale-factor multiplier for the harness tables —
  * builds sfN = `factor` × sf0.1 for scale-curve measurement
  * (TESTDATA.md's generators are driver-owned, so larger factors are
  * derived from the largest provided sf instead of regenerated).
  *
  * Replication must not distort the WORKLOAD's collision structure —
  * naive row copies would make every document an exact 10-way
  * duplicate and every embedding a 10-way cosine-1 pair, turning the
  * dedup/ANN queries' candidate sets superlinear and poisoning the
  * scaling exponents. Each replica therefore gets a structure-
  * preserving isometry:
  *
  *  - relational keys shift by replica × (max+1) — per-replica join
  *    fan-outs identical to the source, cross-replica joins impossible;
  *    `nation`/`region` stay fixed (TPC-H dimension contract: their
  *    cardinality does not grow with sf);
  *  - document words get a per-replica suffix — a BIJECTION on the
  *    vocabulary, so within-replica shingle/Jaccard/MinHash structure
  *    is preserved exactly while cross-replica n-gram overlap is zero;
  *  - embedding coordinates sign-flip by a per-(replica, coordinate)
  *    hash — an isometry (dot(s∘a, s∘b) = dot(a, b)), so every
  *    within-replica cosine is preserved bit-for-bit while
  *    cross-replica cosines decorrelate to ~0;
  *  - events keep their timestamps (10× rows per window = higher event
  *    RATE, the realistic way volume grows) with shifted ids.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = GraftSession.local(GraftSession.cpus, src)
    new java.io.File(dst).mkdirs()

    def replicate(name: String, keyCols: Seq[String],
        transform: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      // one offset per key column, computed once from the source
      val offsets = keyCols.map { k =>
        k -> (base.agg(max(col(k))).head().getLong(0) + 1L)
      }
      val out = (0 until factor).map { i =>
        val shifted = offsets.foldLeft(base) { case (df, (k, off)) =>
          df.withColumn(k, col(k) + lit(i * off))
        }
        transform(shifted, i)
      }.reduce(_.unionByName(_))
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x$factor")
    }

    // fixed dimensions: cardinality independent of sf
    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"[scaleup] $n copied")
    }

    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // events: replicate the raw physical type as-is. Historical fixtures
    // were TIMESTAMP(NANOS) (needs the legacy conf to even load — read as
    // long, written back as long); current fixtures are timestamp[us]
    // (conf is a no-op, timestamp round-trips). Either way the scan-side
    // vintage is preserved and Tables.events adapts at read time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    replicate("events", Seq("event_id", "user_id"))
    // documents: per-replica vocabulary bijection (replica 0 = source)
    replicate("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("text",
        array_join(transform_(split(col("text"), " "),
          w => concat(w, lit(s"x${('a' + (i % 26)).toChar}$i"))), " ")))
    // embeddings: per-(replica, coordinate) sign flip (replica 0 = source)
    replicate("embeddings", Seq("vec_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("embedding",
        expr(s"transform(embedding, (x, j) -> " +
          s"CASE WHEN ((($i * 2654435761 + j * 40503) % 97) % 2) = 0 " +
          s"THEN x ELSE -x END)")))
    spark.stop()
  }

  // functions.transform clashes with DataFrame.transform under the
  // wildcard import; alias the column-function explicitly
  private def transform_(c: org.apache.spark.sql.Column,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.transform(c, f)
}
