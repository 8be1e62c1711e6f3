package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition

import graft.operators.Kernels
import graft.sources.Tables

/** [[graft.operators.Kernels.fanOut]], the one repartition ahead of a CPU
  * kernel: width ceil(estimate / 64 KiB) clamped to [1, default
  * parallelism], decided from the plan estimate alone (no job), with
  * inputs of one task's worth or above 256 MB passed through.
  */
class KernelsSpec extends JobFence {

  private val sf = "/root/testdata/sf0.001"

  private def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The partition count `fanOut` asked for, or None for a pass-through. */
  private def asked(in: DataFrame, out: DataFrame): Option[Int] =
    if (out eq in) None
    else out.queryExecution.logical match {
      case Repartition(n, true, _) => Some(n)
      case other => fail(s"fanOut must pass through or repartition(n), got:\n$other")
    }

  test("an input under 64 KiB passes through: no Exchange") {
    val in = Tables.customer(spark, sf)
    assert(estimate(in) < (1 << 16), s"fixture estimate ${estimate(in)}")
    val out = Kernels.fanOut(in)
    assert(asked(in, out).isEmpty)
    out.collect()
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("a one-split parquet input above 64 KiB is repartitioned by bytes, clamped to the cores") {
    val in = Tables.embeddings(spark, sf)
    assert(in.rdd.getNumPartitions == 1)
    val est = estimate(in)
    assert(est > (1 << 16), s"fixture estimate $est")
    val cores = spark.sparkContext.defaultParallelism
    val want = ((est + 65535) / 65536).min(cores).toInt
    assert(want > 1, s"estimate $est on $cores cores")
    assert(asked(in, Kernels.fanOut(in)).contains(want))
    // a wide estimate is clamped to the cores, whatever the split count:
    // a split of a single-row-group file may read no rows
    val wide = spark.range(0, 1L << 20, 1, cores).toDF("id")
    assert(asked(wide, Kernels.fanOut(wide)).contains(cores))
  }

  test("an estimate above 256 MB passes through") {
    // 2^26 longs: a 512 MB estimate, never executed
    val in = spark.range(0, 1L << 26, 1, 1).toDF("id")
    assert(estimate(in) > (256L << 20))
    assert(asked(in, Kernels.fanOut(in)).isEmpty)
  }

  test("deciding runs no job") {
    val ins = Seq(Tables.customer(spark, sf), Tables.embeddings(spark, sf),
      Tables.documents(spark, sf).select("doc_id", "text"))
    val (outs, jobs, _) = run(ins.map(Kernels.fanOut))
    assert(jobs == 0, s"$jobs jobs ran while deciding")
    assert(outs.size == 3)
  }
}
