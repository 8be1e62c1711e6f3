package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TopK

/** Native per-group top-k: row parity with the window formulation,
  * deterministic ranks under a total order, physical plan shape
  * (partial + final exec, survivor-only exchange, no WindowExec).
  */
class TopKSpec extends SparkSpec {

  private def sample = {
    import spark.implicits._
    // 8 groups × ~1250 rows over 7 partitions; v collides across ids so
    // the tie-break on id is exercised
    spark.range(10000)
      .select(
        (col("id") % 8).as("g"),
        (col("id") * 2654435761L % 1000).as("v"),
        col("id"))
      .repartition(7)
  }

  test("perGroup matches the window row_number formulation") {
    val df = sample
    val got = TopK.perGroup(df, Seq("g"), Seq(("v", true), ("id", false)), k = 5)
      .select("g", "rank", "id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val want = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("g", "rank", "id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want && got.size == 40)
  }

  test("k larger than the group emits the whole group, ranked") {
    import spark.implicits._
    val df = Seq((1L, 10.0), (1L, 30.0), (1L, 20.0), (2L, 5.0))
      .toDF("g", "v").repartition(3)
    val got = TopK.perGroup(df, Seq("g"), Seq(("v", true)), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    assert(got == Set((1L, 30.0, 1), (1L, 20.0, 2), (1L, 10.0, 3), (2L, 5.0, 1)))
  }

  test("empty group list = global top-k (AllTuples merge)") {
    val got = TopK.perGroup(sample, Nil, Seq(("v", true), ("id", false)), k = 3)
      .select("rank", "id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    val want = sample.orderBy(org.apache.spark.sql.functions.col("v").desc,
        org.apache.spark.sql.functions.col("id").asc)
      .limit(3).select("id").collect().map(_.getLong(0)).toSeq
    assert(got.map(_._2) == want && got.map(_._1) == Seq(1, 2, 3))
  }

  test("plan shape: partial + final TopKPerGroupExec, exchange between, no WindowExec") {
    val df = sample
    val q = TopK.perGroup(df, Seq("g"), Seq(("v", true), ("id", false)), k = 5)
    q.collect()
    // AQE prints the plan twice (final + initial) — count one copy
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("TopKPerGroup".r.findAllIn(plan).length == 2,
      s"expected partial+final exec nodes:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(g"),
      s"expected survivor shuffle on the group key:\n$plan")
    assert(!plan.contains("Window"), s"must not fall back to WindowExec:\n$plan")
  }

  test("a newSession plans TopKPerGroupExec from the injected strategy alone") {
    val fresh = spark.newSession()
    val q = TopK.perGroup(fresh.range(100).select((col("id") % 4).as("g"), col("id")),
      Seq("g"), Seq(("id", true)), k = 2)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("TopKPerGroup"), s"expected the native top-k exec:\n$plan")
    assert(rows.map(_.getLong(1)).toSet == Set(96L, 97L, 98L, 99L, 92L, 93L, 94L, 95L))
    assert(fresh.experimental.extraStrategies.isEmpty)
  }
}
