package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions._

/** The reference's flagship Criteo/DLRM dense-feature pipeline
  * (/root/reference/axolotls/demo/criteo.py:4-51) on the literal
  * FIXTURES.md A1 frame: fill_null(0) → (x+3) → ln, and
  * logit(1/(x+3)), including the nested-struct broadcast variant
  * (criteo.py:38-39) and reference null semantics.
  */
class CriteoPipelineSpec extends SparkSpec {
  import java.lang.{Long => JLong}

  private def denseFrame = {
    val schema = StructType(Seq(
      StructField("dense1", LongType, nullable = true),
      StructField("dense2", LongType, nullable = true),
      StructField("dense3", LongType, nullable = true)))
    val rows = Seq[(JLong, JLong, JLong)](
      (JLong.valueOf(1382L), null, JLong.valueOf(2L)),
      (JLong.valueOf(2L), JLong.valueOf(0L), JLong.valueOf(44L)),
      (JLong.valueOf(2L), JLong.valueOf(0L), JLong.valueOf(1L)),
      (null, JLong.valueOf(893L), null),
      (JLong.valueOf(3L), JLong.valueOf(-1L), null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3))), schema)
  }

  test("fill_null -> +3 -> log matches hand-computed reference output") {
    val out = denseFrame
      .select((0 to 2).map(i =>
        log(fillNull(col(s"dense${i + 1}"), 0L).cast(DoubleType) + lit(3.0)).as(s"d${i + 1}")): _*)
      .collect()
    // reference demo/criteo.py:34-36 applies ln(x+3) after fill_null(0)
    assert(math.abs(out(0).getDouble(0) - math.log(1385.0)) < 1e-12)
    assert(math.abs(out(0).getDouble(1) - math.log(3.0)) < 1e-12)   // null -> 0 -> ln 3
    assert(math.abs(out(3).getDouble(0) - math.log(3.0)) < 1e-12)
    assert(math.abs(out(4).getDouble(1) - math.log(2.0)) < 1e-12)   // -1 -> ln 2
  }

  test("nested struct broadcast: same op applied through a struct column") {
    // criteo.py:24-25,38-39 — a struct copy of the frame, op broadcast to fields
    val withGrp = denseFrame.withColumn("dense_grp",
      struct(col("dense1"), col("dense2"), col("dense3")))
    val out = withGrp.select(
        log(fillNull(col("dense_grp.dense2"), 0L).cast(DoubleType) + lit(3.0)).as("g2"))
      .collect()
    assert(math.abs(out(0).getDouble(0) - math.log(3.0)) < 1e-12)
    assert(math.abs(out(3).getDouble(0) - math.log(896.0)) < 1e-12)
  }

  test("struct-wide broadcast verbs: addAll/logAll recurse into nested dense_grp") {
    import graft.ops._
    // criteo.py:24-25 nests a clone of the frame as dense_grp;
    // struct_column.py:88-105 broadcasts +scalar / log() over every
    // field — addAll/logAll reproduce that incl. the nested struct
    val withGrp = denseFrame
      .fillNullAll(0)
      .withColumn("dense_grp", struct(col("dense1"), col("dense2"), col("dense3")))
    val out = withGrp.addAll(3.0).logAll()
      .select(col("dense1"), col("dense_grp.dense2").as("g2"))
      .collect()
    assert(math.abs(out(0).getDouble(0) - math.log(1385.0)) < 1e-12)
    assert(math.abs(out(0).getDouble(1) - math.log(3.0)) < 1e-12)  // null->0->+3->ln
    assert(math.abs(out(3).getDouble(1) - math.log(896.0)) < 1e-12)
    // null struct stays null through the broadcast
    val nullStruct = denseFrame
      .withColumn("g", when(col("dense1").isNull,
        lit(null).cast("struct<a:double>")).otherwise(struct(col("dense1").cast("double").as("a"))))
      .addAll(1.0, Seq("g"))
      .select("g").collect()
    assert(nullStruct(3).isNullAt(0) && !nullStruct(0).isNullAt(0))
  }

  test("logit(1/(x+3)) chain incl. native expression parity") {
    val out = denseFrame
      .select(
        logit(lit(1.0) / (fillNull(col("dense3"), 0L).cast(DoubleType) + lit(3.0))).as("composed"),
        expr("graft_logit(1.0 / (cast(coalesce(dense3, 0) as double) + 3.0))").as("native"))
      .collect()
    out.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"composed=${r.getDouble(0)} native=${r.getDouble(1)}")
    }
    // row 0: dense3=2 -> p=0.2 -> ln(0.25)
    assert(math.abs(out(0).getDouble(1) - math.log(0.25)) < 1e-12)
  }

  test("null propagation law: NULL + x = NULL (presence-intersection)") {
    // reference numeric_column.py:161-168: binary-op null mask = intersection
    val out = denseFrame.select((col("dense1") + col("dense2")).as("s")).collect()
    assert(out(0).isNullAt(0))  // 1382 + NULL
    assert(!out(1).isNullAt(0) && out(1).getLong(0) == 2L)
    assert(out(3).isNullAt(0))  // NULL + 893
  }
}
