package graft

import java.math.BigDecimal
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import graft.operators.Materialize

/** [[Materialize.spillRelease]]: the spill's only Spark job is its write,
  * and the frame it returns reads the file as schema inference would.
  */
class MaterializeSpec extends SparkSpec {

  private val TagKey = "graft.test.tag"

  /** Tags of the jobs `body` submits, in order: a sentinel job tagged
    * after `body` marks the end, and the listener bus delivers job
    * starts in submission order, so once the sentinel is seen every
    * earlier job has been counted.
    */
  private def jobTags(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(TagKey, "body")
      body
      sc.setLocalProperty(TagKey, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("sentinel"), "sentinel job never reached the listener")
      seen.asScala.toSeq.takeWhile(_ != "sentinel").filter(_ == "body")
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  test("spillRelease submits only its write job and reads back the inferred schema") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("b", StringType))), nullable = false),
      StructField("arr", ArrayType(IntegerType, containsNull = false)),
      StructField("m", MapType(StringType, DoubleType, valueContainsNull = false)),
      StructField("dec", DecimalType(20, 6)),
      StructField("ts", TimestampType),
      StructField("txt", StringType, nullable = false)))
    val rows = Seq(
      Row(1L, Row(10, "x"), Seq(1, 2), Map("k" -> 1.5), new BigDecimal("12345.678901"),
        Timestamp.valueOf("2024-03-01 12:34:56.789"), "a"),
      Row(2L, Row(20, null), null, null, null, null, "b"))
    val df = spark.createDataFrame(rows.asJava, schema)
    for (frame <- Seq(df, df.filter(lit(false)))) {
      var back: org.apache.spark.sql.DataFrame = null
      val jobs = jobTags { back = Materialize.spillRelease(frame) }
      assert(jobs.size == 1, s"spillRelease submitted ${jobs.size} jobs; only the write may run")
      val dir = new Path(back.inputFiles.head).getParent.toString
      assert(back.schema == spark.read.parquet(dir).schema,
        s"read-back schema ${back.schema.treeString} vs inferred " +
          spark.read.parquet(dir).schema.treeString)
      assert(back.collect().toSeq.sortBy(_.getLong(0)) == frame.collect().toSeq.sortBy(_.getLong(0)))
    }
  }
}
