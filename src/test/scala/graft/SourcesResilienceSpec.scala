package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.sources.Tables

/** Resilience of the table layer against the failure modes that burned
  * round 5: a harness data regen changing a column's physical type
  * mid-JVM, a stale schema cache serving the old vintage, and one bad
  * table poisoning view registration for all the others.
  */
class SourcesResilienceSpec extends JobFence {

  private def freshDir(): String =
    Files.createTempDirectory("graft_resilience").toString

  private def copyFixtures(dst: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(s"$dst/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }

  test("events reader adapts to both ts vintages (timestamp[us] and nanos-long)") {
    // current harness vintage: timestamp[us] → TimestampType, values intact
    val now = Tables.events(spark, "/root/testdata/sf0.001")
    assert(now.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val n = now.count()
    assert(n > 0)
    // synthesize the historical nanos-long vintage: same rows, ts as
    // epoch-nanos LongType (what TIMESTAMP(NANOS) loads as under the
    // legacy conf) — reader must floor to micros and agree exactly
    val dir = freshDir()
    now.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val legacy = Tables.events(spark, dir)
    assert(legacy.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val mismatch = now.select("event_id", "ts")
      .except(legacy.select("event_id", "ts")).count()
    assert(mismatch == 0 && legacy.count() == n)
  }

  test("schema cache recovers when a table is rewritten with a new schema mid-session") {
    val dir = freshDir()
    copyFixtures(dir, Seq("region"))
    val first = Tables.table(spark, dir, "region")
    assert(first.schema.fieldNames.contains("r_regionkey"))
    first.count() // force a full read so the schema is cached warm
    // harness-regen simulation: same path, different schema AND mtime/size
    spark.range(5).select(col("id").as("r_regionkey"),
        concat(lit("R"), col("id")).as("r_name"), lit(1.5).as("r_extra"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val second = Tables.table(spark, dir, "region")
    assert(second.schema.fieldNames.contains("r_extra"),
      s"stale cached schema served after rewrite: ${second.schema.treeString}")
    assert(second.count() == 5)
  }

  test("a first read of each table runs no job and gets the schema Spark would infer") {
    val sf = "/root/testdata/sf0.001"
    for (t <- Tables.names) {
      val path = s"$sf/$t.parquet"
      Tables.invalidate(path)
      val (df, jobs, _) = run(if (t == "events") Tables.events(spark, sf) else Tables.table(spark, sf, t))
      assert(jobs == 0, s"first read of $t ran $jobs jobs")
      val inferred = spark.read.parquet(path)
      val expected = if (t == "events") Tables.normalizeEventTs(inferred) else inferred
      assert(df.schema == expected.schema, s"$t: ${df.schema.treeString} vs ${expected.schema.treeString}")
    }
  }

  test("rowCount reads parquet footers: equals count() for every fixture table") {
    val dir = freshDir()
    copyFixtures(dir, Tables.names)
    for (t <- Tables.names) {
      val df = if (t == "events") Tables.events(spark, dir) else Tables.table(spark, dir, t)
      assert(Tables.rowCount(spark, dir, t) == df.count(), t)
    }
  }

  test("rowCount is re-read when the file's size or mtime changes") {
    // one single-file parquet of `rows` copies of one constant: 200 and
    // 201 rows encode to files of the same size
    def constFile(rows: Int): java.nio.file.Path = {
      val out = freshDir() + "/t"
      spark.range(rows).select(lit(7).as("x")).coalesce(1).write.parquet(out)
      Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet")).findFirst().get
    }
    val dir = freshDir()
    val target = Paths.get(s"$dir/t.parquet")
    val (f200, f201) = (constFile(200), constFile(201))
    Files.copy(f200, target)
    assert(Tables.rowCount(spark, dir, "t") == 200)
    // size change: a distinct-valued column of 1000 rows; as written by
    // Spark (a directory of 2 part files) it counts the same
    spark.range(1000).repartition(2).write.mode("overwrite").parquet(s"$dir/big.parquet")
    assert(Tables.rowCount(spark, dir, "big") == 1000)
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(s"$dir/big")
    val big = Files.list(Paths.get(s"$dir/big")).filter(_.toString.endsWith(".parquet")).findFirst().get
    val mtime = Files.getLastModifiedTime(target)
    Files.copy(big, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, mtime)
    assert(Tables.rowCount(spark, dir, "t") == 1000)
    // mtime change only: same size, different footer
    assert(Files.size(f200) == Files.size(f201), "fixture files differ in size")
    Files.copy(f200, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(1000000L))
    assert(Tables.rowCount(spark, dir, "t") == 200)
    Files.copy(f201, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(2000000L))
    assert(Tables.rowCount(spark, dir, "t") == 201)
  }

  test("registerAll isolates a poisoned table: other views stay queryable") {
    val dir = freshDir()
    copyFixtures(dir, Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings"))
    // a deliberately corrupt events file (not parquet at all)
    Files.writeString(Paths.get(s"$dir/events.parquet"), "this is not parquet")
    val s2 = spark.newSession()
    Tables.registerAll(s2, dir) // must not throw
    assert(s2.sql("SELECT count(*) FROM lineitem").head().getLong(0) > 0)
    assert(s2.sql(
      "SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey")
      .head().getLong(0) > 0)
  }

  test("data-contract canary reports OK for harness fixtures and FAIL for a broken table") {
    val okLines = graft.sources.DataContract.report(spark, "/root/testdata/sf0.001")
    assert(okLines.size == Tables.names.size)
    assert(okLines.forall(_.startsWith("OK")), okLines.mkString("\n"))
    val dir = freshDir()
    copyFixtures(dir, Tables.names.filterNot(_ == "events"))
    Files.writeString(Paths.get(s"$dir/events.parquet"), "corrupt")
    val lines = graft.sources.DataContract.report(spark, dir)
    assert(lines.count(_.startsWith("FAIL")) == 1)
    assert(lines.find(_.startsWith("FAIL")).get.contains("events"))
  }

  test("data-contract canary catches value-level corruption: null text, ragged embeddings") {
    import spark.implicits._
    // right SCHEMA, wrong VALUES — the class of regen breakage the type
    // check alone would wave through
    val dir = freshDir()
    copyFixtures(dir, Tables.names.filterNot(n => n == "documents" || n == "embeddings"))
    Seq((1L, "ok text", "en", "web", 7L), (2L, null.asInstanceOf[String], "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val lines = graft.sources.DataContract.report(spark, dir)
    val docLine = lines.find(_.contains("documents")).get
    assert(docLine.startsWith("FAIL") && docLine.contains("null/empty"), docLine)
    val embLine = lines.find(_.contains("embeddings")).get
    assert(embLine.startsWith("FAIL") && embLine.contains("ragged"), embLine)
  }

  test("Bucketing.ensure re-registers current bucketed tables instead of rewriting them") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.TableIdentifier
    import graft.sources.Bucketing
    val dir = freshDir()
    copyFixtures(dir, Seq("orders", "lineitem"))
    val tables = Seq(Bucketing.ordersTable(dir), Bucketing.lineitemTable(dir))
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    def files(t: String): Map[String, Long] =
      Files.list(Paths.get(wh, t)).iterator().asScala
        .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    try {
      Bucketing.ensure(spark, dir)
      val first = tables.map(files)
      assert(first.forall(_.nonEmpty))
      // a fresh JVM: its in-memory catalog starts without the tables
      // (they are external, so dropping them leaves their files)
      tables.foreach(t => spark.sql(s"DROP TABLE $t"))
      Bucketing.ensure(spark, dir)
      Bucketing.ensure(spark, dir)
      assert(tables.map(files) == first, "a second ensure rewrote current tables")
      for (t <- tables) {
        val spec = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).bucketSpec
        assert(spec.exists(_.numBuckets == Bucketing.Buckets), s"$t: $spec")
      }
      assert(spark.table(tables.head).count() == Tables.orders(spark, dir).count())
      // a new orders source file rebuilds that table only
      val src = Paths.get(s"$dir/orders.parquet")
      Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(src).toMillis + 10000))
      Bucketing.ensure(spark, dir)
      assert(files(tables.head) != first.head && files(tables(1)) == first(1))
      assert(spark.table(tables.head).count() == Tables.orders(spark, dir).count())
    } finally tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      for (p <- Seq(t, s"$t.source", s".$t.source.crc"))
        org.apache.commons.io.FileUtils.deleteQuietly(Paths.get(wh, p).toFile)
    }
  }
}
