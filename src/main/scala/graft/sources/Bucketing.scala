package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-table materialization: the shuffle-elimination layout for
  * repeated large-to-large joins.
  *
  * At 100 TB the dominant cost of `lineitem ⋈ orders` is shuffling both
  * sides on the join key — every repetition of the join pays it again.
  * Writing both tables bucketed (and sorted) by the key into `numBuckets`
  * files per table makes the join key a *storage* property: Spark's scan
  * reports `HashPartitioning(key, numBuckets)` as its output
  * partitioning, the planner sees both sides already co-partitioned and
  * co-sorted, and SortMergeJoin runs with **zero Exchange and zero
  * Sort** — a pure per-bucket streaming merge. Pay the shuffle once at
  * layout time, amortize it over every subsequent join/aggregation on
  * the key (PlanQualitySpec pins the no-Exchange plan shape).
  *
  * The reference is an eager single-node engine with no layout concept
  * (/root/reference/axolotls/dataframe.py — in-memory columns); this is
  * the Spark-native answer to "how does the same join stay fast when the
  * table stops fitting in memory".
  */
object Bucketing {

  val Buckets = 8

  /** Table names are keyed by the scale-factor dir (sf0.01 →
    * `orders_b8_sf0_01_<h>`), so different-sf JVMs sharing the
    * warehouse path never clobber each other's layout, and a catalog
    * probe for THIS dir's table is meaningful after a context restart.
    * `<h>` is a short hash of the FULL canonical path — two dirs with
    * the same leaf name under different parents get distinct tables.
    */
  def ordersTable(dir: String): String = s"orders_b8_${suffix(dir)}"
  def lineitemTable(dir: String): String = s"lineitem_b8_${suffix(dir)}"
  private def suffix(dir: String): String = {
    val f = new java.io.File(dir)
    val h = Integer.toHexString(f.getCanonicalPath.hashCode & 0xffffff)
    f.getName.replaceAll("[^A-Za-z0-9]", "_") + "_" + h
  }

  /** The two planner flags the bucketed layout relies on, applied at
    * SESSION BUILD time (Bench/Verify/SparkSpec), not mutated here —
    * materializing a layout must not silently change planner behavior
    * for unrelated queries later in a foreign session.
    *
    * - sort-aware bucketed scans are behind a default-off flag since
    *   Spark 3.1 (the planner otherwise re-sorts pre-sorted buckets);
    *   safe for this writer because it guarantees exactly one sorted
    *   file per bucket (see the repartition note in `layout`)
    * - DisableUnnecessaryBucketedScan would turn the bucketed scan off
    *   for non-join queries, forfeiting bucket-filter pruning (point
    *   lookups reading 1/numBuckets of the files)
    *
    * Without these flags the bucketed queries stay CORRECT — the
    * planner just re-inserts a Sort / plain scan — so a session that
    * misses them degrades gracefully.
    */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")

  /** Source stamp each table was last built or registered from in this
    * JVM, so a repeated [[ensure]] costs a catalog probe and a stat.
    */
  @volatile private var known: Map[String, String] = Map.empty

  /** Materialize the bucketed orders/lineitem tables for `dir`,
    * bucketed+sorted by order key, unless they are already current.
    *
    * Each table's files sit at `<warehouse>/<table>`, with the source
    * file's (mtime, size) and the bucket count stamped next to them in
    * `<warehouse>/<table>.source`, written after the data. A fresh JVM
    * whose stamp matches re-registers the files in its (empty)
    * in-memory catalog instead of deleting and rewriting them, so two
    * JVMs at one SF (a Bench next to a Verify) never remove the files
    * the other is reading. A missing or stale stamp (a new source
    * file, a half-written layout) rebuilds the table.
    */
  def ensure(spark: SparkSession, dir: String): Unit = synchronized {
    layout(spark, ordersTable(dir), s"$dir/orders.parquet", "o_orderkey", Tables.orders(spark, dir))
    layout(spark, lineitemTable(dir), s"$dir/lineitem.parquet", "l_orderkey", Tables.lineitem(spark, dir))
  }

  private def layout(spark: SparkSession, table: String, source: String, key: String,
      df: => DataFrame): Unit = {
    val src = new java.io.File(source)
    val stamp = s"${src.lastModified} ${src.length} $Buckets"
    val registered = spark.catalog.tableExists(table)
    if (!registered || !known.get(table).contains(stamp)) {
      val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (loc, stampFile) = (new Path(wh, table), new Path(wh, s"$table.source"))
      val current = fs.exists(stampFile) && {
        val in = fs.open(stampFile)
        try new String(in.readAllBytes(), UTF_8) == stamp finally in.close()
      }
      if (!current) {
        // an external table: dropping it leaves the files, removed here
        if (registered) spark.sql(s"DROP TABLE $table")
        fs.delete(stampFile, false)
        fs.delete(loc, true)
        // repartition on the bucket key first: repartition's hash ==
        // the bucket-id hash, so every write task holds exactly one
        // bucket and emits ONE file per bucket — the single-file-per-
        // bucket layout is what lets the scan expose its sort order and
        // the join skip the Sort as well as the Exchange
        df.repartition(Buckets, col(key)).write
          .bucketBy(Buckets, key).sortBy(key)
          .mode("overwrite").format("parquet").option("path", loc.toString).saveAsTable(table)
        val out = fs.create(stampFile, true)
        try out.write(stamp.getBytes(UTF_8)) finally out.close()
      } else if (!registered) {
        spark.sql(s"CREATE TABLE $table (${df.schema.toDDL}) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS LOCATION '$loc'")
      }
      known += table -> stamp
    }
  }
}
