package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering — the write-side half of scan performance.
  *
  * Multi-dimensional range queries (customer × time, user × item)
  * can't be served by sorting on ONE column: rows near in one key
  * scatter in the other, and min/max row-group pruning only helps the
  * sort key. Z-order (Morton) interleaving maps k keys onto one
  * curve that preserves locality in all of them at once — the
  * standard lakehouse `OPTIMIZE ZORDER BY` layout.
  */
object Layout {

  /** Morton code of two non-negative integer columns: bit b of `x`
    * lands at position 2b, bit b of `y` at 2b+1 (`bits` bits each,
    * so the result fits 2·bits ≤ 62 bits). Pure bit arithmetic —
    * codegen'd, scan-parallel, engine-reproducible.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    zValueN(Seq(x, y), bits)

  /** Morton code of n non-negative integer columns: bit b of column i
    * lands at position n·b + i (round-robin interleave, the standard
    * n-dimensional Z-curve). Real layout clustering wants 3–4 keys
    * (e.g. customer × item × day); n·bits must fit a signed long.
    * Pure bit arithmetic over the column algebra — codegen'd,
    * scan-parallel, engine-reproducible.
    */
  def zValueN(cols: Seq[Column], bits: Int = 16): Column = {
    val n = cols.size
    require(n >= 1, "zValueN needs at least one column")
    require(bits >= 1 && n * bits <= 62,
      s"need 1 <= bits and n*bits <= 62, got n=$n bits=$bits")
    val longs = cols.map(_.cast("long"))
    (0 until bits).flatMap { b =>
      longs.zipWithIndex.map { case (c, i) =>
        shiftleft(shiftrightunsigned(c, b).bitwiseAND(lit(1L)), n * b + i)
      }
    }.reduceLeft(_ + _)
  }

  /** Hilbert-curve index of two non-negative integer columns over a
    * 2^order × 2^order grid — the locality-preserving alternative to
    * [[zValue]]: the Hilbert curve has no Z-curve "jumps" (consecutive
    * indexes are always grid neighbors), so equal-size index ranges
    * have strictly tighter bounding boxes — smaller zonemaps per file
    * for the same file count (q434 measures the difference). Standard
    * xy→d transform (Hamilton's iterative form): `order` unrolled
    * rounds of quadrant selection + reflection/transposition, pure
    * integer column algebra — codegen'd, scan-parallel.
    *
    * [[hilbertSqlCtes]] generates the SAME unrolled rounds as SQL CTE
    * stages from this one loop's constants, so the engine and the
    * DuckDB oracle cannot drift (the house generated-ladder
    * convention); `HilbertSpec` additionally pins both against a plain
    * Scala reference and the neighbor-step property.
    */
  def hilbertValue(xCol: Column, yCol: Column, order: Int): Column = {
    require(order >= 1 && 2 * order <= 62, s"need 1 <= order <= 31, got $order")
    // native codegen'd loop (graft.functions.HilbertExpr) — the pure
    // column-algebra unroll triples per round (~3^order nodes: q434
    // measured 150 s/run at sf0.1 unrolled vs sub-second native);
    // needs a session with GraftExtensions
    call_function("graft_hilbert", xCol.cast("long"), yCol.cast("long"), lit(order))
  }

  /** The column-algebra unroll of [[hilbertValue]] — kept ONLY as the
    * independent implementation the HilbertSpec law checks the native
    * expression against (exponential tree: never use past order ~5).
    */
  private[graft] def hilbertValueUnrolled(xCol: Column, yCol: Column,
      order: Int): Column = {
    var x = xCol.cast("long")
    var y = yCol.cast("long")
    var d: Column = lit(0L)
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = when(x.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(y.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      d = d + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry)
      // if ry == 0: reflect when rx == 1 (x,y -> s-1-x, s-1-y), then
      // transpose (swap x,y); identity otherwise
      val nx = when(ry === 0, when(rx === 1, lit(s - 1) - y).otherwise(y)).otherwise(x)
      val ny = when(ry === 0, when(rx === 1, lit(s - 1) - x).otherwise(x)).otherwise(y)
      x = nx
      y = ny
      s >>= 1
    }
    d
  }

  /** The oracle mirror of [[hilbertValue]]: emits `order` chained CTE
    * stages `<prefix>0 .. <prefix><order>` computing the identical
    * rounds in SQL, with stage-numbered column names (x0/y0/d0 …) so
    * no lateral-alias ambiguity can bind a reference to the wrong
    * stage. The final stage exposes `keepCols` plus `hd` (the Hilbert
    * index). Generated from the same per-round constants as the Column
    * form.
    */
  def hilbertSqlCtes(src: String, xExpr: String, yExpr: String, order: Int,
      keepCols: Seq[String], prefix: String = "h"): String = {
    val keep = keepCols.mkString(", ")
    val head = s"${prefix}0 AS (SELECT $keep, CAST($xExpr AS BIGINT) AS x0, " +
      s"CAST($yExpr AS BIGINT) AS y0, CAST(0 AS BIGINT) AS d0 FROM $src)"
    val rounds = (0 until order).map { i =>
      val s = 1L << (order - 1 - i)
      val (xi, yi, di) = (s"x$i", s"y$i", s"d$i")
      val rx = s"(CASE WHEN ($xi & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN ($yi & $s) > 0 THEN 1 ELSE 0 END)"
      s"$prefix${i + 1} AS (SELECT $keep, " +
        s"CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1 THEN ${s - 1} - $yi ELSE $yi END ELSE $xi END AS x${i + 1}, " +
        s"CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1 THEN ${s - 1} - $xi ELSE $xi END ELSE $yi END AS y${i + 1}, " +
        s"$di + ${s * s} * xor(3 * $rx, $ry) AS d${i + 1} FROM $prefix$i)"
    }
    val last = s"$prefix$order"
    (Seq(head) ++ rounds).mkString(",\n") +
      s",\n${prefix}out AS (SELECT $keep, d$order AS hd FROM $last)"
  }

  /** Rewrite `df` clustered along the z-curve of `keyCols`:
    * range-partition on the z-value (equal-size output files via
    * sampled range bounds), sort within partitions, drop the helper
    * column. Writing the result gives every file a tight z-range —
    * i.e. a tight bounding box in ALL the keys — so min/max pruning
    * works for range predicates on ANY of them. One shuffle, no
    * driver state.
    */
  def clusterByZ(df: DataFrame, xCol: String, yCol: String,
      numPartitions: Int, bits: Int = 16): DataFrame =
    clusterByZN(df, Seq(xCol, yCol), numPartitions, bits)

  /** n-column variant of [[clusterByZ]]. */
  def clusterByZN(df: DataFrame, keyCols: Seq[String],
      numPartitions: Int, bits: Int = 16): DataFrame = {
    require(numPartitions >= 1, s"numPartitions must be >= 1, got $numPartitions")
    df.withColumn("__z", zValueN(keyCols.map(col), bits))
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Compact a small-file parquet directory to ~`targetBytes` files.
    *
    * Streaming sinks and per-batch upserts accrete files; at 100 TB a
    * million 1 MB files turn every scan into a listing+open storm and
    * starve the scheduler with micro-tasks. Standard maintenance pass:
    * size the output file count from the CURRENT on-disk bytes (a
    * FileSystem listing — no data read), rewrite once, swap. Returns
    * the new file count. Coalesce, not repartition: no shuffle — each
    * output task concatenates input splits.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long = 128L << 20): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compacting")
    spark.read.parquet(dir).coalesce(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // swap with a recovery copy at every step: original -> .old,
    // rewritten -> original, then drop .old. A crash mid-swap leaves
    // the data intact in at least one of the two side dirs (a real
    // lakehouse would commit via its table format's metadata
    // transaction instead).
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    fs.delete(old, true)
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compact: rename $path -> $old failed")
    if (!fs.rename(tmp, path)) {
      fs.rename(old, path) // restore the original before failing
      throw new java.io.IOException(s"compact: rename $tmp -> $path failed")
    }
    fs.delete(old, true)
    fs.listStatus(path).count(f => f.getPath.getName.endsWith(".parquet")).toLong
  }
}
