package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** logit(p) = ln(p / (1 − p)) as a native Catalyst expression with
  * whole-stage codegen — the reference's hot scalar op
  * (/root/reference/axolotls/numeric_column.py:118-125) as a
  * first-class engine function rather than a composed tree or (worse)
  * a black-box UDF. Emits NaN/±Inf exactly like torch (never NULL for
  * non-NULL input), matching the reference's semantics where composed
  * `log(p/(1-p))` would yield NULL for p outside (0,1).
  */
case class LogitExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_logit"

  override protected def nullSafeEval(input: Any): Any = {
    val p = input.asInstanceOf[Double]
    java.lang.Math.log(p / (1.0 - p))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.log($c / (1.0 - $c))")

  override protected def withNewChildInternal(newChild: Expression): LogitExpr =
    copy(child = newChild)
}

/** Dot product of two double-array columns as a native binary Catalyst
  * expression with whole-stage codegen: one tight loop over the Arrow/
  * Unsafe array data. The composed alternatives are either interpreted
  * (higher-order `aggregate`/`zip_with`) or a 64-node `element_at`
  * chain with per-access bounds checks (`GraftFunctions.dotUnrolled`).
  * Accumulates in element order (bit-identical to the sequential fold
  * the oracle uses). Assumes dense arrays (no null elements) — the
  * embedding-column contract; a null ARRAY yields NULL.
  */
case class DotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.ArrayType

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two ARRAY<DOUBLE> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
}

/** Typed Aggregator UDAF: numerically-stable geometric mean via
  * log-space partial sums — map-side combine + mergeable buffers, the
  * distributed-aggregation contract (SURVEY.md §2.2 UDAF row).
  */
object GeoMeanAgg extends Aggregator[Double, (Double, Long), Double] {
  override def zero: (Double, Long) = (0.0, 0L)
  override def reduce(b: (Double, Long), a: Double): (Double, Long) =
    (b._1 + java.lang.Math.log(a), b._2 + 1)
  override def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
    (x._1 + y._1, x._2 + y._2)
  override def finish(b: (Double, Long)): Double =
    if (b._2 == 0) Double.NaN else java.lang.Math.exp(b._1 / b._2)
  override def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
    org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong)
  override def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
}

/** Count-min sketch as a typed Aggregator — the mergeable-sketch
  * pattern that makes approximate frequency counting distributable:
  * every partition folds rows into a fixed d×w counter grid, grids
  * add elementwise in `merge` (commutative + associative, so shuffle
  * and combine order never matter), and the estimate for any key is
  * min over rows i of cell (i, h_i(key)) — never an underestimate,
  * over by at most εN with probability 1−δ (ε = e/w, δ = e^−d).
  * Fixed d=4, w=256 ⇒ a 8 KiB sketch regardless of corpus size.
  *
  * h_i(key) = the library's 60-bit md5 hash of "cm{i}|key" mod w —
  * deterministic and cross-engine, so an oracle can rebuild the
  * IDENTICAL sketch from exact counts in SQL and the estimates match
  * bit-for-bit (no probabilistic slack needed in the check).
  */
object CountMinAgg extends Aggregator[String, Array[Long], Seq[Long]] {
  val depth = 4
  val width = 256

  /** Cell row-offsets of `key`: h_i(key), the mdHash 60-bit parse
    * (first 15 md5 hex chars) mod width — bit-identical to
    * `TextFunctions.mdHash(lit("cm" + i), col)`.
    */
  def cells(key: String): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(depth) { i =>
      md.reset()
      val dg = md.digest(s"cm$i|$key".getBytes("UTF-8"))
      var h = 0L
      var k = 0
      while (k < 7) { h = (h << 8) | (dg(k) & 0xffL); k += 1 }
      h = (h << 4) | ((dg(7) & 0xf0L) >> 4)
      (h % width).toInt
    }
  }

  override def zero: Array[Long] = new Array[Long](depth * width)
  override def reduce(b: Array[Long], a: String): Array[Long] = {
    if (a != null) {
      val c = cells(a)
      var i = 0
      while (i < depth) { b(i * width + c(i)) += 1; i += 1 }
    }
    b
  }
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < x.length) { x(i) += y(i); i += 1 }
    x
  }
  override def finish(b: Array[Long]): Seq[Long] = b.toSeq
  override def bufferEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

/** Misra-Gries heavy-hitter summary as a typed Aggregator — the
  * mergeable frequent-items sketch: at most `k` counters regardless of
  * stream or vocabulary size. `reduce` increments the item's counter,
  * and when a new item would exceed capacity every counter drops by
  * the evicted minimum (the classic decrement step); `merge` sums two
  * summaries and subtracts the (k+1)-th largest count (Agarwal et al.,
  * "Mergeable Summaries", PODS'12) — so the undercount is bounded by
  * n/(k+1) under ANY partitioning or merge order, and every item with
  * true frequency > n/(k+1) is guaranteed to survive in the summary.
  *
  * The retained candidate SET is order-dependent (only the guarantee
  * is not), so q204 never emits it directly: candidates are exactly
  * re-counted in a second pass and thresholded at n/k > n/(k+1),
  * which makes the final output deterministic and exactly equal to
  * "all items with frequency > n/k" — an oracle a plain GROUP BY can
  * state. At 100 TB the sketch pass is the point: a bounded O(k)
  * summary per partition replaces the full-vocabulary shuffle.
  */
object MisraGriesAgg extends Aggregator[String, Map[String, Long], Seq[String]] {
  val k = 15

  private def trim(m: Map[String, Long]): Map[String, Long] =
    if (m.size <= k) m
    else {
      val d = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
      m.collect { case (w, c) if c > d => w -> (c - d) }
    }

  override def zero: Map[String, Long] = Map.empty
  override def reduce(b: Map[String, Long], a: String): Map[String, Long] =
    if (a == null) b else trim(b.updated(a, b.getOrElse(a, 0L) + 1L))
  override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
    trim(y.foldLeft(x) { case (m, (w, c)) => m.updated(w, m.getOrElse(w, 0L) + c) })
  override def finish(b: Map[String, Long]): Seq[String] = b.keys.toSeq.sorted
  override def bufferEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
}

/** Custom Generator (UDTF): explode a text column into its word
  * n-gram shingles — one output row per shingle, the engine-level
  * building block under the dedup operators (SURVEY.md §2.2 UDTF row).
  * CodegenFallback is standard for generators (they emit row sets).
  */
case class ExplodeShingles(child: Expression, n: Expression)
    extends org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  import org.apache.spark.unsafe.types.UTF8String

  override def elementSchema: StructType =
    StructType(StructField("shingle", StringType) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Nil
    else {
      val words = t.asInstanceOf[UTF8String].toString.split(" ")
      val k = n.eval(input).asInstanceOf[Int]
      val m = math.max(words.length - k + 1, 1)
      (0 until m).map(i =>
        InternalRow(UTF8String.fromString(words.slice(i, i + k).mkString(" "))))
    }
  }

  override def children: Seq[Expression] = Seq(child, n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExplodeShingles =
    copy(child = newChildren(0), n = newChildren(1))
}

/** Luhn checksum validation (ISO/IEC 7812) over a digit string, as a
  * native codegen'd Catalyst expression — the precision gate a PII
  * scanner runs after its regex pass: a 13–19-digit run is only a
  * plausible payment-card number if its Luhn check digit holds, which
  * cuts regex false positives by ~90% (only 1 in 10 random digit
  * strings passes). One tight byte loop per row, no allocation, stays
  * inside whole-stage codegen. Returns NULL for strings containing
  * any non-digit (not a candidate), matching the scan contract.
  */
case class LuhnCheckExpr(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{BooleanType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_luhn"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a STRING input, got ${child.dataType.simpleString}")

  // shared by eval and codegen: digits-only guard + checksum in one pass
  // over the UTF-8 bytes (digits are single-byte code points)
  @inline private def luhnOf(bytes: Array[Byte]): Any = {
    val n = bytes.length
    if (n == 0) return null
    var s = 0
    var p = 0 // position from the RIGHT (0 = check digit)
    var i = n - 1
    while (i >= 0) {
      val b = bytes(i)
      if (b < '0' || b > '9') return null
      val d = b - '0'
      val dd = if ((p & 1) == 1) { val t = d * 2; if (t > 9) t - 9 else t } else d
      s += dd
      p += 1
      i -= 1
    }
    s % 10 == 0
  }

  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else luhnOf(v.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val bytes = ctx.freshName("bytes")
    val s = ctx.freshName("s")
    val p = ctx.freshName("p")
    val i = ctx.freshName("i")
    val d = ctx.freshName("d")
    val bad = ctx.freshName("bad")
    val bv = ctx.freshName("bv")
    ev.copy(code =
      code"""
           |${childGen.code}
           |boolean ${ev.isNull} = true;
           |boolean ${ev.value} = false;
           |if (!${childGen.isNull}) {
           |  byte[] $bytes = ${childGen.value}.getBytes();
           |  if ($bytes.length > 0) {
           |    int $s = 0; int $p = 0; boolean $bad = false;
           |    for (int $i = $bytes.length - 1; $i >= 0; $i--) {
           |      byte $bv = $bytes[$i];
           |      if ($bv < '0' || $bv > '9') { $bad = true; break; }
           |      int $d = $bv - '0';
           |      if (($p & 1) == 1) { $d *= 2; if ($d > 9) $d -= 9; }
           |      $s += $d; $p++;
           |    }
           |    if (!$bad) { ${ev.isNull} = false; ${ev.value} = ($s % 10 == 0); }
           |  }
           |}
         """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LuhnCheckExpr =
    copy(child = newChild)
}

/** Hilbert-curve xy→d index over a 2^order × 2^order grid — the native
  * codegen'd form of [[graft.operators.Layout.hilbertValueUnrolled]]:
  * the pure column-algebra unroll TRIPLES per round (each round's x
  * references the previous round's x once and y twice), reaching ~3^8
  * nodes at order 8 — q434 measured 150 s/run at sf0.1 on the unrolled
  * form vs sub-second on this one tight loop. Same iterative transform
  * (Hamilton's form), bit-identical output (law-checked in
  * HilbertSpec).
  */
case class HilbertExpr(left: Expression, right: Expression, order: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.LongType

  require(order >= 1 && 2 * order <= 62, s"need 1 <= order <= 31, got $order")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two BIGINT inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    var x = l.asInstanceOf[Long]
    var y = r.asInstanceOf[Long]
    var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xc, yc) => {
      val x = ctx.freshName("hx")
      val y = ctx.freshName("hy")
      val d = ctx.freshName("hd")
      val s = ctx.freshName("hs")
      val rx = ctx.freshName("hrx")
      val ry = ctx.freshName("hry")
      val t = ctx.freshName("ht")
      s"""
         |long $x = $xc; long $y = $yc; long $d = 0L;
         |for (long $s = 1L << ${order - 1}; $s > 0; $s >>= 1) {
         |  long $rx = (($x & $s) > 0) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0) {
         |    if ($rx == 1) { $x = $s - 1 - $x; $y = $s - 1 - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertExpr =
    copy(left = newLeft, right = newRight)
}

/** Jaro-Winkler similarity as a native codegen'd expression — the
  * record-linkage scorer (q477) without a Scala UDF in the hot path.
  * Byte-level comparison (exact for ASCII keys, the linkage-column
  * contract), standard Winkler parameters: boost threshold 0.7
  * (strict >), prefix scale 0.1, max prefix 4. Semantics validated
  * against DuckDB's `jaro_winkler_similarity` on 8k random pairs to
  * 1e-12 (including the both-empty → 0.0 edge DuckDB uses).
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jw"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two STRING inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String].getBytes
    val b = r.asInstanceOf[UTF8String].getBytes
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    var win = math.max(la, lb) / 2 - 1
    if (win < 0) win = 0
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      var j = math.max(0, i - win)
      val hi = math.min(lb - 1, i + win)
      var done = false
      while (j <= hi && !done) {
        if (!bm(j) && a(i) == b(j)) { am(i) = true; bm(j) = true; m += 1; done = true }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var jj = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(jj)) jj += 1
        if (a(i) != b(jj)) t += 1
        jj += 1
      }
      i += 1
    }
    t /= 2
    var jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var l0 = 0
      val mx = math.min(4, math.min(la, lb))
      while (l0 < mx && a(l0) == b(l0)) l0 += 1
      jaro = jaro + 0.1 * l0 * (1.0 - jaro)
    }
    jaro
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = ctx.freshName("jaroWinkler")
    val fullFn = ctx.addNewFunction(fn,
      s"""
         |private double $fn(org.apache.spark.unsafe.types.UTF8String as,
         |    org.apache.spark.unsafe.types.UTF8String bs) {
         |  byte[] a = as.getBytes(); byte[] b = bs.getBytes();
         |  int la = a.length, lb = b.length;
         |  if (la == 0 || lb == 0) return 0.0;
         |  int win = java.lang.Math.max(la, lb) / 2 - 1; if (win < 0) win = 0;
         |  boolean[] am = new boolean[la]; boolean[] bm = new boolean[lb];
         |  int m = 0;
         |  for (int i = 0; i < la; i++) {
         |    int lo = i - win; if (lo < 0) lo = 0;
         |    int hi = i + win; if (hi > lb - 1) hi = lb - 1;
         |    for (int j = lo; j <= hi; j++) {
         |      if (!bm[j] && a[i] == b[j]) { am[i] = true; bm[j] = true; m++; break; }
         |    }
         |  }
         |  if (m == 0) return 0.0;
         |  int t = 0, j = 0;
         |  for (int i = 0; i < la; i++) {
         |    if (am[i]) { while (!bm[j]) j++; if (a[i] != b[j]) t++; j++; }
         |  }
         |  t /= 2;
         |  double jaro =
         |    ((double) m / la + (double) m / lb + (double) (m - t) / m) / 3.0;
         |  if (jaro > 0.7) {
         |    int l = 0; int mx = java.lang.Math.min(4, java.lang.Math.min(la, lb));
         |    while (l < mx && a[l] == b[l]) l++;
         |    jaro = jaro + 0.1 * l * (1.0 - jaro);
         |  }
         |  return jaro;
         |}
       """.stripMargin)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $fullFn($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpr =
    copy(left = newLeft, right = newRight)
}

/** graft's SQL functions, installed into every session by
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftRegistry {

  /** Every SQL function: name, implementing class, builder. The six
    * native expressions and the three Aggregator UDAFs, whose builder is
    * the `ScalaAggregator` that `spark.udf.register(name, udaf(agg))`
    * would make.
    */
  val expressions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_logit", classOf[LogitExpr], e => LogitExpr(Cast(e.head, DoubleType))),
    ("graft_dot", classOf[DotExpr], e => DotExpr(e.head, e(1))),
    ("graft_hilbert", classOf[HilbertExpr], e => HilbertExpr(
      Cast(e.head, LongType), Cast(e(1), LongType), e(2).eval().asInstanceOf[Int])),
    ("graft_luhn", classOf[LuhnCheckExpr], e => LuhnCheckExpr(e.head)),
    ("graft_jw", classOf[JaroWinklerExpr], e => JaroWinklerExpr(e.head, e(1))),
    ("explode_shingles", classOf[ExplodeShingles], e => ExplodeShingles(e.head, e(1))),
    aggregate("graft_geomean", GeoMeanAgg, Encoders.scalaDouble),
    aggregate("graft_cm_sketch", CountMinAgg, Encoders.STRING),
    aggregate("graft_mg", MisraGriesAgg, Encoders.STRING))

  private def aggregate[IN, BUF, OUT](name: String, agg: Aggregator[IN, BUF, OUT], in: Encoder[IN])
      : (String, Class[_], Seq[Expression] => Expression) =
    (name, agg.getClass, children => ScalaAggregator(children, agg, encoderFor(in),
      encoderFor(agg.bufferEncoder), aggregatorName = Some(name)))
}
