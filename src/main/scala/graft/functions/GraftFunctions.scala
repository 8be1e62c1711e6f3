package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType}

/** Scalar-function surface of the engine.
  *
  * Mirrors the reference's numeric verbs (log / logit — see
  * /root/reference/axolotls/numeric_column.py:112-125) plus the
  * determinism helpers the oracle-differential tests rely on.
  * Everything here composes stock Catalyst expressions, so it stays
  * inside whole-stage codegen.
  */
object GraftFunctions {

  /** Exact money type: aggregating DOUBLE columns directly is
    * order-dependent at scale (60k+ partial sums reassociate); casting to
    * decimal first makes every sum exact and partition-order-independent —
    * the difference between a plan that verifies at sf0.01 and one that
    * verifies on a 1000-executor shuffle.
    */
  val Money: DecimalType = DecimalType(18, 2)

  def dec2(c: Column): Column = c.cast(Money)

  /** Exact sum of a double column (decimal-cast), returned as double. */
  def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Wide decimal cast (15 fractional digits) for statistics over
    * non-money doubles: like [[dec2]], a sum over it is exact and does
    * not depend on partition order.
    */
  def dec(c: Column): Column = c.cast(DecimalType(38, 15))

  /** Decimal type of values already rounded to 9 places. */
  val D9: DecimalType = DecimalType(24, 9)

  /** All ordered 2-combinations of a SORTED array as
    * array<struct<p1,p2>> — the k=2 sibling of [[triples]], same
    * in-row discipline (quadratic only in the array size, no self-join
    * shuffle). Requires |arr| ≥ 2 for ascending sequence bounds.
    */
  def pairs(arr: Column): Column = {
    val el = (i: Column) => element_at(arr, i)
    flatten(
      transform(sequence(lit(1), size(arr) - 1), i =>
        transform(sequence(i + 1, size(arr)), j =>
          struct(el(i).as("p1"), el(j).as("p2")))))
  }

  /** All ordered 3-combinations of a SORTED array as
    * array<struct<p1,p2,p3>> — combination generation stays IN-ROW
    * (nested higher-order transforms over index sequences), so frequent-
    * itemset mining needs no k-way self-join shuffle; C(b,3) terms per
    * row, bounded by the basket size. Requires |arr| ≥ 3 (the sequence
    * bounds stay ascending exactly when that holds — Spark sequences
    * run BACKWARDS when start > stop).
    */
  def triples(arr: Column): Column = {
    val el = (i: Column) => element_at(arr, i)
    flatten(flatten(
      transform(sequence(lit(1), size(arr) - 2), i =>
        transform(sequence(i + 1, size(arr) - 1), j =>
          transform(sequence(j + 1, size(arr)), k =>
            struct(el(i).as("p1"), el(j).as("p2"), el(k).as("p3")))))))
  }

  /** logit(p) = ln(p / (1 - p)); reference numeric_column.py:118-125.
    * `eps` clamps p into [eps, 1-eps] like the reference's optional
    * clamping.
    */
  def logit(p: Column): Column = log(p / (lit(1.0) - p))

  def logit(p: Column, eps: Double): Column = {
    val clamped = least(greatest(p, lit(eps)), lit(1.0 - eps))
    log(clamped / (lit(1.0) - clamped))
  }

  /** Reference fill_null (numeric_column.py:56-73): coalesce to scalar. */
  def fillNull(c: Column, v: Any): Column = coalesce(c, lit(v))

  /** Unrolled dot product for a known dimension: a straight-line
    * left-associated sum of element_at products. Higher-order functions
    * (aggregate/zip_with) are CodegenFallback — interpreted per element —
    * while this form stays inside whole-stage codegen: ~20× faster in
    * the pairwise-similarity hot loops. Same accumulation order as the
    * sequential fold, so results are bit-identical.
    */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(j => element_at(a, j) * element_at(b, j)).reduceLeft(_ + _)

  /** Native codegen'd dot product ([[graft.functions.DotExpr]]): one
    * tight loop over the array data, same element-order accumulation as
    * [[dotUnrolled]] — the hot-path form for pairwise similarity.
    * Requires graft functions in the session (GraftExtensions).
    */
  def dotNative(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Native squared L2 norm via [[dotNative]]. */
  def normSqNative(a: Column): Column = call_function("graft_dot", a, a)

  /** Native codegen'd Jaro-Winkler similarity
    * ([[graft.functions.JaroWinklerExpr]]) — byte-level, standard
    * Winkler parameters, DuckDB-equivalent semantics.
    */
  def jaroWinklerNative(a: Column, b: Column): Column =
    call_function("graft_jw", a, b)
}
