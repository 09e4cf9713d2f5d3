package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.graftx.{columnExpr, exprColumn}
import org.apache.spark.sql.{functions => F}

import graft.metrics.{BloomAgg, CardinalityAgg, DistributionAgg, FrequentItemsAgg, TopKAgg, VarOptAgg}

/** Column-level entry points for graft's metric aggregates — the analog of
  * `org.apache.spark.sql.functions` for this library.
  *
  * These return aggregate `Column`s; use them inside `df.agg(...)` /
  * `groupBy(...).agg(...)` like any built-in aggregate. Catalyst plans
  * partial (map-side) aggregation + a single exchange + final merge.
  */
package object functions {

  private def agg(a: AggregateFunction): Column = exprColumn(a.toAggregateExpression())

  /** KLL(k) distribution sketch + exact moments (n/mean/m2/stddev/min/max
    * + quantile grid + serialized sketch). */
  def distribution_agg(c: Column, k: Int = 1024,
      quantiles: Seq[Double] = DistributionAgg.DefaultQuantiles): Column =
    agg(DistributionAgg(columnExpr(c), k, quantiles))

  /** HLL cardinality estimate with lower/upper bounds + serialized sketch. */
  def cardinality_agg(c: Column, lgK: Int = 12, numStdDev: Int = 1): Column =
    agg(CardinalityAgg(columnExpr(c), lgK, numStdDev))

  /** Frequent-items sketch: top items with estimate/lower/upper + sketch. */
  def frequent_items_agg(c: Column, lgMaxK: Int = 7, limit: Int = 32): Column =
    agg(FrequentItemsAgg(columnExpr(c), lgMaxK, limit))

  /** Bounded-heap top-k: keeps at most k (score, id) pairs per buffer
    * (partial AND final), like Spark's TakeOrdered — O(k) memory per
    * group regardless of candidate count. `largest=false` keeps the k
    * smallest (first-k sampling). Output: array<struct<score,id>>
    * best-first. Payload must be long or string. */
  def top_k_agg(score: Column, id: Column, k: Int, largest: Boolean = true): Column =
    agg(TopKAgg(columnExpr(score.cast("double")), columnExpr(id), k, largest))

  /** VarOpt reservoir sample (≤ k items, uniform with unit weights) of a
    * string column; NULLs skipped. Randomized by nature — size is
    * deterministic, contents are a sample. */
  def var_opt_sample(c: Column, k: Int = 10): Column =
    agg(VarOptAgg(columnExpr(c.cast("string")), k))

  /** Bloom bitset build over per-row bit-position arrays (`array<int>`):
    * map-side partial bitsets, bitwise-OR merge, `array<bigint>` out.
    * NULL position arrays skipped. */
  def bloom_agg(positions: Column, numBits: Int): Column =
    agg(BloomAgg(columnExpr(positions), numBits))

  /** Per-range character counts of a string (+ trailing UNKNOWN slot) —
    * the map stage of the unicode_range MultiMetric. */
  def unicode_range_counts(c: Column, ranges: Seq[(Int, Int)],
      lowerCase: Boolean = true, normalize: Boolean = true): Column =
    UnicodeRanges.unicode_range_counts(c, ranges, lowerCase, normalize)

  /** Exact count of rows where `cond` holds (null-safe). */
  def count_where(cond: Column): Column = F.sum(F.when(cond, 1L).otherwise(0L))

  /** Exact decimal-accumulated sum of a double column, returned as double.
    * Used where bit-exact, order-independent results are required (oracle
    * parity, profile-merge equivalence): decimal addition is associative
    * and exact, so the result is independent of partitioning. */
  def exact_sum(c: Column, scale: Int = 6): Column =
    F.sum(c.cast(s"decimal(${27 + scale},$scale)")).cast("double")

  /** Exact decimal-accumulated sum of squares of a double column. */
  def exact_sum_sq(c: Column, scale: Int = 4): Column = {
    val d = c.cast(s"decimal(${14 + scale},$scale)")
    F.sum((d * d).cast("decimal(38,8)")).cast("double")
  }

  /** Random-hyperplane LSH band bucket keys for an embedding column
    * (array<double>); deterministic per seed. */
  def hyperplane_bands(vec: Column, bitsPerBand: Int, bands: Int, seed: Long = 42L): Column =
    exprColumn(HyperplaneBands(columnExpr(vec.cast("array<double>")), bitsPerBand, bands, seed))

  /** Cosine similarity between two Array[Float]/Array[Double] columns —
    * a native one-pass codegen expression (see [[CosineSimilarity]]; the
    * HOF formulation it replaces re-walked the arrays three times with an
    * interpreted lambda per element). */
  def cosine_similarity(a: Column, b: Column): Column =
    exprColumn(CosineSimilarity(columnExpr(a), columnExpr(b)))

  /** The HOF formulation [[cosine_similarity]] replaced — kept as the
    * semantics oracle for [[CosineSimilarity]] in unit tests (bit-identical
    * results required on both the float and double paths). */
  private[graft] def cosine_similarity_hof(a: Column, b: Column): Column = {
    val dot = F.aggregate(F.zip_with(a, b, (x, y) => x * y), F.lit(0.0d), (s, v) => s + v)
    val na = F.sqrt(F.aggregate(a, F.lit(0.0d), (s, v) => s + v * v))
    val nb = F.sqrt(F.aggregate(b, F.lit(0.0d), (s, v) => s + v * v))
    dot / (na * nb)
  }
}
