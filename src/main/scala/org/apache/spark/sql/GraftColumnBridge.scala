package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the supported
  * bridge (ExpressionUtils) is private[sql]. This shim re-exports the two
  * conversions for graft's native expressions — the same pattern used by
  * extension libraries built on the classic (non-Connect) API.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `bloom_filter_agg(child)` sized for (expectedItems, fpp) — the native
    * aggregate behind Spark's own runtime join filters (SPARK-32268).
    * `child` must be a LongType hash (pair with [[mightContain]] over the
    * same `xxhash64(...)` spelling). Returns one binary row; NULL when the
    * input had no rows.
    */
  def bloomFilterAgg(child: Column, expectedItems: Long, fpp: Double): Column = {
    val bits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(child),
      catalyst.expressions.Literal(expectedItems),
      catalyst.expressions.Literal(bits)).toAggregateExpression())
  }

  /** `might_contain(serializedBloom, value)` as a codegen'd native
    * predicate: `bloom` must be a constant (binary literal) per the
    * expression's input contract; `value` the same LongType hash used to
    * build the filter.
    */
  def mightContain(bloom: Array[Byte], value: Column): Column =
    column(catalyst.expressions.BloomFilterMightContain(
      catalyst.expressions.Literal(bloom, types.BinaryType),
      expression(value)))

  /** `collect_top_k(child, k)`: the `k` smallest values of `child` in
    * ascending order, one array per group (Spark's `CollectTopK` with
    * `reverse = true`). It plans as partial plus final ObjectHashAggregate
    * around one Exchange, every buffer bounded at `k` values, so a hot
    * group is cut to `k` rows on each map task before anything shuffles.
    * The order is Spark's order of `child`'s type: NULLs first, -0.0 equal
    * to 0.0, NaN last, strings by UTF-8 bytes. Make it total by ending a
    * struct `child` with a unique field, or ties fall by arrival order.
    */
  def collectTopK(child: Column, k: Int): Column = {
    require(k > 0, "k must be positive")
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
      expression(child), k, true, 0, 0).toAggregateExpression())
  }
}
