package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Spark surface, kept to the absolute minimum:
  * wrapping a custom Catalyst [[Expression]] into a user-facing [[Column]]
  * (the Spark 4.x `Column` carries a `ColumnNode`, not an `Expression`, so
  * third-party expressions need this one hop), registering SQL function
  * builders on an already-built session, Spark's own schema merge, and
  * the cache substitution a plan would see at execution.
  */
object GraftSql {
  /** Wrap a raw Catalyst expression as a Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column (classic sessions). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL-callable function builder on a live session, so
    * `expr("cosine_sim(a, b)")` and `spark.sql` can use custom expressions.
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Spark's parquet schema merge (`StructType.merge`): `right`'s new
    * fields append after `left`'s, and conflicting types fail as they do
    * under `mergeSchema`.
    */
  def mergeSchemas(left: StructType, right: StructType,
      caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)

  /** `plan` with the session's cached data in, memoized on no Dataset. */
  def withCachedData(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    spark.sharedState.cacheManager.useCachedData(plan)
}
