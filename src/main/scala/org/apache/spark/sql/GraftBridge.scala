package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surface: Spark 4 removed the public
  * `Column(expr)` constructor, so wrapping a custom Catalyst
  * [[Expression]] (graft's EWMA window function) as a user-facing
  * [[Column]] needs this one-hop shim in the sql package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a session-scoped function backed by a Catalyst expression
    * builder — the SQL-text resolution path, which applies the analyzer's
    * window/aggregate wrapping that a hand-built expression tree misses.
    * A name the session already has is left as it is, so callers may
    * register on every use.
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry =
      spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
