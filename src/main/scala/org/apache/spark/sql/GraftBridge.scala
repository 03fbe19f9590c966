package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` classic Column ↔ Expression converters.
  * Spark 4's `Column` is connect-agnostic (no public `.expr` / `new
  * Column(expr)`), so extension libraries provide this shim in the
  * `org.apache.spark.sql` package — the same pattern public Spark
  * connector/extension projects use.
  */
object GraftBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df`'s analyzed plan wrapped by `f`, as a DataFrame of its session;
    * nothing is optimized or planned. */
  def wrapPlan(df: DataFrame)(f: LogicalPlan => LogicalPlan): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, f(ds.logicalPlan))
  }

  /** Apply a SparkSessionExtensions' injected functions to a registry —
    * lets tests validate an extensions class without building a second
    * SparkSession in the same JVM (getOrCreate would return the existing
    * one and skip extension wiring).
    */
  def registerExtensionFunctions(
      ext: SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(registry)
}
