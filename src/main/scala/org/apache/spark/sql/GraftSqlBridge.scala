package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the classic Column ⇄ Expression converters, which are
  * `private[sql]` in Spark 4. The public path for custom expressions is
  * the function registry (`call_function`), and graft uses it everywhere
  * an expression's arguments are columns and literals — but an
  * expression that carries a RUNTIME OBJECT with no literal spelling
  * (e.g. [[graft.functions.BloomMightContain]]'s `Broadcast[BloomFilter]`
  * handle) cannot be built by a registry closure without leaking one
  * registry entry per filter. This is the same package-level bridge
  * every Spark extension library ships for that case; nothing here
  * touches non-public BEHAVIOR — it only converts between the two
  * public-facing types.
  *
  * The same seam turns a logical plan into a DataFrame: a session table
  * function's builder receives each `TABLE(x)` argument as a plan, and
  * the gate's table functions (`graft.sqlgate.FlinkSqlRewrite.register`)
  * run their DataFrame kernels over it.
  *
  * VERSION PIN: verified against Spark 4.1.2, where the converters live
  * at `org.apache.spark.sql.classic.ExpressionUtils` (moved there from
  * `Column.apply`/`Column.expr` in the 4.0 classic/connect split). This
  * is the one seam that can break silently on a Spark upgrade — the
  * round-trip is compile-time- and runtime-exercised by
  * GraftSqlBridgeSpec (plus BloomMightContainSpec's end-to-end use), so
  * a relocation fails the build, not production.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
