package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-placement shim: converting between user-facing Columns and
  * custom Catalyst Expressions requires sql-package-private API in
  * Spark 4 (Column wraps a ColumnNode; the bridge lives in
  * org.apache.spark.sql.classic.ExpressionUtils). This one-object bridge
  * in org.apache.spark.sql is the standard pattern open-source Spark
  * extension libraries use. Nothing else in the codebase lives outside
  * the graft package.
  */
object GraftSql {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Wait until the listener bus has delivered every posted event
    * (the bus is spark-package-private), so a listener's counts cover
    * the actions that already returned. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** DataFrame over a hand-built logical plan (Dataset.ofRows is
    * sql-package-private in Spark 4) — the entry point for custom
    * whole-operator nodes like graft.plans.TopKPerGroup. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Build the optimizer rules a SparkSessionExtensions registrar would
    * inject (buildOptimizerRules is sql-package-private) — lets the test
    * suite verify registration without constructing a second session. */
  def optimizerRules(spark: SparkSession,
      register: SparkSessionExtensions => Unit)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] = {
    val e = new SparkSessionExtensions
    register(e)
    e.buildOptimizerRules(spark.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession])
  }
}
