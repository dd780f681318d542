package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Narrow accessor for graft's `private[sql]` seams — the
  * Column⇄Expression bridge (VectorOps' native dot/norm2, the native
  * n-gram expression) and the live session's
  * FunctionRegistry (idempotent installs on sessions graft did not
  * build), the session SQLConf for the static codegen-cache size that
  * `GraftConf.tune` sets, the listener bus `GraftSession.measure`
  * drains, and the DataFrame of a graft logical plan ([[ofRows]]).
  * This is the standard extension-library technique; no Spark
  * internals are modified. Keep ALL private[sql]/private[spark] access
  * in this one file so the exposure stays auditable.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def functionRegistry(spark: SparkSession)
      : catalyst.analysis.FunctionRegistry =
    spark.sessionState.functionRegistry

  /** Set a STATIC SQL conf on a classic session's own SQLConf, which
    * `spark.conf.set` refuses for static keys. Whether the value has
    * any effect is the caller's concern: most static confs are read
    * once, when the component behind them first starts. A Spark
    * Connect session holds no local SQLConf and is left as it is.
    */
  def setStaticConf(spark: SparkSession, key: String, value: String): Unit =
    spark match {
      case s: classic.SparkSession => s.sessionState.conf.setConfString(key, value)
      case _ =>
    }

  /** Blocks until every listener event posted so far is delivered. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The DataFrame of an analyzable logical plan, the way the
    * Dataset API builds its own (`PrefixSum.scan` wraps its
    * `PrefixScan` node in one).
    */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst's NaN / -0.0 normalization of a (possibly nested)
    * floating value — the rewrite the optimizer applies to grouping
    * and join keys; identity for types without floats. Used for
    * `PrefixSum.scan`'s group keys.
    */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Pin a (possibly sort-)column's null ordering to NULLS LAST at
    * the ColumnNode level (`PrefixSum.scan`'s ordering contract —
    * NULL_CONTRACT.md). A Column's sort
    * state is an `internal.SortOrder` COLUMN NODE, not a catalyst
    * SortOrder: converting via [[expression]] and pattern-matching
    * catalyst yields a `ColumnNodeExpression` wrapper that matches
    * nothing, and re-sorting it NESTS sort orders (the evaluated
    * inner node then throws `Cannot evaluate expression: ... ASC
    * NULLS FIRST`). A non-sort column becomes ASC NULLS LAST.
    */
  def nullsLast(c: Column): Column = c.node match {
    case so: internal.SortOrder =>
      Column(so.copy(nullOrdering = internal.SortOrder.NullsLast))
    case other =>
      Column(internal.SortOrder(other, internal.SortOrder.Ascending,
        internal.SortOrder.NullsLast))
  }
}
