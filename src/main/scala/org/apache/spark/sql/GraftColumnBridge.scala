package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Narrow accessor for graft's `private[sql]` seams — the
  * Column⇄Expression bridge (GeoRules' marker Column, the rewritten
  * predicate, VectorOps' native dot/norm2) and the live session's
  * FunctionRegistry (idempotent installs on sessions graft did not
  * build), the session SQLConf for the static codegen-cache size that
  * `GraftConf.tune` sets, and the listener bus `GraftSession.measure`
  * drains. This is the standard extension-library technique; no Spark
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

  /** Build a DataFrame from an RDD of catalyst [[InternalRow]]s
    * without the external-Row round trip. Its one caller is
    * `PrefixSum.scan`, the two-pass operator behind PrefixSum and
    * DistributedRank: `createDataFrame(RDD[Row])` pays a full
    * RowEncoder serialization per row, while the physical scan of this
    * form (`RDDScanExec`) applies one codegen'd UnsafeProjection —
    * rows may be reused [[JoinedRow]] wrappers consumed element-wise,
    * no copies needed.
    *
    * Invariant (callers must keep it): the RDD is consumed ONLY by
    * that per-element projection. The emitted rows alias buffers the
    * producer reuses (the scan's sorter rows and its one JoinedRow),
    * so any operation that holds a row past the next `next()` call —
    * persist/cache, zipPartitions, a debugging collect, any buffering
    * iterator placed between producer and scan — silently corrupts
    * the output. A caller that needs such an operation must `copy()`
    * each row first.
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      catalystRows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(catalystRows, schema)

  /** Catalyst's NaN / -0.0 normalization of a (possibly nested)
    * floating value — the rewrite the optimizer applies to grouping
    * and join keys; identity for types without floats. Used for
    * `PrefixSum.scan`'s group keys.
    */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Pin a (possibly sort-)column's null ordering to NULLS LAST at
    * the ColumnNode level (used by `PrefixSum.scan`'s RDD-boundary
    * ordering — NULL_CONTRACT.md). A Column's sort
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
