package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, JoinedRow, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Distributed grouped EXCLUSIVE prefix sum — the scale path for
  * running totals (sequence packing, byte offsets, cumulative quotas,
  * ROC curves) and, through [[DistributedRank]], for per-group
  * RANK/NTILE. The window form `sum(x) OVER (PARTITION BY g ORDER BY
  * k ROWS UNBOUNDED PRECEDING)` sorts each group inside ONE task (the
  * whole input when there is no `g`). The scan instead:
  *
  *  1. `repartitionByRange(group ++ order)` — the range sampler splits
  *     a large group across MANY partitions while keeping the global
  *     (group, order) sort; each task then sorts only its slice.
  *  2. Pass 1 (tiny): the sum of the value per (Spark partition,
  *     group) — groups are contiguous in a sorted partition, so this
  *     is a streaming sum whose output is O(partitions + groups),
  *     collected to the driver, turned into per-(partition, group)
  *     starting offsets and group totals, and broadcast back.
  *  3. Pass 2: each row gets its group's running prefix and total.
  *
  * Both passes live in one planned operator: the logical
  * [[PrefixScan]] node sits on the sorted frame and
  * [[PrefixScanStrategy]] (registered by [[graft.GraftExtensions]])
  * plans it as [[PrefixScanExec]], whose execution runs pass 1 and
  * returns pass 2 over ONE `child.execute()` lineage, so the second
  * pass skips the range shuffle's stages: the input shuffles once.
  * Building the frame runs no job, and `explain` shows the whole
  * plan, `Exchange rangepartitioning → Sort → PrefixScan`, down to
  * the source scan.
  *
  * A per-partition operator is justified here (per SURVEY §2
  * preference order): the offset handoff between range partitions is
  * genuinely per-partition imperative state that no built-in operator
  * expresses without re-introducing the single-task sort.
  *
  * `orderCols` must be a total order within each group (tie-broken)
  * for a deterministic result. A NULL value contributes 0 to the
  * running sum (the NULL-skipping SQL `SUM` applies to its window form
  * too); unlike SQL, an all-NULL prefix still reads 0, not NULL — the
  * exclusive scan's "first row gets 0" identity, which callers
  * composing an inclusive cum (`out + value`) inherit NULL-propagation
  * from naturally.
  *
  * Group keys compare as UnsafeRows of the group columns after
  * Catalyst's float normalization, so NaN and -0.0 keys group the way
  * `Window.partitionBy` groups them.
  *
  * NULL ordering is normalized to NULLS LAST in both directions
  * ([[GraftColumnBridge.nullsLast]]), the operator's ordering
  * contract: under Spark's nulls-FIRST default a NULL order value
  * would silently lead its group (entering every prefix, taking
  * rank 1) while the DuckDB twins' nulls-last ordering puts it last.
  * The group columns are pinned the same way, which changes no result
  * (a NULL group key is its own group wherever it sorts) and keeps
  * the operator's Sort off the null-order census. A caller that needs
  * nulls-first must pre-transform (e.g. coalesce to a sentinel).
  */
object PrefixSum {

  /** Appends `outName` (LONG): sum of `valueCol` over all rows
    * STRICTLY BEFORE this row in `orderCols` order (exclusive —
    * first row gets 0).
    */
  def exclusivePrefixSum(
      df: DataFrame,
      orderCols: Seq[Column],
      valueCol: Column,
      outName: String,
      numPartitions: Int = 0): DataFrame =
    scan(df, Nil, orderCols, valueCol, outName, "__psum_t", numPartitions)
      .drop("__psum_t")

  /** Appends `prefixName` (LONG, the exclusive prefix sum of `value`
    * within the row's `groupCols` group in `orderCols` order) and
    * `totalName` (LONG, the group's sum), both non-nullable.
    * `numPartitions` <= 0 uses the session's shuffle partitions.
    */
  private[operators] def scan(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      value: Column,
      prefixName: String,
      totalName: String,
      numPartitions: Int): DataFrame = {
    for (c <- Seq("__psum_v", prefixName, totalName))
      require(!df.columns.contains(c), s"input already contains column '$c'")
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val parts = if (numPartitions > 0) numPartitions else spark.sessionState.conf.numShufflePartitions
    val sortCols = (groupCols.map(col) ++ orderCols).map(GraftColumnBridge.nullsLast)
    val parted = df
      .withColumn("__psum_v", value.cast(LongType))
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val child = parted.queryExecution.analyzed
    def attr(c: String): Attribute = child.output(parted.schema.fieldIndex(c))
    val node = PrefixScan(groupCols.map(attr), attr("__psum_v"),
      AttributeReference(prefixName, LongType, nullable = false)(),
      AttributeReference(totalName, LongType, nullable = false)(), child)
    // the analyzer renews a Project's aliases when a frame meets itself
    // in a join, so the two new columns leave the scan through one
    GraftColumnBridge.ofRows(spark, node).drop("__psum_v")
      .withColumns(Map(prefixName -> col(prefixName), totalName -> col(totalName)))
  }
}

/** The scan's logical node: `child` (range-partitioned and sorted by
  * group ++ order) plus the row's exclusive `prefix` of `value` and
  * its group's `total`.
  */
case class PrefixScan(
    groupKeys: Seq[Attribute], value: Attribute,
    prefix: Attribute, total: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ prefix :+ total
  override def producedAttributes: AttributeSet = AttributeSet(Seq(prefix, total))
  override protected def withNewChildInternal(c: LogicalPlan): PrefixScan = copy(child = c)
}

/** Plans [[PrefixScan]]; the scan's only physical form. */
object PrefixScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = Seq(plan).collect {
    case PrefixScan(g, v, p, t, child) => PrefixScanExec(g, v, p, t, planLater(child))
  }
}

/** [[PrefixScan]]'s physical form: pass 1 runs inside its execution,
  * and pass 2 emits one UnsafeRow per input row.
  */
case class PrefixScanExec(
    groupKeys: Seq[Attribute], value: Attribute,
    prefix: Attribute, total: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ prefix :+ total
  override def producedAttributes: AttributeSet = AttributeSet(Seq(prefix, total))
  override protected def withNewChildInternal(c: SparkPlan): PrefixScanExec = copy(child = c)

  // Both passes read the child's reused sorter rows; only a key held
  // across rows is copied. Ungrouped input projects the empty key
  // every row.
  override protected def doExecute() = {
    val in = child.output
    val keyExprs = groupKeys.map(k =>
      GraftColumnBridge.normalizeFloats(BindReferences.bindReference(k, in)))
    val vIdx = in.indexWhere(_.exprId == value.exprId)
    val rows = child.execute()
    val sums = rows.mapPartitionsWithIndex { (pid, it) =>
      val key = UnsafeProjection.create(keyExprs)
      val groups = scala.collection.mutable.ArrayBuffer.empty[(UnsafeRow, Array[Long])]
      it.foreach { row =>
        val k = key(row)
        if (groups.isEmpty || k != groups.last._1) groups += ((k.copy(), Array(0L)))
        if (!row.isNullAt(vIdx)) groups.last._2(0) += row.getLong(vIdx)
      }
      groups.iterator.map { case (k, s) => (pid, k, s(0)) }
    }.collect()

    // (partition, group) -> (group prefix before the partition, group total)
    val starts = sums.groupBy(_._2).flatMap { case (k, ps) =>
      val sorted = ps.sortBy(_._1)
      val offs = sorted.scanLeft(0L)(_ + _._3)
      sorted.iterator.zip(offs).map { case ((pid, _, _), off) => (pid, k) -> ((off, offs.last)) }
    }
    val bcStarts = sparkContext.broadcast(starts)

    val out = output
    rows.mapPartitionsWithIndex { (pid, it) =>
      val key = UnsafeProjection.create(keyExprs)
      val emit = UnsafeProjection.create(out, out)
      val tail = new SpecificInternalRow(Seq(LongType, LongType))
      val joined = new JoinedRow
      var cur: UnsafeRow = null
      var run = 0L
      it.map { row =>
        val k = key(row)
        if (cur == null || k != cur) {
          cur = k.copy()
          val (off, total) = bcStarts.value((pid, cur))
          run = off
          tail.setLong(1, total)
        }
        tail.setLong(0, run)
        if (!row.isNullAt(vIdx)) run += row.getLong(vIdx)
        emit(joined(row, tail)): InternalRow
      }
    }
  }
}
