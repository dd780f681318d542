package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, SpecificInternalRow, UnsafeProjection, UnsafeRow}
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
  *     Both passes run on ONE `queryExecution.toRdd` lineage, so the
  *     second job skips the range shuffle's stages: the input
  *     shuffles once.
  *
  * mapPartitions is justified here (per SURVEY §2 preference order):
  * the offset handoff between range partitions is genuinely
  * per-partition imperative state that no built-in operator expresses
  * without re-introducing the single-task sort.
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
  * ([[GraftColumnBridge.nullsLast]]): the internal sort sits behind an
  * RDD boundary the NullOrderCensus cannot see, and under Spark's
  * nulls-FIRST default a NULL-keyed row would silently lead every
  * group's order (entering every prefix, taking rank 1) while the
  * DuckDB twins' nulls-last ordering puts it last. A caller that needs
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
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sortCols = groupCols.map(col) ++ orderCols.map(GraftColumnBridge.nullsLast)
    val parted = df
      .withColumn("__psum_v", value.cast(LongType))
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = parted.schema
    val vIdx = schema.fieldIndex("__psum_v")
    val keyExprs = groupCols.map { c =>
      val i = schema.fieldIndex(c)
      GraftColumnBridge.normalizeFloats(
        BoundReference(i, schema(i).dataType, schema(i).nullable))
    }

    // Catalyst InternalRows in both passes: `.rdd` would deserialize
    // every row per pass (and build a second QueryExecution, losing
    // the shared shuffle), `createDataFrame(RDD[Row])` re-serialize
    // the output. Sorter rows and the key projection's buffer are
    // reused between `next()` calls, so only a key held across rows
    // is copied. Ungrouped input projects the empty key every row.
    val rdd = parted.queryExecution.toRdd
    val sums = rdd.mapPartitionsWithIndex { (pid, it) =>
      val key = UnsafeProjection.create(keyExprs)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, UnsafeRow, Long)]
      var cur: UnsafeRow = null
      var s = 0L
      it.foreach { row =>
        val k = key(row)
        if (cur == null || k != cur) {
          if (cur != null) out += ((pid, cur, s))
          cur = k.copy()
          s = 0L
        }
        if (!row.isNullAt(vIdx)) s += row.getLong(vIdx)
      }
      if (cur != null) out += ((pid, cur, s))
      out.iterator
    }.collect()

    // (partition, group) -> (group prefix before the partition, group total)
    val starts: Map[(Int, UnsafeRow), (Long, Long)] =
      sums.groupBy(_._2).flatMap { case (k, ps) =>
        val sorted = ps.sortBy(_._1)
        val total = sorted.map(_._3).sum
        sorted.zip(sorted.scanLeft(0L)(_ + _._3)).map {
          case ((pid, _, _), off) => (pid, k) -> ((off, total))
        }
      }
    val bcStarts = spark.sparkContext.broadcast(starts)

    // Emits one reused JoinedRow(input, [prefix, total]) per row: the
    // downstream RDDScanExec projects each row before pulling the next
    // (the internalCreateDataFrame invariant).
    val scanned = rdd.mapPartitionsWithIndex { (pid, it) =>
      val key = UnsafeProjection.create(keyExprs)
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
        joined(row, tail): InternalRow
      }
    }
    val outSchema = schema
      .add(prefixName, LongType, nullable = false)
      .add(totalName, LongType, nullable = false)
    GraftColumnBridge.internalCreateDataFrame(spark, scanned, outSchema)
      .drop("__psum_v")
  }
}
