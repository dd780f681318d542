package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._

/** Distributed RANK + NTILE — the scale path for per-group ranking
  * (reference query 3A, `Database/TASK 2A SQL Analytical
  * Queries.sql:129-144`) promised by the doc note on
  * [[graft.queries.AnalyticalQueries.q3aRankNtile]].
  *
  * `Window.partitionBy(group).orderBy(order)` sorts each group inside
  * ONE task: at 100 TB a single nation's ~60 M customers funnel
  * through one thread. This operator is [[PrefixSum]]'s grouped
  * two-pass scan over a constant 1: the exclusive prefix is the row's
  * 0-based position in its group and the group total its size, so a
  * large group spreads over many range partitions.
  *
  * Contract: `orderCols` must be a TOTAL order within each group
  * (tie-broken, as the reference query itself does with `c_custkey` —
  * its stated reason is cross-engine determinism). Under a total order
  * RANK = ROW_NUMBER, so the assigned rank hash-matches the window
  * form exactly. NTILE uses the exact SQL split: with N rows and n
  * tiles the first N mod n tiles carry one extra row. NULL order
  * values rank LAST (see [[PrefixSum]]).
  */
object DistributedRank {

  /** Appends `rankName` (LONG — a global rank on this operator's own
    * scale path can exceed 2³¹, so Int would silently wrap; callers
    * with reference-mandated INT output cast at their boundary) and
    * `ntileName` (INT — bounded by the `ntiles` argument) to `df`,
    * ranking within `groupCols` by `orderCols`. `numPartitions` <= 0
    * uses the session's shuffle partitions.
    */
  def rankNtile(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      ntiles: Int,
      rankName: String,
      ntileName: String,
      numPartitions: Int = 0): DataFrame = {
    require(ntiles > 0, s"ntiles must be positive, got $ntiles")
    // the scan writes position into `rankName` and group size into
    // `ntileName`; both are then replaced in place
    val i = col(rankName)
    val n = col(ntileName)
    def div(a: Column, b: Column): Column = call_function("div", a, b)
    val q = div(n, lit(ntiles.toLong))
    val r = n % ntiles.toLong
    // The ELSE branch runs only when q >= 1, so neither `div` can
    // return NULL and the tile is known non-null.
    val tile = when(i < r * (q + 1), div(i, q + 1) + 1)
      .otherwise(div(i - r, q) + 1)
      .cast("int")
    PrefixSum.scan(df, groupCols, orderCols, lit(1L), rankName, ntileName, numPartitions)
      .withColumns(Map(
        rankName -> (i + 1),
        ntileName -> GraftColumnBridge.column(
          KnownNotNull(GraftColumnBridge.expression(tile)))))
  }
}
