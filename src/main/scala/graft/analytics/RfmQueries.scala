package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}

import graft.Tables
import graft.operators.DistributedRank
import graft.queries.GraftQuery

/** RFM (recency / frequency / monetary) customer segmentation — the
  * canonical CRM mart a warehouse layers over the orders fact (the
  * reference's LTV ranking `Database/TASK 2A SQL Analytical
  * Queries.sql:229-248` stops at monetary; RFM completes the classic
  * triple and is the standard input to campaign targeting).
  *
  * Determinism discipline: monetary is integer CENTS
  * (⌊price·100+½⌋ BIGINT — the q26e device, identical IEEE double
  * math in both engines), recency is an integer day difference, and
  * every quartile is assigned under a TOTAL order (metric, custkey) —
  * so NTILE's exact SQL split is reproducible cross-engine and the
  * 64-cell rollup hashes bitwise.
  *
  * Scale shape: one orders-grain hash-agg collapses to customer grain,
  * then the three quartile assignments ride ONE grouped
  * [[graft.operators.DistributedRank]] scan over three rows per
  * customer (one per metric kind) — range-repartitioned rank, NO
  * single-task Window sort (a global `ntile() OVER (ORDER BY …)` is
  * the one-thread funnel the q3a scale note bans at 10⁹ customers) —
  * a customer-keyed pivot puts the quartiles back on one row, and
  * the final rollup is a 64-key hash-agg with map-side combine.
  */
object RfmQueries {

  /** Customer-grain RFM metrics from an orders frame: integer recency
    * days vs the corpus max date, order count, exact cents.
    *
    * Dirty-feed contract (r13 mixed-null fixture, SURVEY §8.11): an
    * undateable order (NULL o_orderdate) is excluded on BOTH engines —
    * unfiltered, a never-datable customer's NULL recency ranks
    * NULLS-FIRST in Spark's ascending sort and NULLS-LAST in DuckDB's,
    * shifting every quartile (the q15/q24c convention). Unpriced
    * orders stay (frequency counts them) with 0 cents, so monetary is
    * total and the quartile order never sees a NULL.
    */
  def rfmMetrics(orders: DataFrame): DataFrame = {
    import orders.sparkSession.implicits._
    val dated = orders.filter($"o_orderdate".isNotNull)
    val maxd = dated.agg(max($"o_orderdate").as("md"))
    dated.groupBy($"o_custkey")
      .agg(max($"o_orderdate").as("last_order"),
        count(lit(1)).as("frequency"),
        coalesce(sum(floor($"o_totalprice" * 100 + 0.5).cast(LongType)),
          lit(0L)).as("monetary_cents"))
      .crossJoin(broadcast(maxd))
      .withColumn("recency_days",
        datediff($"md".cast(DateType), $"last_order".cast(DateType))
          .cast(LongType))
      .select($"o_custkey", $"recency_days", $"frequency",
        $"monetary_cents")
  }

  /** Quartile scores via the distributed rank path: 1 = best (most
    * recent / most frequent / highest spend), custkey tie-break. The
    * three rankings are one grouped scan: each customer stacks one row
    * per metric kind, ranked within its kind by (v, custkey) where v
    * is recency as is and frequency and spend negated (both are
    * non-negative, so ascending -x is descending x), and the
    * quartiles pivot back to customer grain.
    */
  def rfmScores(metrics: DataFrame): DataFrame = {
    import metrics.sparkSession.implicits._
    val stacked = metrics.select($"*", inline(array(
      struct(lit("r").as("kind"), $"recency_days".as("v")),
      struct(lit("f").as("kind"), (-$"frequency").as("v")),
      struct(lit("m").as("kind"), (-$"monetary_cents").as("v")))))
    def quartile(kind: String) = max(when($"kind" === kind, $"q")).as(s"${kind}_q")
    DistributedRank.rankNtile(stacked, Seq("kind"),
        Seq($"v", $"o_custkey"), 4, "__rank", "q")
      .groupBy(metrics.columns.map(col).toIndexedSeq: _*)
      .agg(quartile("r"), quartile("f"), quartile("m"))
  }

  /** q28 — RFM segment rollup: quartile cell → customer count, total
    * orders, total cents.
    */
  val q28RfmSegments: GraftQuery = GraftQuery(
    "q28_rfm_segments",
    """WITH c AS (
      |  SELECT o_custkey,
      |         MAX(o_orderdate) AS last_order,
      |         COUNT(*) AS frequency,
      |         CAST(COALESCE(SUM(CAST(floor(o_totalprice*100 + 0.5)
      |              AS BIGINT)), 0) AS BIGINT) AS monetary_cents
      |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |mx AS (SELECT MAX(o_orderdate) AS md FROM orders
      |       WHERE o_orderdate IS NOT NULL),
      |s AS (
      |  SELECT o_custkey, frequency, monetary_cents,
      |         date_diff('day', CAST(c.last_order AS DATE),
      |                   CAST(mx.md AS DATE)) AS recency_days
      |  FROM c CROSS JOIN mx),
      |q AS (
      |  SELECT NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS r_q,
      |         NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
      |         NTILE(4) OVER (ORDER BY monetary_cents DESC, o_custkey)
      |           AS m_q,
      |         frequency, monetary_cents
      |  FROM s)
      |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
      |       CAST(m_q AS BIGINT) AS m_q,
      |       COUNT(*) AS n_customers,
      |       CAST(SUM(frequency) AS BIGINT) AS total_orders,
      |       CAST(SUM(monetary_cents) AS BIGINT) AS total_cents
      |FROM q GROUP BY 1, 2, 3""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    rfmScores(rfmMetrics(Tables(spark, dir).orders))
      .groupBy($"r_q".cast(LongType).as("r_q"),
        $"f_q".cast(LongType).as("f_q"),
        $"m_q".cast(LongType).as("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        sum($"frequency").as("total_orders"),
        sum($"monetary_cents").as("total_cents"))
  }

  /** q28b — Pareto / ABC classification of parts by revenue: rank
    * parts by exact revenue cents, classify by INCLUSIVE cumulative
    * share (A ≤ 80% of total, B ≤ 95%, C rest — pure integer
    * comparisons, cum·100 vs total·80), roll up per class. The
    * classic inventory-control mart (the 80/20 rule as a query).
    *
    * Scale shape: part-grain hash-agg collapses the fact, then the
    * global running total rides [[graft.operators.PrefixSum]] — the
    * range-repartitioned two-pass exclusive scan, NOT a
    * single-partition `SUM() OVER (ORDER BY …)` window (the q3b scale
    * note) — and the class rollup is a 3-key hash-agg. The DuckDB twin
    * IS the window form, so the hash match proves the distributed
    * scan reproduces it exactly.
    */
  val q28bAbcClassification: GraftQuery = GraftQuery(
    "q28b_abc_classification",
    """WITH p AS (
      |  SELECT l_partkey,
      |         CAST(COALESCE(SUM(CAST(floor(l_extendedprice*(1-l_discount)*100
      |                                      + 0.5) AS BIGINT)), 0)
      |              AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM p),
      |c AS (
      |  SELECT l_partkey, cents,
      |         CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cum
      |  FROM p),
      |cls AS (
      |  SELECT CASE WHEN cum * 100 <= tot.total * 80 THEN 'A'
      |              WHEN cum * 100 <= tot.total * 95 THEN 'B'
      |              ELSE 'C' END AS abc_class,
      |         cents, tot.total
      |  FROM c CROSS JOIN tot)
      |SELECT abc_class,
      |       COUNT(*) AS n_parts,
      |       CAST(SUM(cents) AS BIGINT) AS class_cents,
      |       (CAST(SUM(cents) AS BIGINT) * 10000) // MAX(total)
      |         AS share_bps
      |FROM cls GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // COALESCE to 0 on both engines: a part whose every price is NULL
    // (dirty feed) is zero revenue, not a NULL that crashes the scan
    // and classifies divergently across engines
    val p = Tables(spark, dir).lineitem
      .groupBy($"l_partkey")
      .agg(coalesce(sum(floor($"l_extendedprice" * (lit(1) - $"l_discount")
        * 100 + 0.5).cast(LongType)), lit(0L)).as("cents"))
    val tot = p.agg(sum($"cents").as("total"))
    val cum = graft.operators.PrefixSum.exclusivePrefixSum(
      p, Seq($"cents".desc, $"l_partkey".asc), $"cents", "cum_excl")
    cum.withColumn("cum", $"cum_excl" + $"cents")
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when($"cum" * 100 <= $"total" * 80, "A")
          .when($"cum" * 100 <= $"total" * 95, "B")
          .otherwise("C"))
      .groupBy($"abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum($"cents").as("class_cents"),
        // zero total revenue → share undefined → NULL, which is what
        // DuckDB's `//` already yields on a 0 divisor; ANSI Spark
        // would throw without the guard
        expr("CASE WHEN max(total) <> 0 THEN (sum(cents) * 10000) div max(total) END")
          .as("share_bps"))
  }

  val all: Seq[GraftQuery] = Seq(q28RfmSegments, q28bAbcClassification)
}
