package graft

import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DistributedRank, PrefixScanStrategy}

class DistributedRankSpec extends SparkTestBase {

  // Skewed fixture: one hot group with 1000 rows, two small groups.
  // Values are shuffled deterministically so range sampling sees an
  // unsorted input, as it would in production. The alternative group
  // keys cycle NaN, -0.0, 0.0 and 1.0, bare (`d`) and nested in an
  // array (`a`) and a struct (`s`).
  private lazy val skewed = {
    import spark.implicits._
    val rows =
      (0 until 1000).map(i => ("hot", (i * 7919) % 1000, s"r$i")) ++
        (0 until 5).map(i => ("cold_a", i, s"a$i")) ++
        (0 until 3).map(i => ("cold_b", i, s"b$i"))
    val ds = Seq(Double.NaN, -0.0, 0.0, 1.0)
    rows.zipWithIndex.map { case ((g, score, id), i) =>
      val d = ds(i % 4)
      (g, score, id, d, Seq(d, (i % 2).toDouble), (d, g))
    }.toDF("grp", "score", "id", "d", "a", "s")
  }

  /** Group keys group the way `Window.partitionBy` groups them: NaN
    * with NaN, -0.0 with 0.0 (Catalyst's float normalization), arrays
    * and structs by value — floats nested inside them included.
    */
  test("rank/ntile match the window form on a skewed fixture") {
    import spark.implicits._
    for (g <- Seq("grp", "d", "a", "s")) {
      val w = Window.partitionBy(col(g)).orderBy($"score".desc, $"id")
      val expected = skewed
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("band", ntile(7).over(w))
      val got = DistributedRank.rankNtile(
        skewed, Seq(g), Seq($"score".desc, $"id"),
        ntiles = 7, rankName = "rnk", ntileName = "band",
        numPartitions = 8)
      assert(got.count() == expected.count(), s"group key $g")
      assert(expected.exceptAll(got).count() == 0 &&
        got.exceptAll(expected).count() == 0, s"group key $g")
    }
  }

  /** The NULLS LAST normalization (`GraftColumnBridge.nullsLast`,
    * applied inside `PrefixSum.scan`) is the operator's ordering
    * contract: whatever order the caller passes, it pins DuckDB's
    * default — a nullable ASC order value ranks LAST, not Spark's
    * default FIRST. Mutation m52 flips the pin → red.
    */
  test("a NULL ASC order value ranks LAST (DuckDB default), not first") {
    import spark.implicits._
    val df = Seq(
      (10L, Option(3L)), (11L, Option.empty[Long]),
      (12L, Option(1L)), (13L, Option(2L)))
      .toDF("id", "v")
    val got = DistributedRank.rankNtile(
      df, Seq.empty, Seq($"v".asc, $"id".asc),
      ntiles = 2, rankName = "rnk", ntileName = "nt", numPartitions = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(12L -> 1L, 13L -> 2L, 10L -> 3L, 11L -> 4L),
      s"got $got — the NULL row must rank LAST under asc " +
        "(nulls-first would shift every real row's rank)")
  }

  test("a hot group spans more than one task") {
    import spark.implicits._
    // Re-derive the operator's partitioning and assert the range
    // sampler actually splits the 1000-row group across partitions —
    // the whole point of the scale path vs. the window's 1-task sort.
    val spread = skewed
      .repartitionByRange(8, $"grp", $"score".desc, $"id")
      .select($"grp", spark_partition_id().as("pid"))
      .groupBy($"grp").agg(countDistinct($"pid").as("tasks"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spread("hot") > 1, s"hot group used ${spread("hot")} task(s)")
  }

  test("ntile split is exact: first (N mod n) tiles get the extra row") {
    import spark.implicits._
    // 10 rows into 3 tiles -> sizes 4,3,3 (SQL NTILE semantics)
    val df = (0 until 10).map(i => ("g", i)).toDF("grp", "v")
    val got = DistributedRank.rankNtile(
      df, Seq("grp"), Seq($"v"), ntiles = 3,
      rankName = "rnk", ntileName = "band", numPartitions = 4)
    val sizes = got.groupBy($"band").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1 -> 4L, 2 -> 3L, 3 -> 3L))
  }

  /** The scan is a planned operator: building a ranked frame runs no
    * job (both passes run inside the action), and its plan shows the
    * PrefixScan node above the source table's scan.
    */
  test("a ranked frame builds with no job and plans PrefixScan over the source scan") {
    for ((q, table) <- Seq(
        "q28_rfm_segments" -> "orders",
        "q3a_rank_ntile_dist" -> "customer",
        "q12i_shuffle_order" -> "documents")) {
      val (df, m) = GraftSession.measure(spark, q)(SparkEntry.queries(q)(spark, sfDir))
      assert(m.jobs == 0, s"$q ran ${m.jobs} job(s) while its frame was built")
      val plan = df.queryExecution.explainString(FormattedMode)
      assert(plan.contains("PrefixScan") && plan.contains("Scan parquet") &&
        plan.contains(s"/$table.parquet]"), s"$q plan:\n$plan")
    }
  }

  /** `GraftExtensions.install` runs on every scan; concurrent first
    * calls on a fresh session must neither lose nor duplicate its append.
    */
  test("concurrent rankNtile builds on a fresh session install the strategy once") {
    def input(s: org.apache.spark.sql.SparkSession) =
      s.range(200).select((col("id") % 3).as("g"), col("id"))
    def ranked(df: org.apache.spark.sql.DataFrame) =
      DistributedRank.rankNtile(df, Seq("g"), Seq(col("id").desc), 4, "rnk", "nt", 4)
        .collect().map(_.toString).sorted.toSeq
    val serial = ranked(input(spark))
    val fresh = spark.newSession()
    val inputs = Seq.fill(4)(input(fresh))
    val pool = Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // released together, so the four first scans race into install
      val start = new CountDownLatch(1)
      val runs = inputs.map(df => Future { start.await(); ranked(df) })
      start.countDown()
      Await.result(Future.sequence(runs), 5.minutes).foreach(r => assert(r == serial))
      assert(fresh.experimental.extraStrategies.count(_ == PrefixScanStrategy) == 1)
    } finally pool.shutdown()
  }
}
