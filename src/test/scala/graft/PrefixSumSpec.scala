package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.PrefixSum

/** The distributed prefix sum must exactly reproduce the single-task
  * global-window semantics while actually spreading rows over many
  * partitions.
  */
class PrefixSumSpec extends SparkTestBase {

  test("matches the global window form exactly") {
    import spark.implicits._
    // o_orderkey is unique -> a TOTAL order, as the operator contract
    // requires (synthetic lineitem duplicates (orderkey, linenumber))
    val df = Tables(spark, sfDir).orders
      .select($"o_orderkey", $"o_totalprice")
    val dist = PrefixSum.exclusivePrefixSum(
      df, Seq($"o_orderkey"), $"o_totalprice", "pre", numPartitions = 4)
    val w = Window.orderBy($"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, -1)
    val win = df.withColumn("pre_w",
      coalesce(sum($"o_totalprice".cast("long")).over(w), lit(0L)))
    val joined = dist.join(win, Seq("o_orderkey"))
    assert(joined.filter($"pre" =!= $"pre_w").count() == 0)
    assert(dist.count() == df.count())
  }

  test("rows genuinely span multiple partitions") {
    import spark.implicits._
    val df = Tables(spark, sfDir).orders
      .select($"o_orderkey", $"o_totalprice")
    val dist = PrefixSum.exclusivePrefixSum(
      df, Seq($"o_orderkey"), $"o_totalprice", "pre", numPartitions = 4)
    val nonEmpty = dist.rdd
      .mapPartitionsWithIndex((pid, it) =>
        if (it.hasNext) Iterator.single(pid) else Iterator.empty)
      .collect()
    assert(nonEmpty.length > 1,
      s"prefix sum collapsed to ${nonEmpty.length} partition(s)")
  }

  test("NULL values skip like SQL window SUM; all-NULL prefix reads 0") {
    import spark.implicits._
    // contract (PrefixSum.scala header): NULL contributes 0 to the
    // running sum, and the first rows read 0 even when every prior
    // value is NULL — i.e. the coalesce(sum over w, 0) form exactly
    val df = Seq(
      (1L, None: Option[Long]), (2L, None: Option[Long]), // all-NULL prefix
      (3L, Some(5L)), (4L, None: Option[Long]), (5L, Some(7L)))
      .toDF("k", "v")
    val out = PrefixSum.exclusivePrefixSum(
      df, Seq($"k"), $"v", "pre", numPartitions = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 5L, 5L -> 5L))
  }

  /** The NULLS LAST normalization (the scan behind both PrefixSum and
    * DistributedRank):
    * a NULL ORDER key sorts last, so its value enters no real row's
    * exclusive prefix — under Spark's nulls-first default it would
    * silently enter EVERY row's prefix while the DuckDB twins add it
    * to none.
    */
  test("a NULL order key sorts LAST: its value enters no real row's prefix") {
    import spark.implicits._
    val df = Seq(
      (Option(1L), 5L), (Option.empty[Long], 100L), (Option(2L), 7L))
      .toDF("k", "v")
    val out = PrefixSum.exclusivePrefixSum(
      df, Seq($"k".asc), $"v", "pre", numPartitions = 2)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(2))
      .toMap
    assert(out == Map(Some(1L) -> 0L, Some(2L) -> 5L, None -> 12L),
      s"got $out — the null-key row's 100 must trail the order, " +
        "not lead it into every prefix")
  }

  test("first row in order gets offset zero") {
    import spark.implicits._
    val df = Seq((3L, 10L), (1L, 5L), (2L, 7L)).toDF("k", "v")
    val out = PrefixSum.exclusivePrefixSum(
      df, Seq($"k"), $"v", "pre", numPartitions = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 0L, 2L -> 5L, 3L -> 12L))
  }

  /** The scan is a plan node that adds two attributes; its frame must
    * still join with itself the way any DataFrame does.
    */
  test("a prefix-sum frame joins with itself") {
    import spark.implicits._
    val df = spark.range(20).select($"id", ($"id" % 3).as("v"))
    val p = PrefixSum.exclusivePrefixSum(df, Seq($"id"), $"v", "pre", numPartitions = 4)
    val pairs = p.as("a").join(p.as("b"), $"a.id" === $"b.id" + 1)
      .select($"a.pre" - $"b.pre", $"b.v").collect()
    assert(pairs.length == 19 && pairs.forall(r => r.getLong(0) == r.getLong(1)))
  }
}
