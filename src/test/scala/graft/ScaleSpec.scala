package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ScaleProbe.DocShift
import graft.analytics.AnalyticsQueries
import graft.queries.AnalyticalQueries

/** Relational decade-up stress: replicate the
  * sf0.01 facts 10× — sf0.1-equivalent, one decade above the spec
  * suite's gate scale — with order keys shifted per replica so the
  * data model (one order → one customer/date, distinct order keys)
  * survives, and require of the headline shapes q2a/q4a/q5a/q9b:
  *
  *  1. EXACT algebra at 10×, not just "ran": replication multiplies
  *     every extensive statistic (sums, counts) by exactly 10, leaves
  *     every intensive one (averages, ratios, Pearson corr) fixed,
  *     and preserves top-k order — each query's 10× output is gated
  *     against its own 1× output through those relations, so a
  *     silent overflow/precision collapse at scale (the q12y failure
  *     class) breaks the test, not just a runtime error.
  *  2. The scale-critical PLAN claims survive the decade: dims still
  *     broadcast, no CartesianProduct, q5a still TakeOrderedAndProject,
  *     q2a's Expand still sits above the order-grain pre-aggregate.
  *  3. ZERO disk spill across all 10× runs, and total shuffle write
  *     grows at most ~linearly (≤ 15×) over the 1× baseline — a
  *     super-linear shuffle is exactly the plan defect a 100× cluster
  *     run would hit as an exploding exchange.
  */
class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  // env-tunable so the same gate runs one decade further up on demand
  // (base sf0.1 → sf1-equivalent, ~6M lineitem) without changing the
  // suite's cost
  private val baseDir =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.01")
  private val reps = 10
  // above every o_orderkey in the base data; replica r shifts keys by
  // r*KeyShift so replicated orders stay distinct while custkey /
  // dates / prices repeat exactly
  private val KeyShift = 100000000L

  private def buildTenX(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale10x").toString
    val t = Tables(spark, baseDir)
    assert(t.orders.agg(max($"o_orderkey")).as[Long].head() < KeyShift)
    val replicas = spark.range(reps).select($"id".as("rep"))
    t.lineitem.crossJoin(broadcast(replicas))
      .withColumn("l_orderkey", $"l_orderkey" + $"rep" * KeyShift)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    t.orders.crossJoin(broadcast(replicas))
      .withColumn("o_orderkey", $"o_orderkey" + $"rep" * KeyShift)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    // dims don't decade-up: at 100 TB the facts grow, the dimensions
    // are the stable star — and staying member-scale is what keeps
    // them broadcast-able, which assertion 2 checks
    for (d <- Seq("customer", "part", "supplier"))
      spark.read.parquet(s"$baseDir/$d.parquet")
        .write.mode("overwrite").parquet(s"$tmp/$d.parquet")
    tmp
  }

  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }
  private def assertScalePlan(plan: String, label: String): Unit = {
    assert(!plan.contains("CartesianProduct"),
      s"$label grew a cartesian product at 10×:\n$plan")
    val dimSmj = plan.linesIterator.filter(_.contains("SortMergeJoin"))
      .filter(l => Seq("c_custkey", "p_partkey", "s_suppkey").exists(l.contains))
    assert(dimSmj.isEmpty,
      s"$label: a dim join fell off broadcast at 10×:\n${dimSmj.mkString("\n")}")
  }

  /** Assertion 3: no disk spill at 10×, shuffle at most 15× the 1× one. */
  private def assertLinear(label: String, m1: GraftSession.Measured, m10: GraftSession.Measured) = {
    assert(m10.diskSpill == 0, s"$label decade-up spilled ${m10.diskSpill} bytes to disk")
    val ratio = m10.shuffleWriteBytes.toDouble / math.max(1, m1.shuffleWriteBytes)
    assert(ratio <= 15.0, s"$label shuffle grew super-linearly at 10×: " +
      s"${m1.shuffleWriteBytes} B → ${m10.shuffleWriteBytes} B (${ratio}×)")
  }

  private def rel(a: Double, b: Double): Double =
    math.abs(a - b) / math.max(1e-12, math.max(math.abs(a), math.abs(b)))

  test("decade-up 10× (sf0.1-equivalent): exact scale algebra, plans " +
    "hold, zero spill, shuffle stays linear") {
    val tenX = buildTenX()
    val (oneX, m1) = GraftSession.measure(spark, "relational 1x") {
      Seq(AnalyticalQueries.q2aGroupingSets, AnalyticalQueries.q4aSemiJoinChain,
        AnalyticalQueries.q5aTopLtv, AnalyticsQueries.q9bCorrelations)
        .map(q => q.name -> q.fn(spark, baseDir).collect()).toMap
    }

    val (_, m10) = GraftSession.measure(spark, "relational 10x") {
      // q2a grouping sets: every (year, month, segment, row_type) group
      // keeps its key set; revenue and n_orders scale by exactly 10
      val q2a = AnalyticalQueries.q2aGroupingSets.fn(spark, tenX)
      val q2aRows = q2a.collect()
      assertScalePlan(finalPlan(q2a), "q2a")
      val q2aKey = (r: org.apache.spark.sql.Row) =>
        (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)), r.getString(3))
      val base2a = oneX("q2a_grouping_sets").map(r =>
        q2aKey(r) -> ((r.getDouble(4), r.getLong(5)))).toMap
      assert(q2aRows.length == base2a.size, "q2a group-key set changed at 10×")
      q2aRows.foreach { r =>
        val (rev1, n1) = base2a(q2aKey(r))
        assert(r.getLong(5) == 10 * n1, s"q2a n_orders not 10× at ${q2aKey(r)}")
        assert(rel(r.getDouble(4), 10 * rev1) < 1e-12,
          s"q2a revenue not 10× at ${q2aKey(r)}: ${r.getDouble(4)} vs ${10 * rev1}")
      }

      // q4a semi-join chain: replication relaxes the n_ord >= 3 gate
      // (every part reaches 10 distinct orders per base order), so the
      // expected 10× set is re-derived from base grain: ret_rate > 0.3
      // ∧ seen in a BUILDING order — ratios and existence are
      // replication-invariant
      val q4aRows = AnalyticalQueries.q4aSemiJoinChain.fn(spark, tenX)
      val got4a = q4aRows.collect().map(_.getLong(0)).toSet
      assertScalePlan(finalPlan(q4aRows), "q4a")
      val t1 = Tables(spark, baseDir)
      val retOk = t1.lineitem.groupBy($"l_partkey")
        .agg((count(when($"l_returnflag" === "R", 1)).cast("double")
          / count(lit(1))).as("rr"))
        .filter($"rr" > 0.3).select($"l_partkey".as("pk"))
      val building = t1.lineitem
        .join(t1.orders, $"l_orderkey" === $"o_orderkey")
        .join(t1.customer.filter($"c_mktsegment" === "BUILDING"),
          $"o_custkey" === $"c_custkey")
        .select($"l_partkey".as("pk")).distinct()
      val want4a = retOk.join(building, "pk").select($"pk").as[Long]
        .collect().toSet
      assert(got4a == want4a,
        s"q4a 10× set mismatch: extra=${got4a -- want4a} missing=${want4a -- got4a}")

      // q5a top-LTV: monotone scaling keeps the top-20 IDENTICAL and in
      // the same order; ltv and n_orders ×10, avg receipt unchanged
      val q5a = AnalyticalQueries.q5aTopLtv.fn(spark, tenX)
      val rows5a = q5a.collect()
      val plan5a = finalPlan(q5a)
      assertScalePlan(plan5a, "q5a")
      assert(plan5a.contains("TakeOrderedAndProject"),
        s"q5a lost its bounded top-k at 10×:\n$plan5a")
      val base5a = oneX("q5a_top_ltv")
      assert(rows5a.map(_.getLong(0)).toSeq == base5a.map(_.getLong(0)).toSeq,
        "q5a top-20 membership/order changed at 10×")
      rows5a.zip(base5a).foreach { case (r10, r1) =>
        assert(rel(r10.getDouble(2), 10 * r1.getDouble(2)) < 1e-12, "ltv not 10×")
        assert(r10.getLong(3) == 10 * r1.getLong(3), "n_orders not 10×")
        assert(rel(r10.getDouble(4), r1.getDouble(4)) < 1e-12,
          "avg receipt drifted at 10×")
      }

      // q9b Pearson correlations: corr is replication-invariant; n ×10
      val q9b = AnalyticsQueries.q9bCorrelations.fn(spark, tenX)
      val rows9b = q9b.collect()
      assertScalePlan(finalPlan(q9b), "q9b")
      val base9b = oneX("q9b_correlations")
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(rows9b.length == base9b.size)
      rows9b.foreach { r =>
        val (n1, c1) = base9b(r.getString(0))
        assert(r.getLong(1) == 10 * n1, s"q9b n not 10× for ${r.getString(0)}")
        assert(rel(r.getDouble(2), c1) < 1e-9,
          s"q9b corr drifted at 10× for ${r.getString(0)}: ${r.getDouble(2)} vs $c1")
      }
    }
    assertLinear("relational", m1, m10)
  }

  test("corpus decade-up 10×: dedup groups, heavy hitters, CMS grid " +
    "and BM25 hold exact scale algebra with linear shuffle") {
    import graft.text.{DedupQueries, HeavyHitterQueries, TfIdfQueries}
    import graft.text.TextQueries
    val tmp = java.nio.file.Files.createTempDirectory("graft-scale-doc").toString
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    assert(docs.agg(max($"doc_id")).as[Long].head() + 1000000L < DocShift)
    val replicas = spark.range(reps).select($"id".as("rep"))
    docs.crossJoin(broadcast(replicas))
      .withColumn("doc_id", $"doc_id" + $"rep" * DocShift)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val (base, m1) = GraftSession.measure(spark, "corpus 1x") {
      Seq(DedupQueries.q13aExactDedup, HeavyHitterQueries.q12vHeavyHitters,
        HeavyHitterQueries.q12zCountMin, TextQueries.q12aTokenStats,
        TfIdfQueries.q12yBm25Topk)
        .map(q => q.name -> q.fn(spark, baseDir).collect()).toMap
    }

    val (_, m10) = GraftSession.measure(spark, "corpus 10x") {
      // q13a: every base text now has 10 copies, so EVERY distinct text
      // surfaces; base dup groups keep their min doc_id and go ×10
      val got13a = DedupQueries.q13aExactDedup.fn(spark, tmp)
      assert(!finalPlan(got13a).contains("CartesianProduct"))
      val rows13a = got13a.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // first-principles base corpus (docs + %7 plant) hash → (count, min id)
      val baseCorpus = docs.select($"doc_id", md5($"text").as("h"))
        .unionByName(docs.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + 1000000L).as("doc_id"), md5($"text").as("h")))
        .groupBy($"h").agg(count(lit(1)).as("c"), min($"doc_id").as("keep"))
        .as[(String, Long, Long)].collect()
      assert(rows13a.size == baseCorpus.length,
        "q13a at 10× must surface every distinct text")
      baseCorpus.foreach { case (h, c, keep) =>
        val (n10, keep10, rem10) = rows13a(h)
        assert(n10 == 10 * c && keep10 == keep && rem10 == 10 * c - 1,
          s"q13a group $h: got ($n10,$keep10,$rem10), base ($c,$keep)")
      }

      // q12v: shares are replication-invariant, counts ×10, same key set
      val got12v = HeavyHitterQueries.q12vHeavyHitters.fn(spark, tmp)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      val base12v = base("q12v_heavy_hitters")
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got12v.keySet == base12v.keySet, "q12v heavy set changed at 10×")
      got12v.foreach { case (k, (c10, s10)) =>
        assert(c10 == 10 * base12v(k)._1 && s10 == base12v(k)._2,
          s"q12v $k not exact-×10: ($c10,$s10) vs ${base12v(k)}")
      }

      // q12z: the whole sketch grid scales by exactly 10 — estimates,
      // exact counts and overcounts all ×10 (min of ×10 cells = ×10 min)
      val got12z = HeavyHitterQueries.q12zCountMin.fn(spark, tmp)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val base12z = base("q12z_countmin").map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got12z.keySet == base12z.keySet)
      got12z.foreach { case (k, (e10, c10, o10)) =>
        val (e1, c1, o1) = base12z(k)
        assert(e10 == 10 * e1 && c10 == 10 * c1 && o10 == 10 * o1,
          s"q12z $k grid not exact-×10")
      }

      // q12a: doc-grain stats — 10× the rows, base-replica rows identical
      val got12a = TextQueries.q12aTokenStats.fn(spark, tmp).collect()
      val base12a = base("q12a_token_stats")
      assert(got12a.length == 10 * base12a.length, "q12a row count not 10×")
      val baseSeq = base12a.map(_.toSeq).toSet
      val replica0 = got12a.filter(_.getLong(0) < DocShift).map(_.toSeq).toSet
      assert(replica0 == baseSeq, "q12a base-replica rows drifted at 10×")

      // q12y: every query still retrieves a full top-5 (replicas of the
      // query doc are perfect lexical matches), queries ×10; plan stays
      // cartesian-free and the posting probe keeps its broadcast
      val q12y = TfIdfQueries.q12yBm25Topk.fn(spark, tmp)
      val plan12y = finalPlan(q12y)
      assert(!plan12y.contains("CartesianProduct") ||
        plan12y.contains("BroadcastNestedLoopJoin"),
        s"q12y grew a cartesian at 10×")
      assert(plan12y.contains("BroadcastHashJoin"),
        "q12y posting probe lost its broadcast at 10×")
      val rows12y = q12y.collect()
      assert(rows12y.length == 10 * base("q12y_bm25_topk").length,
        s"q12y rows ${rows12y.length} != 10× base")
    }
    assertLinear("corpus", m1, m10)
  }
}
