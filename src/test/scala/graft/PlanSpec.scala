package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ZipWith}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._

import graft.etl.{EtlQueries, Warehouse}
import graft.queries.AnalyticalQueries

/** Physical-plan assertions — the 100 TB design claims, checked
  * against what Catalyst actually planned (SURVEY §4): dims broadcast,
  * filters and projections pushed into the parquet scan, whole-stage
  * codegen covering the hot path.
  */
class PlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def executedPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("star enrichment broadcasts every dimension join") {
    // member-scale dims (customer/part/supplier) carry NO static hint
    // (driver OOM at 100 TB) — materialize so AQE, seeing their actual
    // size at this SF, has converted the joins to broadcast. Count on
    // the FINAL plan section only: the AQE string renders the initial
    // plan too, where the statically-hinted nation join would double-
    // count and mask a dim falling back to shuffle (r6 ADVICE 1).
    val df = EtlQueries.q7aStarEnrich.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df).split("== Initial Plan ==").head
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 4,
      s"expected >=4 broadcast dim joins in the final plan, got $broadcasts:\n$plan")
    // the single fact-fact join may itself broadcast at this tiny SF;
    // what must NOT happen is a dim key reaching a shuffle join
    val dimSmj = plan.linesIterator.filter(_.contains("SortMergeJoin"))
      .filter(l => Seq("custkey", "nationkey", "partkey", "suppkey")
        .exists(l.contains))
    assert(dimSmj.isEmpty,
      s"a dim join fell back to sort-merge:\n${dimSmj.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("filter pushdown reaches the parquet scan") {
    import spark.implicits._
    val df = Tables(spark, sfDir).lineitem
      .filter($"l_shipdate" > "1995-01-01" && $"l_discount" > 0.05)
      .select($"l_orderkey", $"l_discount")
    // sparkPlan, not executedPlan: the conditional fan-out exchange
    // (Tables.fanOut) wraps the scan in an AQE query stage where
    // collectLeaves can't reach it; pushdown metadata is set at
    // planning time and identical in both
    val scan = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(l_discount,0.05)") &&
      pushed.contains("GreaterThan(l_shipdate"),
      s"filters not pushed: $pushed")
    // column pruning: scan schema must carry only the referenced cols
    val readSchema = scan.metadata("ReadSchema")
    assert(!readSchema.contains("l_returnflag") &&
      !readSchema.contains("l_extendedprice"),
      s"scan reads unpruned columns: $readSchema")
  }

  test("headline aggregation runs inside whole-stage codegen") {
    val df = AnalyticalQueries.q1aYoyGrowth.fn(spark, sfDir)
    df.collect() // materialize THIS plan so AQE finalizes it
                 // (count() would plan a separate query)
    val plan = executedPlan(df)
    // codegen stages render as "*(n)" in simpleString
    val codegenStages = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet
    assert(codegenStages.size >= 2,
      s"expected multiple codegen stages in q1a plan:\n$plan")
  }

  test("q2a pre-aggregates to order grain BEFORE the grouping-sets expand") {
    // the r3-audited plan: countDistinct becomes count(*) because the
    // 4-way Expand sits ABOVE an order-grain Aggregate, never above
    // the raw fact join
    val df = AnalyticalQueries.q2aGroupingSets.fn(spark, sfDir)
    val expands = df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.nonEmpty, "expected a grouping-sets Expand")
    assert(expands.forall(_.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isDefined),
      s"Expand sits on the un-aggregated fact:\n${df.queryExecution.optimizedPlan}")
  }

  test("q5a top-k plans as TakeOrderedAndProject, not a global sort") {
    val df = AnalyticalQueries.q5aTopLtv.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df).split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k LIMIT fell back to a full sort:\n$plan")
  }

  test("q12f corpus rebalance plans with zero keyed shuffles") {
    val df = graft.text.TextQueries.q12fCorpusRebalance.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df)
    // the map-side-only claim bans KEYED shuffles (hash/range): the
    // conditional fan-out (Tables.fanOut) may add one round-robin
    // exchange on coarse local scans, which moves no data at real
    // scale and keys on nothing
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"map-side-only claim broken — plan has a keyed shuffle:\n$plan")
  }

  test("q13d simhash plans exactly its two claimed shuffles") {
    val df = graft.text.DedupQueries.q13dSimhash.fn(spark, sfDir)
    df.collect()
    // AQE renders the final AND initial plans — count only the final
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // one Exchange for groupBy(doc_id), one for the bucket-size window
    // (match the shuffle node specifically — not Reused/BroadcastExchange)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"expected exactly 2 shuffles (doc agg + window), got $exchanges:\n$plan")
  }

  test("q12g pii scrub and q16d frame sampling plan with zero keyed shuffles") {
    for (q <- Seq(graft.text.CurationQueries.q12gPiiScrub,
        graft.multimodal.Multimodal.q16dFrameSample)) {
      val plan = executedPlan(q.fn(spark, sfDir))
      // round-robin fan-out allowed (see q12f pin); keyed shuffles not
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange rangepartitioning"),
        s"${q.name} claims map-side-only but has a keyed shuffle:\n$plan")
    }
  }

  test("q12m chunk windows shuffle exactly once (the token count)") {
    val df = graft.text.CurationQueries.q12mChunkWindows.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df).split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly 1 shuffle (token count agg), got $exchanges:\n$plan")
  }

  test("q13g contamination probes the holdout via broadcast, never SMJ") {
    val df = graft.text.CurationQueries.q13gContamination.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df).split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"holdout probe is not a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side sort-merge crept into the holdout probe:\n$plan")
  }

  test("q13c minhash candidate generation is join-free") {
    // candidates come from band-bucket posting lists (group + ordered
    // pair explode), carrying signatures along — NOT from a two-sided
    // bucket self-join plus signature re-joins. Any join node here
    // means the bucket-join formulation crept back in.
    val df = graft.text.DedupQueries.q13cMinhashLsh.fn(spark, sfDir)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty,
      s"expected a join-free q13c plan:\n${df.queryExecution.optimizedPlan}")
  }

  test("q14b bucket assignment stays aggregation-free") {
    // hyperplane constants make the signature a pure projection: the
    // plan must not contain a per-vector aggregate below the probes
    val df = graft.text.SimilarityQueries.q14bAnnLsh.fn(spark, sfDir)
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.isEmpty,
      s"expected no Aggregate in q14b (bucketing is map-side):\n${aggs.mkString}")
  }

  test("q10c what-if joins scenarios AFTER the fact aggregate") {
    // the 3-row scenario table must meet the per-year aggregate, not
    // expand the fact 3x: in the optimized plan the cross join's
    // fact-side child is an Aggregate, never a raw join/scan
    val df = graft.analytics.DaxMeasures.q10cWhatIf.fn(spark, sfDir)
    val crossJoins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.Cross => j
    }
    assert(crossJoins.nonEmpty, "expected a scenario cross join")
    assert(crossJoins.forall(_.children.exists(c =>
      c.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined)),
      s"cross join expands the un-aggregated fact:\n${df.queryExecution.optimizedPlan}")
  }

  test("warehouse fact build broadcasts dim lookups when they fit") {
    // the member-scale dims carry NO static broadcast hint (at 100 TB
    // they exceed the broadcast cap — a hinted plan is a driver OOM);
    // what must hold is that AQE, seeing their actual size at this SF,
    // still picks broadcast joins. Materialize so AQE finalizes.
    val df = Warehouse.factOrderLines(Tables(spark, sfDir))
    df.collect()
    // final plan only — the initial-plan section would double-count
    // and mask an AQE fallback
    val plan = executedPlan(df).split("== Initial Plan ==").head
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3,
      s"expected >=3 broadcast key lookups in the final plan, got $broadcasts:\n$plan")
    val dimSmj = plan.linesIterator.filter(_.contains("SortMergeJoin"))
      .filter(l => Seq("customer_id", "product_id", "seller_id")
        .exists(l.contains))
    assert(dimSmj.isEmpty,
      s"a dim lookup fell back to sort-merge:\n${dimSmj.mkString("\n")}")
  }

  test("warehouse facts plan their key lookups as broadcasts before AQE") {
    // each lookup reads its member frame, whose static estimate is its
    // table's size, so the INITIAL plan already broadcasts it: no fact
    // input is shuffled to meet a lookup that fits. A lookup through
    // the whole dim is estimated by the product rule over its
    // geography joins and plans a sort-merge join AQE must undo.
    val t = Tables(spark, sfDir)
    Seq("factOrderLines" -> Warehouse.factOrderLines(t),
      "factReview" -> Warehouse.factReview(t),
      "factPayment" -> Warehouse.factPayment(t)).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan.toString
        case p => p.toString
      }
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("Exchange hashpartitioning"),
        s"$name's initial plan shuffles for a key lookup:\n$plan")
    }
  }

  test("q12v heavy hitters: one keyed shuffle, candidates broadcast") {
    val df = graft.text.HeavyHitterQueries.q12vHeavyHitters.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // pass 1 (the MG sketch) aggregates inside the broadcast subtree;
    // the ONLY hash shuffle is the pass-2 candidate recount. The
    // 1-row candidate frame rides a BroadcastNestedLoopJoin — a full
    // CartesianProduct would mean the broadcast was lost.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly 1 keyed shuffle (candidate recount), got $exchanges:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"candidate frame not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in heavy-hitter plan:\n$plan")
  }

  test("q13h chunk dedup: corpus decoupled by staging, keyed shuffles only") {
    val df = graft.text.DedupQueries.q13hChunkDedup.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // the (chunk, doc)-grain checkpoint decouples the returned plan
    // from the corpus: the parquet scan happened ONCE at staging time
    assert(!plan.contains("Scan parquet"),
      s"returned plan re-scans the corpus:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3 && !plan.contains("CartesianProduct"),
      s"unexpected shuffle shape ($exchanges exchanges):\n$plan")
  }

  test("q14g IVF-PQ: no cache, no cartesian, bounded keyed shuffles") {
    val df = graft.text.SimilarityQueries.q14gAnnIvfPq.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // ONE keyed shuffle: the top-3 window. Cell assignment and PQ
    // encoding are per-row folds over 1-row broadcast centroid /
    // codebook arrays (the r13 SortAggregate-fan-out fix), so neither
    // shuffles; the corpus is never cached or cross-joined at scale
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly 1 keyed shuffle (top-k window; assign/encode " +
        s"are broadcast folds), got $exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("InMemoryTableScan"),
      s"cartesian or cache in IVF-PQ plan:\n$plan")
  }

  test("runtime bloom-filter join injection fires on the selective shape") {
    // At 100 TB the selective-dim ⋈ fact join is exactly the shape
    // Spark's InjectRuntimeFilter targets: a bloom filter built from
    // the filtered creation side is pushed into the probe-side scan,
    // cutting shuffle input before the join. The guard thresholds
    // (application side ≥ 10 GB by default) are CORRECT at scale and
    // merely too big for testdata, so the pin lowers them for the
    // session and restores them after — proving the engine's plans
    // are runtime-filterable, not just hoping.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      // force a shuffle join — broadcast joins don't need the filter
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // raw reads, not Tables: InjectRuntimeFilter pattern-matches a
      // selective-filter-over-scan creation side, and the local-only
      // fan-out Repartition (absent at real scale, where scans are
      // already parallel) breaks that match — the pin tests the
      // engine's capability on the shape production plans have at scale
      val li  = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 400000)
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderdate")).count()
      j.collect()
      val plan = executedPlan(j)
      assert(plan.contains("might_contain"),
        s"runtime bloom filter not injected:\n$plan")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("q14c IVF never pins the corpus: no cache in the plan") {
    // the r5/r6 verdicts' #1 fix — the deterministic-medoid IVF must
    // scan the corpus, not cache() it (a corpus-sized InMemoryRelation
    // is pinned executor memory at 100 TB)
    val df = graft.text.SimilarityQueries.q14cAnnIvf.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df)
    assert(!plan.contains("InMemoryRelation") &&
      !plan.contains("InMemoryTableScan"),
      s"q14c plan pins a cached relation:\n$plan")
    // centroid pick is a top-k, never a global sort of the corpus
    assert(plan.contains("TakeOrderedAndProject"),
      s"centroid pick fell back to a global sort:\n$plan")
  }

  test("q12z count-min: grid broadcast onto probes, no cartesian") {
    val df = graft.text.HeavyHitterQueries.q12zCountMin.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // the d×w cell grid (≤1024 rows at any corpus size) must reach the
    // probe join as a broadcast — a shuffled grid join would key the
    // corpus-grain estimate pass for nothing
    assert(plan.contains("BroadcastHashJoin"),
      s"CMS grid join lost its broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q26g HLL merge: sketches build in ONE keyed pass over orders") {
    val df = graft.analytics.ProfileQueries.q26gHllMerge.fn(spark, sfDir)
    df.collect()
    val plan = executedPlan(df).split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"))
    // every join in the rollup is a ≤1-row broadcast (merged sketch /
    // global exact) — nothing month-grain may shuffle-join
    assert(!plan.contains("SortMergeJoin"),
      s"a sketch rollup join fell off broadcast:\n$plan")
  }

  test("q29 BPE training: builds with no job and runs in at most 4") {
    val (df, build) = GraftSession.measure(spark, "q29/build")(
      graft.text.BpeQueries.q29BpeTrain.fn(spark, sfDir))
    assert(build.jobs == 0, s"q29's build ran jobs: $build")
    // the word-count scan and shuffle, the single-partition shuffle
    // into the training task, and the result
    val (_, action) = GraftSession.measure(spark, "q29/action")(
      GraftSession.materialize(df))
    assert(action.jobs <= 4, s"q29 ran ${action.jobs} jobs: $action")
    // no per-round lambda or cross join is left in the plan
    val plan = df.queryExecution.executedPlan
    val found = collectWithSubqueries(plan) { case p =>
      p.nodeName +: p.expressions.flatMap(_.collect {
        case e @ (_: ArrayAggregate | _: ZipWith) => e.nodeName
      })
    }.flatten
    Seq("ArrayAggregate", "ZipWith", "CartesianProduct").foreach(n =>
      assert(!found.contains(n), s"q29 plans $n:\n$plan"))
  }
}
