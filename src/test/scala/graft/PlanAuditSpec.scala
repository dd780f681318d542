package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan

/** Repo-WIDE physical-plan audit over every registered query.
  *
  * PlanSpec pins ~a dozen individually-designed plans; this spec is the
  * complement — an anti-pattern scan (no cartesians, no unbounded
  * nested-loop joins, zero UDFs), automated so a future registration
  * can't silently introduce one.
  *
  * Method: build each query's DataFrame at sf0.001 and inspect the
  * pre-AQE physical plan (`queryExecution.sparkPlan`) WITHOUT
  * executing it — CartesianProduct / BroadcastNestedLoopJoin are
  * chosen at planning time (non-equi or cross joins), so the initial
  * plan is the sound place to look; AQE only converts joins toward
  * broadcast/equi forms, never introduces these nodes.
  *
  * BNLJ is legal ONLY on the allowlist below, where every entry names
  * its bound: a broadcast side that is a global aggregate (1 row), a
  * literal local table (constant rows), or a constant-k frame
  * (centroids/codebooks with k fixed by the algorithm). Data-scale
  * BNLJ — both sides growing with input — is what this spec bans.
  * The allowlist is pinned exactly: an entry whose query no longer
  * plans a BNLJ fails too, so the list can't rot.
  */
class PlanAuditSpec extends SparkTestBase {

  /** Streaming entries (q15*) run a real micro-batch pipeline inside
    * fn and register the SINK contents; their stateful plans are
    * pinned in StreamingSpec/StreamingScaleSpec, and auditing the
    * batch read-back of a sink tells nothing about join shape.
    */
  private def auditable: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
    SparkEntry.queries.filterNot { case (n, _) => n.startsWith("q15") }

  private val bnljAllowed: Map[String, String] = Map(
    // 1-row global-aggregate broadcast (scalar crossJoin)
    "q1b_seasonal_index" -> "overall-mean scalar",
    "q9a_descriptive_stats_approx" -> "global sketch agg, 1 row",
    "q9d_segmentation_approx" -> "quantile-cuts scalar row",
    "q9e_churn_features" -> "max-date scalar",
    "q9l_roc_points" -> "pos/neg totals scalar",
    "q9r_survival_km" -> "final-date + risk-total scalars",
    "q9t_gains_table" -> "population totals scalar",
    "q12o_tfidf_topk" -> "doc-count scalar",
    "q12r_unigram_logprob" -> "corpus token-total scalar",
    "q12s_source_kl" -> "corpus token-total scalar",
    "q12v_heavy_hitters" -> "Misra-Gries candidate row (1 row, <=k cands)",
    "q12x_bigram_logprob" -> "corpus totals scalar",
    "q12y_bm25_topk" -> "corpus stats scalar",
    "q12t_perplexity_buckets" -> "corpus token-total scalar (q12r's xentPerDoc)",
    "q25_basket_rules" -> "basket-count scalar",
    "q26a_profile" -> "global sketch agg, 1 row",
    "q26b_integrity" -> "two 1-row audit aggs",
    "q26e_benford" -> "grand-total scalar",
    "q26f_skew_audit" -> "capped top-k hot-key row",
    "q26g_hll_merge" -> "merged HLL sketch, 1 row",
    "q26h_hll_overlap" -> "two 1-row HLL sketches",
    "q28_rfm_segments" -> "max-order-date scalar (RFM recency)",
    "q28b_abc_classification" -> "revenue grand-total scalar",
    "q17d_orc_roundtrip" -> "1-row extra/missing audit aggs",
    // literal constant frames (rows fixed in source code)
    "q10a_rolling_active" -> "3-row window-offset literal",
    "q10c_whatif_discount" -> "scenario literal",
    "q10d_kpi_targets" -> "target literal",
    "q8c_scd2_pointintime" -> "probe-date literal",
    "q14f_ann_ivf_multiprobe" -> "probe-offset literal",
    "q17e_skipping_audit" -> "predicate-band literal",
    "q17g_partition_audit" -> "4-row predicate literal x bounded year counts",
    // constant-k model state (centroids / codebooks, k fixed by the algorithm)
    "q14b_ann_lsh" -> "constant hyperplane frame",
    "q14c_ann_ivf" -> "k IVF centroids",
    "q14e_semantic_dedup" -> "k cell centroids",
    "q14g_ann_ivfpq" -> "k centroids + PQ codebook",
    "q14h_kmeans_step" -> "k centroids",
    // deliberate bounded brute-force exactness baselines
    "q13e_embed_neardup" -> "BruteForceGuard-capped all-pairs baseline",
    "q14a_ann_brute_topk" -> "1-row probe vs guarded corpus",
    "q14k_ann_recall" -> "guarded probe set, brute truth for recall")

  /** One shared planning pass: each fn is invoked ONCE (some are
    * internally eager — writers, graph builds — so re-invoking per
    * test would triple their side-effect cost) and the three audits
    * below read the same captured plans.
    */
  private case class Audit(name: String, plan: SparkPlan, hasUdf: Boolean,
                           nullOrderHits: Seq[String],
                           failure: Option[String])

  private lazy val audits: Seq[Audit] =
    auditable.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val qe = fn(spark, sfDir).queryExecution
        val hasUdf = qe.analyzed.collect {
          case p => p.expressions.flatMap(_.collect { case u: ScalaUDF => u })
        }.flatten.nonEmpty
        Audit(name, qe.sparkPlan, hasUdf,
          NullOrderCensus.asymmetricHits(qe.analyzed) ++
            NullOrderCensus.exprSortHits(qe.analyzed), None)
      } catch { case e: Throwable =>
        Audit(name, null, hasUdf = false, Seq.empty, Some(e.getMessage))
      }
    }

  test("no registered query plans a CartesianProduct; BNLJ only where bounded") {
    val offenders = scala.collection.mutable.Map[String, String]()
    val bnljSeen = scala.collection.mutable.Set[String]()
    audits.foreach { a =>
      a.failure.foreach(m => offenders(a.name) = s"fn/plan failed: $m")
      if (a.plan != null) {
        val s = a.plan.toString
        if (s.contains("CartesianProduct"))
          offenders(a.name) = "CartesianProduct"
        else if (s.contains("BroadcastNestedLoopJoin")) {
          bnljSeen += a.name
          if (!bnljAllowed.contains(a.name))
            offenders(a.name) = "unallowlisted BroadcastNestedLoopJoin"
        }
      }
    }
    val stale = bnljAllowed.keySet -- bnljSeen
    assert(offenders.isEmpty && stale.isEmpty,
      s"plan audit violations:\n${offenders.toSeq.sortBy(_._1).map { case (n, w) => s"  $n: $w" }.mkString("\n")}" +
        (if (stale.nonEmpty) s"\nstale allowlist entries (no BNLJ anymore): ${stale.toSeq.sorted.mkString(", ")}" else ""))
  }

  /** Global (unpartitioned) windows move their frame to ONE task —
    * legal only when the frame at that point is bounded by
    * construction. A global WindowExec AUTO-passes when its own child
    * subtree contains a limit node (TakeOrderedAndProject /
    * GlobalLimit / CollectLimit): the window then runs over <=k rows
    * no matter the input volume — the q14* md5-medoid seed device and
    * q25c's top-20 re-rank. Every OTHER global window needs an entry
    * here naming the grain that caps its cardinality independent of
    * data volume. Data-scale global scans use PrefixSum's two-pass
    * scan instead — directly or through DistributedRank (q28,
    * q3a_dist, q9t's ntile) — that design rule is what this test pins.
    */
  private val globalWindowAllowed: Map[String, String] = Map(
    "q3b_moving_avg_ytd" -> "day grain after pre-agg (~2.4k rows)",
    "q20e_gapfill_interp" -> "calendar-day spine",
    "q9d_segmentation" ->
      ("reference-fidelity exact qcut at customer grain; the scale twin " +
        "is q9d_segmentation_approx (approx quantile cuts, window-free)"),
    "q9f_revenue_share" -> "nation grain (25 rows)",
    "q9r_survival_km" -> "distinct-duration grain (calendar days)",
    "q9t_gains_table" -> "decile grain (10 rows)")

  private def limitBounded(w: SparkPlan): Boolean =
    w.children.exists(_.collectFirst {
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => ()
      case _: org.apache.spark.sql.execution.GlobalLimitExec => ()
      case _: org.apache.spark.sql.execution.CollectLimitExec => ()
    }.isDefined)

  test("global (unpartitioned) windows only on limit- or grain-bounded frames") {
    val offenders = scala.collection.mutable.Map[String, String]()
    val seen = scala.collection.mutable.Set[String]()
    audits.foreach { a => // fn failures surface in the audit test
      if (a.plan != null) {
        val unbounded = a.plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty && !limitBounded(w) => w
        }
        if (unbounded.nonEmpty) {
          seen += a.name
          if (!globalWindowAllowed.contains(a.name))
            offenders(a.name) =
              unbounded.map(_.windowExpression.mkString(",")).mkString("; ")
        }
      }
    }
    val stale = globalWindowAllowed.keySet -- seen
    assert(offenders.isEmpty && stale.isEmpty,
      s"unallowlisted global windows:\n${offenders.toSeq.sortBy(_._1).map { case (n, w) => s"  $n: $w" }.mkString("\n")}" +
        (if (stale.nonEmpty) s"\nstale allowlist entries: ${stale.toSeq.sorted.mkString(", ")}" else ""))
  }

  test("zero UDFs anywhere in the registry (native expressions only)") {
    val withUdf = audits.filter(_.hasUdf).map(_.name)
    assert(withUdf.isEmpty, s"ScalaUDF found in: ${withUdf.mkString(", ")}")
  }

  /** GraftSession silences WindowExec's unpartitioned-window WARN
    * (documented bounded windows drowned the tail), which is safe
    * ONLY while this spec provably audits everything a tool main CAN
    * run. Bench can time any REGISTERED name — the membership lists
    * plus arbitrary SPARK_GRAFT_BENCH_ONLY one-offs — and its census
    * pass runs every timeable query ([[BenchSets.census]]: the whole
    * registry minus the streaming entries, whose stateful plans are
    * pinned in StreamingSpec / StreamingScaleSpec instead — batch
    * plan-auditing a sink read-back would say nothing about their
    * join shape), so coverage is asserted over that whole set, not
    * just over BenchSets membership.
    */
  test("every timeable query (whole registry minus q15) is registered and plan-audited") {
    val benched = (BenchSets.headline ++ BenchSets.ext).distinct
    val unregistered = benched.filterNot(SparkEntry.queries.contains)
    assert(unregistered.isEmpty,
      s"benched but not registered: ${unregistered.mkString(", ")}")
    val auditedNames = audits.map(_.name).toSet
    val uncovered = BenchSets.census.filterNot(auditedNames)
    assert(uncovered.isEmpty,
      s"registered but not plan-audited (BENCH_ONLY could time these " +
        s"behind the silenced WindowExec logger): ${uncovered.mkString(", ")}")
  }

  /** min/max over a STRUCT (any aggregate whose buffer is not
    * UnsafeRow-mutable) plans SortAggregateExec, which external-sorts
    * its INPUT per task before combining. Over linear input that is
    * merely sort-instead-of-hash; over a nested-loop or explode
    * fan-out it sorts the MULTIPLIED row mass — the assignCells trap
    * the q14c scale probe caught at ×1000 (a 138 MB corpus × 3.9k
    * broadcast centroids = 585 GB of sort mass, 80 GB of spill before
    * the disk died). This test bans SortAggregate whose same-stage
    * subtree (below the aggregate, above the next exchange) contains
    * a fan-out node; the fold-over-a-broadcast-array projection
    * (assignCells / q14g encode / q14h assign) is the sanctioned
    * replacement shape.
    */
  private val sortAggFanoutAllowed: Map[String, String] = Map(
    "q12d_fingerprint" ->
      ("min(md5 string) at the query's intrinsic shingle grain — the " +
        "generate IS the data (one 3-gram per token position), no " +
        "multiplier stacked on top of it"),
    "q13c_minhash_lsh" ->
      ("8 signature string-mins at (doc, shingle) grain — the posting " +
        "explode is DF-cap-bounded (≤50 docs/shingle) and the shape is " +
        "measured linear with zero spill to ×1000 (SURVEY §8.11)"))

  test("no SortAggregate over a nested-loop or generate fan-out") {
    def amplified(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.exchange.Exchange => false
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _: org.apache.spark.sql.execution.GenerateExec => true
      case other => other.children.exists(amplified)
    }
    val flagged = audits.flatMap { a =>
      Option(a.plan).toSeq.flatMap(_.collect {
        case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec
            if amplified(s.child) => a.name
      })
    }.distinct.sorted
    val offenders = flagged.filterNot(sortAggFanoutAllowed.contains)
    val stale = sortAggFanoutAllowed.keySet -- flagged
    assert(offenders.isEmpty && stale.isEmpty,
      s"SortAggregate over a fan-out (sorts the multiplied mass) in: " +
        offenders.mkString(", ") +
        (if (stale.nonEmpty) s"\nstale allowlist entries: ${stale.toSeq.sorted.mkString(", ")}" else ""))
  }

  /** Registry-wide grouped-SortAggregate census, generalizing the
    * fan-out axis above: a SortAggregateExec with non-empty grouping
    * keys external-sorts its input per task even over LINEAR input — at 100 TB that is a spill-prone sort where a
    * hash aggregate streams. The census found exactly three linear
    * sites; two were avoidable and are now hash shapes (q13i's
    * max(struct) argmax → max_by over a collision-free decimal
    * ordering; q9d_segmentation's first(CASE..string) label → post-agg
    * projection, mirroring its approx twin), leaving only the two
    * intrinsic amplified shapes below. GROUPING-KEY-FREE
    * SortAggregates (q26a's global sketch+string-minmax agg) are
    * exempt by construction: requiredChildOrdering is empty, so no
    * sort is inserted and the node degenerates to a streaming fold.
    * Exact-stale allowlist, same contract as every other axis here.
    */
  private val groupedSortAggAllowed: Map[String, String] = Map(
    "q12d_fingerprint" ->
      ("min(md5 string) at (doc, position) shingle grain — string " +
        "buffers are not hash-mutable and the min IS the query"),
    "q13c_minhash_lsh" ->
      ("8 signature string-mins at (doc, shingle) grain — DF-cap " +
        "bounded, measured linear with zero spill to ×1000"))

  /** Null-order census RATCHET: every NULLS-FIRST ordering over a
    * NULLABLE expression in the registry's analyzed plans — the one
    * direction where Spark's defaults diverge from DuckDB's (Spark asc
    * = nulls FIRST; DuckDB = nulls LAST both ways) — must carry a
    * triage annotation below. A NEW query with
    * an untriaged site FAILS until it is pinned (`asc_nulls_last`),
    * convention-filtered, or triaged here; a fixed/removed site goes
    * STALE and fails too, the same exact-match contract as every
    * other axis in this spec. Collector shared with the
    * [[NullOrderCensus]] main (mutation m51 blinds it → both
    * directions of this test trip).
    *
    * Triage classes (SURVEY §8.14 / NULL_CONTRACT.md):
    *  - key-grain: warehouse key/id columns, non-null by the ingest
    *    dedup + TPC-H key contract;
    *  - derived-non-null: expression non-null by construction (md5
    *    of a key, the _w0 hash-ordering projections, q12q's race key
    *    behind its n_chars+1>0 filter);
    *  - convention-filtered: an isNotNull measure-exclusion upstream
    *    of the ordering (NULL_CONTRACT.md convention A);
    *  - coupled: nulls exactly when the partition key is null, so
    *    the dirty row is isolated in its own partition (q1a o_year);
    *  - literal-frame: ordering value from a source-code literal
    *    (q12c's stop-list langs);
    *  - operator-contract: AsofJoin's ts ordering — right-side nulls
    *    dropped, left-side carries nullified, AT the operator.
    *
    * The census also collects
    * EXPRESSION-level orderings ([[NullOrderCensus.exprSortHits]]:
    * sort_array / array_sort over a nullable element or struct
    * field) — the scope gap where q27's NULL-month EMA seed hid;
    * those carry `EXPR` keys below. Orderings buried in other
    * expressions (min/max_by over nullable tiebreaks, aggregate()
    * folds whose ORDER comes from an upstream sort already counted)
    * remain fixture-probe territory.
    */
  private val kg = "key-grain"
  private val dn = "derived-non-null"
  private val cf = "convention-filtered"
  private val nullOrderTriage: Map[(String, String), String] = {
    val md5Sql = "md5(CAST(CAST(vec_id AS STRING) AS BINARY))"
    // the md5-medoid seed device shared by the cell-based ANN family:
    // _w0 is the analyzer's projection of the md5 hash the global
    // seed window orders by; vec_id is its key-grain tiebreak
    val annCells = Seq("q14c_ann_ivf", "q14e_semantic_dedup",
      "q14f_ann_ivf_multiprobe", "q14g_ann_ivfpq", "q14h_kmeans_step",
      "q14k_ann_recall").flatMap(q => Seq(
      (q, "WINDOW ASC _w0") -> dn,
      (q, "WINDOW ASC vec_id") -> kg,
      (q, s"SORT ASC $md5Sql") -> dn,
      (q, "SORT ASC vec_id") -> kg))
    // per-query rank tiebreak on the candidate id (ANN result grain)
    val annCand = Seq("q14a_ann_brute_topk", "q14b_ann_lsh",
      "q14c_ann_ivf", "q14f_ann_ivf_multiprobe", "q14g_ann_ivfpq",
      "q14k_ann_recall").map(q => (q, "WINDOW ASC cand_id") -> kg)
    // EXPR sites: cell/d are fold/posexplode results (never null),
    // term/w1/w2 are exploded split tokens (explode emits no nulls;
    // a null text yields no rows) — all derived-non-null; the
    // genuinely nullable leads (mon, dur) are convention-filtered
    val centFrame = "struct<cell:int,cemb:array<float>,cn2:double>"
    val exprHits = Seq(
      ("q12r_unigram_logprob",
        "EXPR SORT_ARRAY struct<term:string,x:double>") -> dn,
      ("q12t_perplexity_buckets", // q12r's xentPerDoc, below its rank
        "EXPR SORT_ARRAY struct<term:string,x:double>") -> dn,
      ("q12x_bigram_logprob",
        "EXPR SORT_ARRAY struct<w1:string,w2:string,x:double>") -> dn,
      ("q14c_ann_ivf", s"EXPR SORT_ARRAY $centFrame") -> dn,
      ("q14e_semantic_dedup", s"EXPR SORT_ARRAY $centFrame") -> dn,
      ("q14f_ann_ivf_multiprobe", s"EXPR SORT_ARRAY $centFrame") -> dn,
      // q14g stages its cell assignment while its frame is built, so
      // its centFrame sort_array is not in its registered plan
      ("q14g_ann_ivfpq",
        "EXPR SORT_ARRAY struct<cell:int,cemb:array<float>>") -> dn,
      ("q14k_ann_recall", s"EXPR SORT_ARRAY $centFrame") -> dn,
      ("q14k_ann_recall",
        "EXPR SORT_ARRAY struct<cell:int,cemb:array<float>>") -> dn,
      ("q14h_kmeans_step",
        "EXPR SORT_ARRAY struct<cell:int,ccs:array<bigint>>") -> dn,
      // the sg fields are min(md5(non-null)) over >=1-row per-doc
      // groups (derived-non-null), and the LEADING sort field doc_id is
      // unique inside each bucket's collect_list, so the nested fields
      // never act as comparator tiebreaks at all
      ("q13c_minhash_lsh",
        "EXPR SORT_ARRAY struct<doc_id:bigint,sg:struct<h0:string," +
          "h1:string,h2:string,h3:string,h4:string,h5:string") -> dn,
      ("q14h_kmeans_step", "EXPR SORT_ARRAY struct<d:int,m:bigint>") -> dn,
      ("q27_exp_smoothing",
        "EXPR ARRAY_SORT struct<mon:string,rev:double>") -> cf,
      ("q27b_holt_trend",
        "EXPR ARRAY_SORT struct<mon:string,rev:double>") -> cf,
      ("q9r_survival_km",
        "EXPR ARRAY_SORT struct<dur:bigint,n_risk:bigint,d:bigint>") -> cf)
    (annCells ++ annCand ++ exprHits ++ Seq(
      ("q12c_langid", "WINDOW ASC slang") -> "literal-frame",
      ("q12q_weighted_sample", "SORT ASC __ikey") -> dn,
      ("q12q_weighted_sample", "SORT ASC doc_id") -> kg,
      ("q12y_bm25_topk", "WINDOW ASC doc_id") -> kg,
      ("q1a_yoy_growth", "WINDOW ASC o_year") -> "coupled",
      ("q24c_event_transitions", "WINDOW ASC ts") -> cf,
      ("q24c_event_transitions", "WINDOW ASC event_id") -> kg,
      ("q24d_attribution", "WINDOW ASC ts") -> "operator-contract",
      ("q25c_next_item", "WINDOW ASC o_orderdate") -> cf,
      ("q25c_next_item", "WINDOW ASC o_orderkey") -> kg,
      ("q25c_next_item", "WINDOW ASC part_from") -> kg,
      ("q25c_next_item", "WINDOW ASC part_to") -> kg,
      ("q25c_next_item", "SORT ASC part_from") -> kg,
      ("q25c_next_item", "SORT ASC part_to") -> kg,
      ("q26f_skew_audit", "SORT ASC k") -> cf,
      ("q3a_rank_ntile", "WINDOW ASC c_custkey") -> kg,
      ("q3c_window_extras", "WINDOW ASC c_custkey") -> kg,
      ("q3b_moving_avg_ytd", "WINDOW ASC ship_day") -> cf,
      ("q5a_top_ltv", "SORT ASC c_custkey") -> kg,
      ("q5c_ltv_payment_grain", "SORT ASC customer_id") -> kg,
      ("q9d_segmentation", "WINDOW ASC o_custkey") -> kg,
      ("q9q_weighted_median", "WINDOW ASC qty") -> cf,
      ("q9r_survival_km", "WINDOW ASC dur") -> cf,
      ("q9u_mad_outliers", "WINDOW ASC v") -> cf,
      ("q9u_mad_outliers", "WINDOW ASC d") -> cf)).toMap
  }

  test("nullable NULLS-FIRST orderings only on the triaged census allowlist") {
    val hits = audits.flatMap(a => a.nullOrderHits.map(h => (a.name, h)))
      .distinct
    val untriaged = hits.filterNot(nullOrderTriage.contains)
    val stale = nullOrderTriage.keySet -- hits.toSet
    assert(untriaged.isEmpty && stale.isEmpty,
      (if (untriaged.nonEmpty)
        s"UNTRIAGED nullable nulls-first ordering sites (pin " +
          s"asc_nulls_last, convention-filter, or triage them — see " +
          s"NULL_CONTRACT.md):\n" +
          untriaged.sorted.map { case (q, h) => s"  $q: $h" }.mkString("\n")
      else "") +
        (if (stale.nonEmpty)
          s"\nstale triage entries (site no longer in the census): " +
            stale.toSeq.sorted.mkString(", ")
        else ""))
  }

  /** Unit pin for the census collector itself: a nullable field
    * NESTED one struct level deeper (struct<a:struct<b:nullable>>)
    * still steers Spark's struct comparator inside
    * sort_array/array_sort, so [[NullOrderCensus.exprSortHits]] must
    * see it; a top-level-only check is blind to this shape. Negative
    * control: the same nesting with every field non-null must stay
    * invisible (no false positives widening the ratchet allowlist).
    */
  test("exprSortHits recurses into nested struct-field nullability") {
    import org.apache.spark.sql.functions.{array, col, lit, sort_array, struct, when}
    import spark.implicits._
    val df = Seq((1, 2), (3, 4)).toDF("a", "b")
    val nested = df.select(sort_array(array(struct(
      struct(when(col("a") > 1, col("b")).as("inner")).as("outer"),
      col("a").as("k")))).as("arr"))
    val hits = NullOrderCensus.exprSortHits(nested.queryExecution.analyzed)
    assert(hits.exists(_.startsWith("EXPR SORT_ARRAY")),
      s"nested nullable struct field invisible to the census: $hits")
    val clean = df.select(sort_array(array(struct(
      struct(col("b").as("inner")).as("outer"), col("a").as("k")))).as("arr"))
    assert(NullOrderCensus.exprSortHits(
      clean.queryExecution.analyzed).isEmpty,
      "non-null nested struct must not trip the census")
  }

  test("grouped SortAggregate only on the exact census allowlist") {
    val flagged = audits.flatMap { a =>
      Option(a.plan).toSeq.flatMap(_.collect {
        case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec
            if s.groupingExpressions.nonEmpty => a.name
      })
    }.distinct.sorted
    val offenders = flagged.filterNot(groupedSortAggAllowed.contains)
    val stale = groupedSortAggAllowed.keySet -- flagged
    assert(offenders.isEmpty && stale.isEmpty,
      s"grouped SortAggregate (external sort per task; use a " +
        s"hash-mutable buffer shape) in: ${offenders.mkString(", ")}" +
        (if (stale.nonEmpty) s"\nstale allowlist entries: ${stale.toSeq.sorted.mkString(", ")}" else ""))
  }
}
