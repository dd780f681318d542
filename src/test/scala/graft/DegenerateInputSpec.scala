package graft

import org.apache.spark.sql.SparkSession

/** Global ratchet: every registered query must survive a DEGENERATE
  * warehouse — zero rows, and a near-empty 3-row slice — without a
  * runtime error. The r10 advice found exactly this class of latent
  * bug (q9r: `slice(arr, 2, size-1)` throws on an all-censored input
  * while the DuckDB twin returns an empty frame — an engine-divergent
  * failure invisible to the sf0.01 oracle, which never feeds the
  * degenerate shape). At 100 TB the degenerate shape is not
  * hypothetical: a partition-pruned read, a filter that matches
  * nothing, or a fresh tenant's empty warehouse all hand every
  * operator zero rows, and "crashes the job" is the wrong answer.
  *
  * The sweep executes ALL of SparkEntry.queries against both dirs and
  * demands an exact match with the allowlist of queries whose
  * contract genuinely requires data (each with a documented reason) —
  * so a new crash AND a stale allowlist entry both fail the build.
  */
class DegenerateInputSpec extends SparkTestBase {

  /** Queries whose CONTRACT requires a non-empty input, with the
    * reason. Anything not listed here must run crash-free. */
  private val mayFailEmpty: Map[String, String] = Map(
    "q9j_churn_model" -> ("Spark ML RandomForest refuses an empty " +
      "training set (SparkException: ML algorithm was given empty " +
      "dataset) — a trainer that silently emitted a model from zero " +
      "examples would be the bug; loud failure is the contract"),
    "q9k_elasticity_lr" -> ("Spark ML LinearRegression asserts " +
      "non-empty training data — same contract as q9j: no model from " +
      "zero examples"))

  private val mayFailTiny: Map[String, String] = Map.empty

  private val mayFailConst: Map[String, String] = Map.empty

  private val mayFailFlat: Map[String, String] = Map.empty

  private val mayFailNulls: Map[String, String] = Map(
    "q9k_elasticity_lr" -> ("all prices NULL → every price band is " +
      "filtered by avg_price > 0 → empty training set; Spark ML's " +
      "loud refusal is the contract (same as the empty-warehouse " +
      "q9j/q9k entries)"))

  private val mayFailOutlier: Map[String, String] = Map.empty

  private val mayFailMixed: Map[String, String] = Map.empty

  private val mayFailHeavy: Map[String, String] = Map.empty

  private val mayFailHeavyPrice: Map[String, String] = Map.empty

  private val mayFailHeavyTie: Map[String, String] = Map.empty

  private val mayFailLinkedMixed: Map[String, String] = Map.empty

  private val mayFailLinkedSeq: Map[String, String] = Map.empty

  private val mayFailBoundary: Map[String, String] = Map.empty

  private def sweep(dir: String, allow: Map[String, String]): Unit = {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, dir).collect(); None }
        catch {
          case e: Throwable =>
            Some(name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
    }.toMap
    val unexpected = failures -- allow.keySet
    val stale = allow.keySet -- failures.keySet
    assert(unexpected.isEmpty,
      s"queries crashed on degenerate input ($dir):\n" +
        unexpected.toSeq.sortBy(_._1).map { case (n, e) => s"  $n: $e" }.mkString("\n"))
    assert(stale.isEmpty,
      s"stale allowlist entries (no longer fail on $dir): $stale")
  }

  test("every registered query survives an empty warehouse") {
    sweep(DegenerateData.emptyDir(spark), mayFailEmpty)
  }

  test("every registered query survives a 3-row warehouse") {
    sweep(DegenerateData.tinyDir(spark), mayFailTiny)
  }

  test("every registered query survives a constant (zero-variance) warehouse") {
    sweep(DegenerateData.constDir(spark), mayFailConst)
  }

  test("every registered query survives a flat (key-unique zero-variance) warehouse") {
    sweep(DegenerateData.flatDir(spark), mayFailFlat)
  }

  test("every registered query survives an all-NULL-measures warehouse") {
    sweep(DegenerateData.nullsDir(spark), mayFailNulls)
  }

  test("every registered query survives a plausible-outlier warehouse") {
    sweep(DegenerateData.outlierDir(spark), mayFailOutlier)
  }

  test("every registered query survives a mixed null/valid warehouse") {
    sweep(DegenerateData.mixedDir(spark), mayFailMixed)
  }

  test("every registered query survives a heavy-null-cell warehouse") {
    sweep(DegenerateData.heavyDir(spark), mayFailHeavy)
  }

  test("every registered query survives a heavy-null-price warehouse") {
    sweep(DegenerateData.heavypriceDir(spark), mayFailHeavyPrice)
  }

  test("every registered query survives a linked dirty star (heavytie)") {
    sweep(DegenerateData.heavytieDir(spark), mayFailHeavyTie)
  }

  test("every registered query survives a linked mixed-null warehouse") {
    sweep(DegenerateData.linkedmixedDir(spark), mayFailLinkedMixed)
  }

  test("every registered query survives a linked null-sequence warehouse") {
    sweep(DegenerateData.linkedseqDir(spark), mayFailLinkedSeq)
  }

  test("every registered query survives the exact-edge boundary warehouse") {
    sweep(DegenerateData.boundaryDir(spark), mayFailBoundary)
  }

  /** The engine's NaN position, pinned: non-finite measures are
    * OUT-OF-CONTRACT for the analytical paths (an ANSI cast fails
    * loudly rather than emitting silent garbage), and the ingest
    * validation gate is what catches them — `NaN <= bound` is false
    * on both engines, so a NaN discount/tax row routes to the q7b
    * error sink by construction, never into the warehouse. This test
    * proves the routing actually happens rather than claiming it.
    */
  test("NaN measures route to the q7b error sink, not into the warehouse") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = DegenerateData.nanLineitemDir(spark)
    val sink = SparkEntry.queries("q7b_error_sink")(spark, dir)
      .select($"l_orderkey", $"l_linenumber").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val nanKeys = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(isnan($"l_discount") || isnan($"l_tax"))
      .select($"l_orderkey", $"l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(nanKeys.nonEmpty, "fixture must contain NaN rows")
    assert(nanKeys.subsetOf(sink),
      s"NaN rows ${nanKeys -- sink} escaped the error sink")
  }
}

/** Builds the degenerate warehouse dirs once per JVM: the sf0.001
  * schema (so type normalization paths like Tables.events see the real
  * on-disk types) with 0 and 3 rows per table.
  */
object DegenerateData {
  /** The one build scaffold every fixture shares: per-table transform
    * of the raw sf0.001 read, single-file write, `_BUILT` marker for
    * once-per-JVM idempotence. A new degenerate shape is just its
    * transform.
    *
    * The marker CONTENT is a version token (r15 ADVICE): editing a
    * fixture's hand-tuned transform (e.g. heavyDir's weights, which
    * WeightedMedianSpec's hand-derived expectation and mutation m40
    * depend on) MUST bump that fixture's `version` argument — a stale
    * cached dir then rebuilds instead of silently serving the old
    * shape until target/degenerate is cleaned. The marker KEEPS the
    * `_BUILT` name because tools/audit_degenerate.sh checks for it by
    * name before replaying a shape.
    */
  private def buildDir(spark: SparkSession, label: String, version: Int = 1)(
      transform: (String, org.apache.spark.sql.DataFrame)
        => org.apache.spark.sql.DataFrame): String = synchronized {
    val root = s"target/degenerate/$label"
    val done = java.nio.file.Paths.get(root, "_BUILT")
    val token = s"v$version"
    val fresh = java.nio.file.Files.exists(done) &&
      java.nio.file.Files.readString(done).trim == token
    if (!fresh) {
      Tables.names.foreach { t =>
        transform(t,
          spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$root/$t.parquet")
      }
      java.nio.file.Files.writeString(done, token)
    }
    root
  }

  def emptyDir(spark: SparkSession): String =
    buildDir(spark, "empty")((_, df) => df.limit(0))
  def tinyDir(spark: SparkSession): String =
    buildDir(spark, "tiny")((_, df) => df.limit(3))

  /** Null-measures warehouse: key/id columns intact (joins still
    * resolve), EVERY other column NULL — the dirty-feed shape. Flushed
    * five real latent crashes on first run: a getDouble on a NULL
    * covariance, a NULL-unsafe PrefixSum, two `.as[Int]` decodes of a
    * NULL-derived partition year, and an avro writer whose schema
    * lacked the nullable-union mapping.
    */
  def nullsDir(spark: SparkSession): String = {
    import org.apache.spark.sql.functions.{col, lit}
    val keep = Set("l_linenumber", "event_id", "user_id", "doc_id", "vec_id")
    buildDir(spark, "nulls") { (_, raw) =>
      val df = raw.limit(3)
      val cols = df.schema.fields.map { f =>
        if (f.name.endsWith("key") || keep(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      df.select(cols.toIndexedSeq: _*)
    }
  }

  /** Mixed null/valid warehouse: 3 rows per table, the MIDDLE row's
    * non-key columns NULL, rows 1 and 3 untouched — the shape the
    * all-NULL dir is accidentally symmetric on: per-group sequences
    * MIXING null and valid order keys flush engine null-ordering
    * defaults (Spark windows sort NULLS FIRST ascending, DuckDB
    * NULLS LAST). Flushed three live twin divergences on first run —
    * q3b's moving average over a NULL ship day, q28's recency
    * quartiles over a NULL last order, q9r's risk sets over a NULL
    * duration — each fixed by the q15/q24c convention: an undateable
    * row is excluded from ordered sequences on BOTH engines
    * (SURVEY §8.11).
    */
  def mixedDir(spark: SparkSession): String = {
    import org.apache.spark.sql.functions.{col, lit, row_number, when}
    import org.apache.spark.sql.expressions.Window
    val keep = Set("l_linenumber", "event_id", "user_id", "doc_id", "vec_id")
    buildDir(spark, "mixed") { (_, raw) =>
      val base = raw.limit(3)
      val keyCol = base.schema.fieldNames.head
      val df = base.withColumn("__rn",
        row_number().over(Window.orderBy(col(keyCol))))
      val cols = base.schema.fields.map { f =>
        if (f.name.endsWith("key") || keep(f.name)) col(f.name)
        else when(col("__rn") === 2, lit(null).cast(f.dataType))
          .otherwise(col(f.name)).as(f.name)
      }
      df.select(cols.toIndexedSeq: _*)
    }
  }

  /** Outlier warehouse: every value is a PLAUSIBLE dirty extreme — the
    * fat-finger price, the return with negative quantity, the 100%
    * discount, the 1900/2199 boundary date, malformed JSON props, an
    * empty document next to a 60 kB one next to a single 50k-char
    * token, combining-mark unicode, negative metadata, the zero-norm
    * embedding. At 100 TB every one of these exists in the feed; a
    * query that crashes on one outlier row is a job-killer. Values are
    * chosen inside the engine's numeric domains AT FIXTURE SCALE
    * (cents grain < 2^63; the ±10 vectors keep PCA's BIGINT moment
    * sums at 3·1e14 ≪ 2^63 for n = 3 — a 100 TB corpus of such
    * unnormalized vectors would instead hit the quantizer's LOUD ANSI
    * overflow, the documented MomScale envelope contract), so any
    * crash here is a latent bug, not an out-of-domain demand.
    */
  def outlierDir(spark: SparkSession): String = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    buildDir(spark, "outlier") { (t, raw) =>
        val base = raw.limit(3)
        val keyCol = base.schema.fieldNames.head
        val rn = row_number().over(Window.orderBy(col(keyCol)))
        def pick(c1: Column, c2: Column, c3: Column): Column =
          when(col("__rn") === 1, c1).when(col("__rn") === 2, c2).otherwise(c3)
        val df = base.withColumn("__rn", rn)
        val out = t match {
          case "customer" => df
            .withColumn("c_acctbal", pick(lit(-9.9e9), lit(9.99e11), lit(0.0)))
          case "supplier" => df
            .withColumn("s_acctbal", pick(lit(-9.9e9), lit(9.99e11), lit(0.0)))
          case "part" => df
            .withColumn("p_size", pick(lit(0), lit(1000000), lit(1)))
            .withColumn("p_retailprice", pick(lit(-1.0), lit(9.9e9), lit(0.0)))
          case "orders" => df
            .withColumn("o_totalprice", pick(lit(-5.0e4), lit(9.9e12), lit(0.0)))
            .withColumn("o_orderdate", pick(
              lit("1900-01-01").cast("timestamp"),
              lit("2199-12-31").cast("timestamp"), col("o_orderdate")))
          case "lineitem" => df
            .withColumn("l_quantity", pick(lit(-50.0), lit(1.0e6), lit(0.0)))
            .withColumn("l_extendedprice", pick(lit(-1.0e4), lit(9.9e12), lit(0.0)))
            .withColumn("l_discount", pick(lit(1.0), lit(0.5), lit(0.0)))
            .withColumn("l_tax", pick(lit(1.0), lit(0.0), lit(0.0)))
            .withColumn("l_shipdate", pick(
              lit("1900-01-01").cast("timestamp"),
              lit("2199-12-31").cast("timestamp"), col("l_shipdate")))
          case "events" => df
            // row 3 is an UNDATEABLE event (NULL ts) and shares
            // user_id with row 2's 2100 boundary — a MIXED
            // null/non-null per-user window, the shape that flushes
            // NULLS FIRST (Spark) vs NULLS LAST (DuckDB) ordering
            // divergence in sessionization twins (the all-NULL
            // fixture is accidentally symmetric there)
            .withColumn("ts", pick(
              lit("1970-01-01 00:00:00").cast("timestamp"),
              lit("2100-01-01 00:00:00").cast("timestamp"),
              lit(null).cast("timestamp")))
            .withColumn("value", pick(lit(-1.0e12), lit(1.0e15), lit(0.0)))
            .withColumn("props", pick(lit("{\"broken"), lit("{}"), col("props")))
            .withColumn("event_type", pick(lit(""), col("event_type"), col("event_type")))
          case "documents" => df
            .withColumn("text", pick(
              lit(""),
              concat(repeat(lit("ab ćd 🚀 "), 6000), lit("héllo wörld")),
              repeat(lit("x"), 50000)))
            .withColumn("n_chars", pick(lit(-1L), lit(0L), lit(50000L)))
          case "embeddings" => df
            .withColumn("embedding", pick(
              expr("transform(sequence(1, 64), i -> CAST(0.0 AS FLOAT))"),
              expr("transform(sequence(1, 64), i -> CAST(10.0 AS FLOAT))"),
              expr("transform(sequence(1, 64), i -> CAST(CASE WHEN i % 2 = 0 THEN 10.0 ELSE -10.0 END AS FLOAT))")))
            .withColumn("label", pick(lit(-1), col("label"), col("label")))
          case _ => df
        }
        out.drop("__rn")
    }
  }

  /** Heavy-null-cell warehouse: the residual blind spot the r13
    * patchwork/single-column probes could not reach at 3-row scale
    * (every probe row landed in its OWN group, so a NULL ordering
    * value never coexisted with ≥2 real cells in one partition).
    * lineitem collapses to FOUR rows in ONE (l_returnflag,
    * l_linestatus) group: real quantity cells 1/2/3 at 1000¢ weight
    * each, and a NULL-quantity row carrying a 10000¢ weight — LARGE
    * relative to the partition. Any window that cumulates a weight
    * ordered by a nullable value now sees the null cell shift EVERY
    * real cell's cumulative sum under Spark's nulls-first ascending
    * vs only the tail under DuckDB's nulls-last (pre-fix q9q: Spark
    * picked qty=1 at 2·11000 ≥ 13000 while the twin's no real cell
    * reached 2·cw ≥ tw → NULL median). Other tables stay tiny-normal;
    * keys are intact so joins resolve.
    */
  def heavyDir(spark: SparkSession): String = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    buildDir(spark, "heavy") { (t, raw) =>
      if (t != "lineitem") raw.limit(3)
      else {
        val rn = row_number().over(Window.orderBy(col("l_orderkey"),
          col("l_linenumber")))
        val df = raw.limit(4).withColumn("__rn", rn)
        def byRow(c1: Column, c2: Column, c3: Column, c4: Column): Column =
          when(col("__rn") === 1, c1).when(col("__rn") === 2, c2)
            .when(col("__rn") === 3, c3).otherwise(c4)
        df.withColumn("l_returnflag", lit("A"))
          .withColumn("l_linestatus", lit("F"))
          .withColumn("l_quantity", byRow(
            lit(1.0), lit(null).cast("double"), lit(2.0), lit(3.0)))
          .withColumn("l_extendedprice", byRow(
            lit(10.0), lit(100.0), lit(10.0), lit(10.0)))
          .withColumn("l_discount", lit(0.0))
          .drop("__rn")
      }
    }
  }

  /** Heavy-null-price warehouse (r15, COMMITTED — the probe was
    * POSITIVE): the heavy idea on the MONETARY axis — a price-less
    * row inside one segment's value-ordered cumulation (the third
    * axis after quantity=q9q/`heavy` and time=`heavytime`, NEGATIVE).
    * First twin replay caught q9u's lower-median walk live (spark
    * median_v=2 vs duck 3: no null exclusion, so the NULL cell rode
    * Spark's nulls-first cumulation), fixed by the q15/q24c
    * convention and pinned by MadOutliersSpec + mutation m41.
    * orders collapses to FOUR rows of ONE real customer
    * (one c_mktsegment group; the join resolves by construction —
    * mixed/outlier never reached this because their 3-row
    * orders.o_custkey values don't intersect customer.limit(3)):
    * o_totalprice 100 / NULL / 200 / 300 → value cells v=1,2,3 plus
    * a NULL cell in ONE segment. Any lower-median walk ordered by the
    * nullable value sees the NULL cell shift every real cell's
    * cumulative count under Spark's nulls-first ascending vs none
    * under DuckDB's nulls-last. Other tables tiny-normal, keys
    * intact.
    */
  def heavypriceDir(spark: SparkSession): String = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // Host key = GLOBAL min c_custkey, and the customer fixture below
    // is orderBy(c_custkey).limit(3) — so the host is contained in the
    // written slice BY CONSTRUCTION, independent of parquet scan order
    // (r16 ADVICE: the r15 form took min over a bare limit(3), which
    // is not contractually deterministic; MadOutliersSpec's
    // hand-derived FURNITURE expectation silently rode scan order).
    // On sf0.001 the file is key-ordered, so the selected rows — and
    // the host's FURNITURE segment — are unchanged; version bumped to
    // force the rebuild anyway.
    val hostCustkey = spark.read
      .parquet("/root/testdata/sf0.001/customer.parquet")
      .agg(org.apache.spark.sql.functions.min(col("c_custkey")))
      .head.getLong(0)
    buildDir(spark, "heavyprice", version = 2) { (t, raw) =>
      if (t == "customer") raw.orderBy(col("c_custkey")).limit(3)
      else if (t != "orders") raw.limit(3)
      else {
        val rn = row_number().over(Window.orderBy(col("o_orderkey")))
        val df = raw.limit(4).withColumn("__rn", rn)
        def byRow(c1: Column, c2: Column, c3: Column, c4: Column): Column =
          when(col("__rn") === 1, c1).when(col("__rn") === 2, c2)
            .when(col("__rn") === 3, c3).otherwise(c4)
        df.withColumn("o_custkey", lit(hostCustkey))
          .withColumn("o_totalprice", byRow(
            lit(100.0), lit(null).cast("double"), lit(200.0), lit(300.0)))
          .drop("__rn")
      }
    }
  }

  /** `heavytie` (r15, COMMITTED — the probe caught TWO live
    * divergences on first replay): a REFERENTIALLY-LINKED dirty star.
    * The other dirty shapes never resolve the fact joins
    * (mixed/nulls/outlier: lineitem.l_orderkey 201/594/810 vs
    * orders.o_orderkey 0/1/2 — every join-grain twin replay was
    * vacuously green), so a NULL dim attribute inside a RESOLVED
    * join group was unexercised. This shape wires every FK to rn-1
    * (all limit(3) dim keys are 0,1,2), gives all three lineitems
    * IDENTICAL revenue (1000, discount 0 → an EXACT 3-way nation
    * revenue tie), and NULLs nation row 2's n_name. First replay:
    * q9f's rank tiebreak ranked the NULL-name nation first under
    * Spark's asc=nulls-first (duck: last) — fixed by pinning
    * asc_nulls_last; q9o DROPPED the NULL-name group entirely (its
    * rank-check device re-joins cust→stats on the group key, and a
    * plain equi-join can't match NULL to NULL while the twin's direct
    * GROUP BY keeps the group) — fixed with a null-safe join.
    * Both pinned by HeavyTieSpec + mutations m42/m43.
    */
  def heavytieDir(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    buildDir(spark, "heavytie") { (t, raw) =>
      val base = raw.limit(3)
      val keyCol = base.schema.fieldNames.head
      val withRn = base.withColumn("__fk",
        row_number().over(Window.orderBy(col(keyCol))) - 1)
      val out = t match {
        case "customer" => withRn.withColumn("c_nationkey", col("__fk"))
        case "supplier" => withRn.withColumn("s_nationkey", col("__fk"))
        case "nation" => withRn
          .withColumn("n_regionkey", col("__fk"))
          .withColumn("n_name",
            when(col("__fk") === 1, lit(null).cast("string"))
              .otherwise(col("n_name")))
        case "orders" => withRn.withColumn("o_custkey", col("__fk").cast("long"))
        case "lineitem" => withRn
          .withColumn("l_orderkey", col("__fk").cast("long"))
          .withColumn("l_partkey", col("__fk").cast("long"))
          .withColumn("l_suppkey", col("__fk").cast("long"))
          .withColumn("l_extendedprice", lit(1000.0))
          .withColumn("l_discount", lit(0.0))
          .withColumn("l_tax", lit(0.0))
        case _ => withRn
      }
      out.drop("__fk")
    }
  }

  /** `linkedmixed` (r15, COMMITTED — the probe caught THREE live
    * divergences on first replay): the mixed shape (middle row's
    * non-key columns NULL) ON TOP OF heavytie's referential wiring,
    * so every join-grain query sees dirty VALUES flow through
    * RESOLVED joins for the first time (plain mixed never resolves
    * the fact joins). No tie flattening — revenues keep their raw
    * per-row values. First replay: q21's TopKAggregator coerced a
    * NULL-revenue group to 0.0 (fixed by the q15/q24c exclusion on
    * both engines); q26c/q26d's TWINS dropped the NULL-segment group
    * through a plain `seg = seg` rejoin while the engine's window
    * totals kept it (fixed with IS NOT DISTINCT FROM — the mirror
    * image of q9o). Pinned by LinkedMixedSpec + mutations m44–m46.
    */
  def linkedmixedDir(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val keep = Set("l_linenumber", "event_id", "user_id", "doc_id", "vec_id")
    buildDir(spark, "linkedmixed") { (t, raw) =>
      val base = raw.limit(3)
      val keyCol = base.schema.fieldNames.head
      val withRn = base.withColumn("__fk",
        row_number().over(Window.orderBy(col(keyCol))) - 1)
      val wired = t match {
        case "customer" => withRn.withColumn("c_nationkey", col("__fk"))
        case "supplier" => withRn.withColumn("s_nationkey", col("__fk"))
        case "nation" => withRn.withColumn("n_regionkey", col("__fk"))
        case "orders" => withRn.withColumn("o_custkey", col("__fk").cast("long"))
        case "lineitem" => withRn
          .withColumn("l_orderkey", col("__fk").cast("long"))
          .withColumn("l_partkey", col("__fk").cast("long"))
          .withColumn("l_suppkey", col("__fk").cast("long"))
        case _ => withRn
      }
      val cols = base.schema.fields.map { f =>
        if (f.name.endsWith("key") || keep(f.name)) col(f.name)
        else when(col("__fk") === 1, lit(null).cast(f.dataType))
          .otherwise(col(f.name)).as(f.name)
      }
      wired.select(cols.toIndexedSeq: _*)
    }
  }

  /** `linkedseq` (r16, COMMITTED — the probe caught FIVE live
    * divergences on first replay: q25c, q27, q27b, q24d, q15d): the
    * SEQUENCE axis over heavytie's referential wiring — the two
    * blind spots left after r15's linked shapes:
    *  1. a NULL o_orderdate inside a MULTI-order customer's sequence
    *     (linkedmixed wires one order per customer, so its null date
    *     rides a 1-row partition): caught q25c's next-item rank
    *     (nulls-first vs nulls-last rn → every transition pair
    *     shifted) and q27/q27b's EMA/Holt seed (the NULL month sorts
    *     FIRST inside array_sort's struct ordering — an
    *     EXPRESSION-level sort the NullOrderCensus cannot see — vs
    *     DuckDB's ROW_NUMBER ranking it last);
    *  2. a NULL-ts CLICK preceding a purchase with no real prior
    *     click (linkedmixed nulls event_type together with ts, so a
    *     null-ts row never enters the click branch): caught q24d's
    *     asof carry reading 'click_older' where DuckDB's native ASOF
    *     says 'organic' — fixed at the OPERATOR (AsofJoin's NULL-ts
    *     contract), so q15f/q15h inherit it.
    * The crafted EXACT-30-min event gap (12:00 → 12:30) additionally
    * caught q15d's twin boundary: Spark's session_window merges an
    * event landing exactly at the previous session's end, the twin's
    * `>=` islands test opened a new one — a BOUNDARY-semantics class,
    * not null ordering, invisible to sf0.01's micros-grain stamps.
    * All pinned by LinkedSeqSpec + mutations m47–m50.
    */
  def linkedseqDir(spark: SparkSession): String = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    buildDir(spark, "linkedseq", version = 2) { (t, raw) =>
      // Deterministic slice (r17 ADVICE): order by key BEFORE limit —
      // a bare limit(n) rides parquet scan order, the heavyprice
      // nondeterminism class. lineitem's head key repeats per line,
      // so it needs the linenumber tiebreak for a unique prefix.
      val keyCol = raw.schema.fieldNames.head
      val ordered =
        if (t == "lineitem")
          raw.orderBy(col("l_orderkey"), col("l_linenumber"))
        else raw.orderBy(col(keyCol))
      val base = ordered.limit(
        if (t == "orders" || t == "lineitem" || t == "events") 4 else 3)
      val withRn = base.withColumn("__fk",
        row_number().over(Window.orderBy(col(keyCol))) - 1)
      def byRow(c1: Column, c2: Column, c3: Column, c4: Column): Column =
        when(col("__fk") === 0, c1).when(col("__fk") === 1, c2)
          .when(col("__fk") === 2, c3).otherwise(c4)
      val out = t match {
        case "customer" => withRn.withColumn("c_nationkey", col("__fk"))
        case "supplier" => withRn.withColumn("s_nationkey", col("__fk"))
        case "nation" => withRn.withColumn("n_regionkey", col("__fk"))
        case "orders" => withRn
          .withColumn("o_orderkey", col("__fk").cast("long"))
          .withColumn("o_custkey", lit(0L))
          .withColumn("o_orderdate", byRow(
            lit("1996-01-01 00:00:00").cast("timestamp"),
            lit(null).cast("timestamp"),
            lit("1996-03-01 00:00:00").cast("timestamp"),
            lit("1996-05-01 00:00:00").cast("timestamp")))
          // powers of two so the ¼/¾/½ EMA and Holt chains in
          // LinkedSeqSpec's hand derivations stay exact and short
          .withColumn("o_totalprice", byRow(
            lit(100.0), lit(200.0), lit(400.0), lit(800.0)))
        case "lineitem" => withRn
          .withColumn("l_orderkey", col("__fk").cast("long"))
          .withColumn("l_partkey", col("__fk").cast("long"))
          .withColumn("l_suppkey", (col("__fk") % 3).cast("long"))
          .withColumn("l_linenumber", lit(1))
        case "events" => withRn
          .withColumn("event_id", col("__fk").cast("long") + 1)
          .withColumn("user_id", lit(7L))
          .withColumn("event_type", byRow(
            lit("click"), lit("purchase"), lit("click"), lit("purchase")))
          .withColumn("ts", byRow(
            lit(null).cast("timestamp"),
            lit("1996-02-01 10:00:00").cast("timestamp"),
            lit("1996-02-01 12:00:00").cast("timestamp"),
            lit("1996-02-01 12:30:00").cast("timestamp")))
          .withColumn("value", (col("__fk") + 1).cast("double") * 10)
          .withColumn("props", lit("{}"))
        case _ => withRn
      }
      out.drop("__fk")
    }
  }

  /** `boundary` (r17 probe, verdict task 1): the EXACT-EDGE sweep for
    * the boundary-semantics divergence class q15d named (SURVEY
    * §8.14) — built-ins whose edge behavior the engine and the twin
    * must agree on, fed values landing EXACTLY on every edge the
    * registry uses. Unlike the null-axis shapes, every value here is
    * clean and well-formed; only its position is adversarial:
    *  - ntile cut structure: 7 customers-with-orders (global tertile
    *    n=7,k=3 → 3/2/2 remainder split; quartile 2/2/2/1), nation
    *    partitions sized 4/2/1 (n<k for ntile(100)), doc sources
    *    sized 6 (exact multiple) and 7 (remainder) for q12t's
    *    DistributedRank-vs-NTILE formula pair; an EXACT spend tie
    *    (c2=c3=2000) straddling the global tertile cut at rank 3/4;
    *  - top-k rank boundary: that same c2=c3 tie is nation0's
    *    rank-3/4 boundary, so q21's heap must break the equal-score
    *    tie on custkey exactly where the ROW_NUMBER twin cuts;
    *  - window frames: 8+ distinct ship days (the ROWS 6-PRECEDING
    *    frame fills exactly and slides), ship days 1996-12-31 →
    *    1997-01-01/02 (YTD partition reset at the year edge);
    *  - as-of: purchase ts EXACTLY equal to its click's ts
    *    (backward tie-inclusive on both engines), two clicks at the
    *    SAME (user, ts) (the dedupRight/MIN precondition exercised
    *    on real ties), a purchase whose nearest click is EXACTLY 1h
    *    old (age_us == 3600000000 bucket edge);
    *  - interval join: error at the click's exact ts (>= edge), at
    *    exactly +10:00 (<= edge), and at +10:01 (just outside);
    *  - session gaps: 12:00→12:30→13:00 EXACT 30-min touches (merge
    *    on touch, the m50 boundary, re-verified) then a 30:01 split;
    *  - multitouch horizon: click exactly 7 days before purchase
    *    (age == 604800000000 us, q24h's <= edge);
    *  - arithmetic edges: l_extendedprice exactly 10000.0/20000.0
    *    (q9c floor-band edges), shipdate = orderdate + exactly 30
    *    days (on-time <= 30 edge), o_orderdate exactly at q22's
    *    1997-01-01 cutoff and at 1996-12-31 23:59:59 (month/year
    *    index edges), custkey == suppkey on one line (haversine
    *    dist exactly 0.0 → the nullif(dist,0) edge + lowest band),
    *    MACHINERY order totals {900..1200} (q9u lower-median pick at
    *    the exact 2·cn == tn half), event_id 0 and 13 (the %13
    *    redelivery planting);
    * Band edges at 100/300/500/1000 km are NOT plantable: the
    * integer-key coordinate grid's nearest achievable distance to
    * any edge is 28.2 km (numeric sweep over the full 600-key
    * period), so trig-rounding noise (~1e-13) can never flip a band
    * on ANY sf — desk-ledgered in SURVEY §8.
    */
  def boundaryDir(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    buildDir(spark, "boundary") { (t, raw) =>
      val ss = raw.sparkSession
      import ss.implicits._
      def conform(df: org.apache.spark.sql.DataFrame) = df.select(
        raw.schema.fields.map(f => col(f.name).cast(f.dataType))
          .toIndexedSeq: _*)
      t match {
        case "region" | "part" =>
          raw.orderBy(col(raw.schema.fieldNames.head)).limit(3)
        // raw NATION_k already wires n_regionkey = k for k < 3
        case "nation" => raw.orderBy($"n_nationkey").limit(3)
        case "documents" =>
          raw.orderBy($"doc_id").limit(13)
            .withColumn("source",
              when($"doc_id" < 6, "src0").otherwise("src1"))
        case "embeddings" => raw.orderBy($"vec_id").limit(13)
        case "supplier" => conform(
          (0L to 5L).map(k =>
            (k, f"Supplier#$k%09d", (k % 3).toInt, 1000.0 + k))
            .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
        case "customer" => conform(Seq(
          (0L, "Customer#000000000", 0, 1000.0, "BUILDING"),
          (1L, "Customer#000000001", 0, 1100.0, "BUILDING"),
          (2L, "Customer#000000002", 0, 1200.0, "BUILDING"),
          (3L, "Customer#000000003", 0, 1300.0, "BUILDING"),
          (4L, "Customer#000000004", 1, 1400.0, "MACHINERY"),
          (5L, "Customer#000000005", 1, 1500.0, "MACHINERY"),
          (6L, "Customer#000000006", 2, 1600.0, "MACHINERY"))
          .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"))
        case "orders" => conform(Seq(
          // okey 0 is %97 == 0 → q9u's planted re-entry branch fires
          (0L, 0L, "F", 100.0, "1996-01-05 00:00:00", "1-URGENT"),
          (1L, 0L, "F", 200.0, "1996-12-31 23:59:59", "2-HIGH"),
          (2L, 0L, "F", 300.0, "1997-01-01 00:00:00", "3-MEDIUM"),
          (3L, 0L, "F", 400.0, "1996-04-03 00:00:00", "1-URGENT"),
          (4L, 1L, "F", 500.0, "1996-02-12 00:00:00", "2-HIGH"),
          (5L, 1L, "F", 600.0, "1996-03-12 00:00:00", "3-MEDIUM"),
          (6L, 2L, "F", 700.0, "1996-02-20 00:00:00", "1-URGENT"),
          (7L, 3L, "F", 800.0, "1996-05-20 00:00:00", "2-HIGH"),
          (8L, 4L, "F", 900.0, "1996-06-11 00:00:00", "3-MEDIUM"),
          (9L, 5L, "O", 1000.0, "1996-07-10 00:00:00", "1-URGENT"),
          (10L, 6L, "F", 1100.0, "1996-08-15 00:00:00", "2-HIGH"),
          (11L, 4L, "F", 1200.0, "1996-09-05 00:00:00", "3-MEDIUM"))
          .toDF("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority"))
        case "lineitem" => conform(Seq(
          (0L, 0L, 0L, 1, 1.0, 500.0, "N", "O", "1996-01-06 00:00:00"),
          (0L, 1L, 1L, 2, 2.0, 500.0, "N", "O", "1996-01-07 00:00:00"),
          (0L, 2L, 2L, 3, 3.0, 500.0, "R", "F", "1996-01-08 00:00:00"),
          (0L, 0L, 3L, 4, 4.0, 500.0, "A", "F", "1996-01-09 00:00:00"),
          (1L, 1L, 4L, 1, 5.0, 10000.0, "N", "O", "1996-12-31 00:00:00"),
          (1L, 2L, 0L, 2, 6.0, 20000.0, "N", "O", "1997-01-01 00:00:00"),
          (1L, 0L, 1L, 3, 7.0, 500.0, "N", "O", "1997-01-02 00:00:00"),
          (2L, 1L, 2L, 1, 8.0, 500.0, "N", "O", "1997-01-02 00:00:00"),
          (2L, 2L, 3L, 2, 1.0, 500.0, "N", "O", "1997-01-03 00:00:00"),
          (3L, 0L, 4L, 1, 2.0, 500.0, "N", "O", "1996-04-05 00:00:00"),
          (4L, 1L, 5L, 1, 3.0, 1500.0, "N", "O", "1996-02-14 00:00:00"),
          (5L, 2L, 0L, 1, 4.0, 1500.0, "N", "O", "1996-03-14 00:00:00"),
          (6L, 0L, 1L, 1, 5.0, 1000.0, "N", "O", "1996-02-22 00:00:00"),
          (6L, 1L, 2L, 2, 6.0, 1000.0, "N", "O", "1996-02-23 00:00:00"),
          // shipdate = orderdate + exactly 30 days (on-time edge)
          (7L, 2L, 3L, 1, 7.0, 1000.0, "N", "O", "1996-06-19 00:00:00"),
          (7L, 0L, 4L, 2, 8.0, 1000.0, "N", "O", "1996-05-25 00:00:00"),
          (8L, 1L, 5L, 1, 1.0, 750.0, "N", "O", "1996-06-15 00:00:00"),
          (11L, 2L, 0L, 1, 2.0, 750.0, "N", "O", "1996-09-10 00:00:00"),
          // l_suppkey == the order's o_custkey (5) → dist exactly 0
          (9L, 0L, 5L, 1, 3.0, 1000.0, "N", "O", "1996-07-12 00:00:00"),
          (10L, 1L, 1L, 1, 4.0, 500.0, "N", "O", "1996-08-20 00:00:00"))
          .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_returnflag",
            "l_linestatus", "l_shipdate")
          .withColumn("l_discount", lit(0.0))
          .withColumn("l_tax", lit(0.05)))
        case "events" => conform(Seq(
          (0L, "2024-03-01 00:00:00", 9L, "click", 10.0),
          (1L, "2024-03-08 00:00:00", 9L, "purchase", 50.0),
          (2L, "2024-03-02 09:00:00", 8L, "click", 5.0),
          (3L, "2024-03-02 10:00:00", 8L, "purchase", 40.0),
          (4L, "2024-03-03 10:00:00", 7L, "click", 1.0),
          (5L, "2024-03-03 10:00:00", 7L, "error", 2.0),
          (6L, "2024-03-03 10:10:00", 7L, "error", 3.0),
          (7L, "2024-03-03 10:10:01", 7L, "error", 4.0),
          (8L, "2024-03-03 11:55:00", 7L, "click", 5.0),
          (9L, "2024-03-03 11:55:00", 7L, "click", 6.0),
          (10L, "2024-03-03 11:55:00", 7L, "purchase", 100.0),
          (11L, "2024-03-03 12:00:00", 7L, "purchase", 60.0),
          (12L, "2024-03-03 12:30:00", 7L, "click", 7.0),
          (13L, "2024-03-03 13:00:00", 7L, "click", 8.0),
          (14L, "2024-03-03 13:30:01", 7L, "click", 9.0),
          (15L, "2024-03-02 08:00:00", 8L, "signup", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value")
          .withColumn("props",
            when($"event_id" === 15, "{}")
              .otherwise(concat(lit("{\"k\": "),
                (($"event_id" * 7) % 100).cast("string"), lit("}")))))
        case other => raw.orderBy(col(raw.schema.fieldNames.head)).limit(3)
      }
    }
  }

  // PROBE RESULT (r16, NEGATIVE — shape not committed, see SURVEY
  // §8.14): hard-Unicode probe `uniprobe` aimed at the CUSTOM codegen
  // expressions (graft_nfc via java.text.Normalizer, graft_ngrams)
  // vs DuckDB's independent utf8proc/RE2 stack — documents rewritten
  // with code-point-constructed singleton decompositions (U+212B,
  // U+2126), combining marks in NON-canonical order (acute ccc 230
  // before dot-below ccc 220, forcing reorder-then-compose),
  // algorithmic Hangul jamo (U+1100 U+1161 U+11A8 -> U+AC01),
  // composition EXCLUSIONS (U+0915 U+093C stays decomposed; astral
  // U+1D15E decomposes under NFC), and a ZWJ emoji sequence through
  // every tokenizer/fingerprint twin. Full-registry replay: 171/0 —
  // both normalizers implement UAX#15 identically on every case, and
  // the regex/tokenizer surfaces are code-point-symmetric (the
  // patterns are shared ASCII-class literals with no Java-vs-RE2
  // divergent constructs; see the r16 desk audit). Ledgered so a
  // future round that adds normalization forms (NFKC casefold) or
  // locale-aware case mapping knows this class needs a fresh probe.

  // PROBE RESULT (r14, NEGATIVE — shape not committed, see SURVEY
  // §8.12): the heavy idea on the TIME axis — an UNDATEABLE row
  // carrying a LARGE valid measure inside one entity's sequence
  // (events: 4 rows of ONE user, row 2 ts NULL with value 1e6;
  // orders: 4 rows of ONE customer, row 2 o_orderdate NULL with
  // o_totalprice 1e6) — replayed the full registry against the twins:
  // 171/0. The q15/q24c exclusion convention already covers every
  // ordered-cumulation site on the time axis, so the class is
  // engine-symmetric registry-wide; the quantity axis (q9q) was the
  // one uncovered site and is now the committed `heavy` shape above.
  // Ledgered so future rounds don't re-probe blind.

  /** Lineitem with one NaN-discount and one NaN-tax row (keys intact,
    * other tables tiny-normal) — the fixture for the NaN-routing pin
    * above. Deliberately NOT a full sweep dir: analytical paths
    * assume VALIDATED feeds (their loud ANSI failure on NaN is the
    * contract); only the validation gate itself is exercised.
    */
  def nanLineitemDir(spark: SparkSession): String = {
    import org.apache.spark.sql.functions.{col, lit, when, row_number}
    import org.apache.spark.sql.expressions.Window
    buildDir(spark, "nan") { (t, raw) =>
      val base = raw.limit(3)
      if (t != "lineitem") base
      else {
        val rn = row_number().over(Window.orderBy(col("l_orderkey"),
          col("l_linenumber")))
        base.withColumn("__rn", rn)
          .withColumn("l_discount",
            when(col("__rn") === 1, lit(Double.NaN))
              .otherwise(col("l_discount")))
          .withColumn("l_tax",
            when(col("__rn") === 2, lit(Double.NaN))
              .otherwise(col("l_tax")))
          .drop("__rn")
      }
    }
  }

  /** Constant warehouse: ONE distinct row per table, replicated ×8 —
    * zero variance in every measure and a single value in every key.
    * The shape a constant column or an all-one-key partition hands
    * every variance/quantile/ratio formula at scale. CRASH-SWEEP
    * ONLY: replicating the PRIMARY KEY ×8 violates the warehouse
    * key-uniqueness contract the oracle twins' key-joins legitimately
    * assume (TPC-H PKs are unique; ingest dedup is what guarantees
    * it), so a twin replay over this dir multiplies through the dup
    * keys by construction — [[flatDir]] is the key-unique
    * zero-variance shape the twin audit uses instead.
    */
  def constDir(spark: SparkSession): String =
    buildDir(spark, "const") { (_, raw) =>
      val one = raw.limit(1)
      List.fill(8)(one).reduce(_ unionAll _)
    }

  /** Flat warehouse: REAL key columns from the first 8 rows (unique —
    * joins and key-grain operators keep their contract), every other
    * column overwritten with the FIRST row's value — zero variance in
    * every measure, duplicate text across distinct doc ids, one
    * constant timestamp. The key-unique twin of [[constDir]], used by
    * both the crash sweep and the degenerate-dir twin audit
    * (tools/audit_degenerate.sh): key-joins stay 1:1 on both engines,
    * so what the audit compares is the zero-variance ARITHMETIC, not
    * join multiplicity.
    */
  def flatDir(spark: SparkSession): String = {
    import org.apache.spark.sql.functions.col
    val keep = Set("l_linenumber", "event_id", "user_id", "doc_id", "vec_id")
    buildDir(spark, "flat") { (_, raw) =>
      val df = raw.limit(8)
      val fields = df.schema.fieldNames
      val isKey = (n: String) => n.endsWith("key") || keep(n)
      val keyCols = fields.filter(isKey)
      val valCols = fields.filterNot(isKey)
      if (valCols.isEmpty) df
      else df.select(keyCols.map(col).toIndexedSeq: _*)
        .crossJoin(raw.limit(1).select(valCols.map(col).toIndexedSeq: _*))
        .select(fields.map(col).toIndexedSeq: _*)
    }
  }
}
