package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Registry-wide PARALLELISM-INVARIANCE ratchet (SURVEY §8.9): every
  * registered query's result must be value-identical when the same
  * data is processed under a different shuffle-partition count and
  * different scan splits.
  *
  * Why this is the 1000-executor claim: on a real cluster the number
  * of scan splits and shuffle partitions is an OPERATIONAL knob, not
  * part of the query — executors die, AQE re-plans, the same job runs
  * at 32 and at 3200 tasks on different days. Any result that shifts
  * with parallelism (an order-dependent double sum, an unordered
  * `first()`/`limit`, a tie-unstable rank, a collect_list whose order
  * leaks into the output) is a nondeterminism bug that the single-run
  * sf0.01 oracle can only catch by luck. This spec pins the claim the
  * `Exact` decimal-sum device and the registry's ordered-fold /
  * tiebreak conventions exist to make true: the engine's answers are
  * a function of the DATA, not of the task layout.
  *
  * Device: pass A collects every query under the suite session
  * (local[4], 4 shuffle partitions, whole-file scan splits, the
  * driver's single-file-per-table layout); pass B re-runs the
  * registry in a `spark.newSession()` — a fresh SQLConf; no query
  * keeps state across calls, so every staged frame (localCheckpoint)
  * is rebuilt from pass B's own scans under the new conf — with 7
  * shuffle partitions, 16 KB scan splits, and a SCRAMBLED-LAYOUT copy
  * of the same warehouse: every table rewritten as 3 parquet files
  * with rows range-partitioned and ordered by a row hash. Same multiset,
  * different file count, different row order — what a 1000-node
  * parallel ingest actually delivers, and the strongest perturbation
  * of partial-aggregation grouping and merge order available without
  * touching the queries (a single-row-group file alone cannot change
  * per-key row order, however small the scan splits). Rows are
  * rendered through a canonical form (hex bytes, recursively rendered
  * arrays/structs, key-sorted maps) and compared as sorted multisets;
  * schemas must match too. `mayVary` is PERMISSIVE-only (unlike the
  * crash-sweep allowlists, which are exact both ways): it carries the
  * no-oracle Spark ML trio, whose training internals (RF bootstrap
  * sampling, L-BFGS partition-wise gradient sums) are
  * partition-DEPENDENT by design — but at a fixed tiny scale two
  * layouts CAN coincide, so "stopped varying" is a coin flip, not a
  * ratchet signal, and is deliberately not asserted.
  */
class ParallelismInvarianceSpec extends SparkTestBase {

  /** Queries whose output may legitimately vary with parallelism —
    * exactly the contract-permitted no-oracle ML set (SparkEntry:
    * DuckDB cannot gate them either; their specs gate statistical
    * bands instead). Everything oracle-backed must be invariant.
    */
  private val mayVary: Map[String, String] = Map(
    "q9j_churn_model" -> ("Spark ML RandomForest: per-tree bootstrap " +
      "sampling draws per-PARTITION (Poisson per split), so metrics/" +
      "importances move with the task layout — the MlSpec statistical " +
      "band is the gate, not bitwise stability"),
    "q9k_elasticity_lr" -> ("Spark ML LinearRegression: L-BFGS " +
      "gradient aggregation sums doubles in partition order — " +
      "coefficients drift in the low bits across layouts; q9h's " +
      "closed-form twin is the exact-math cross-check"),
    "q9d_segmentation_approx" -> ("approxQuantile/percentile_approx " +
      "sketch: the KLL-style compaction depends on partition merge " +
      "order, so cut points can shift within the documented rank " +
      "error — q9d (exact ntile) is the oracle-gated twin"))

  private def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + "->" + render(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => String.valueOf(x)
  }

  private def canon(df: DataFrame): (String, Seq[String]) =
    (df.schema.toDDL, df.collect().toSeq.map(render).sorted)

  /** Run the perturbed pass for one query and diff it against the
    * baseline. A CRASH under the perturbed config is itself a
    * finding (e.g. an encoder whose interpreted path diverges from
    * its codegen'd one), so it is reported per-query instead of
    * aborting the sweep.
    */
  private def compare(n: String, base: (String, Seq[String]),
                      run: () => DataFrame): Option[(String, String)] = {
    val (ddlA, rowsA) = base
    try {
      val (ddlB, rowsB) = canon(run())
      if (ddlA != ddlB) Some(n -> s"schema drift: $ddlA vs $ddlB")
      else if (rowsA != rowsB) {
        val onlyA = rowsA.diff(rowsB).take(2)
        val onlyB = rowsB.diff(rowsA).take(2)
        Some(n -> (s"${rowsA.size}/${rowsB.size} rows; " +
          s"onlyA=${onlyA.mkString("; ")} onlyB=${onlyB.mkString("; ")}"))
      } else None
    } catch {
      case e: Throwable => Some(n ->
        (s"crashed under perturbed config: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200)))
    }
  }

  /** The same warehouse, physically re-laid-out: 3 files per table,
    * rows range-partitioned + sorted by `xxhash64(*)` — a
    * deterministic scramble of both file count and row order. Built
    * once per checkout under target/. UNLIKE the DegenerateData
    * fixtures (self-contained: both engines read the same files, so a
    * stale copy stays internally consistent), this copy is
    * cross-compared against the LIVE sfDir baseline — a stale
    * scramble after a testdata regeneration would fail every query
    * with a bogus "parallelism-dependent" verdict. The marker
    * therefore records the SOURCE mtimes and the build reruns when
    * they change.
    */
  private def shuffledDir: String = {
    val root = "target/invariance/shuffled"
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val done = java.nio.file.Paths.get(root, "_BUILT")
    val stamp = tables.map(t => java.nio.file.Files
      .getLastModifiedTime(java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
      .toMillis).mkString(",")
    val fresh = java.nio.file.Files.exists(done) &&
      java.nio.file.Files.readString(done) == stamp
    if (!fresh) {
      for (t <- tables) {
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        df.withColumn("__h",
            org.apache.spark.sql.functions.xxhash64(df.columns.map(
              org.apache.spark.sql.functions.col).toIndexedSeq: _*))
          .repartitionByRange(3, org.apache.spark.sql.functions.col("__h"))
          .sortWithinPartitions("__h")
          .drop("__h")
          .write.mode("overwrite").parquet(s"$root/$t.parquet")
      }
      java.nio.file.Files.writeString(done, stamp)
    }
    root
  }

  // the baseline pass, shared by both axes (computed once per run)
  private lazy val names = SparkEntry.queries.keys.toSeq.sorted
  private lazy val passA = names.map(n =>
    n -> canon(SparkEntry.queries(n)(spark, sfDir))).toMap

  test("every registered query is invariant to shuffle/scan parallelism") {
    val dirB = shuffledDir
    val sb = spark.newSession()
    GraftConf.tune(sb)
    sb.conf.set("spark.sql.shuffle.partitions", "7")
    sb.conf.set("spark.sql.files.maxPartitionBytes", "16384")

    val varied = names.flatMap(n =>
      compare(n, passA(n), () => SparkEntry.queries(n)(sb, dirB))).toMap

    val unexpected = varied -- mayVary.keySet
    assert(unexpected.isEmpty,
      "parallelism-dependent results:\n" + unexpected.toSeq.sortBy(_._1)
        .map { case (n, d) => s"  $n: ${d.take(400)}" }.mkString("\n"))
    // mayVary entries that happened to coincide this run are fine
    // (permissive-only — see the class doc); surface them for the log
    val coincided = mayVary.keySet -- varied.keySet
    if (coincided.nonEmpty)
      info(s"mayVary entries invariant this run (permitted): $coincided")
  }

  /** The mayVary exemption is VALUE-level only. Since r12 the trio's
    * outputs carry verdict columns encoding data-independent contracts
    * (lift over base rates, evaluator≡relational AUC, rank-guarantee
    * cuts — SURVEY §8.10), and THOSE must hold under any task layout
    * even while the model they describe varies: a layout that flipped
    * a verdict would mean the contract itself is partition-dependent,
    * which is exactly the class this spec exists to ban.
    */
  test("mayVary entries keep all-true verdict columns under a perturbed layout") {
    val dirB = shuffledDir
    val sb = spark.newSession()
    GraftConf.tune(sb)
    sb.conf.set("spark.sql.shuffle.partitions", "5")
    sb.conf.set("spark.sql.files.maxPartitionBytes", "32768")
    for (n <- mayVary.keys.toSeq.sorted) {
      val df = SparkEntry.queries(n)(sb, dirB)
      val boolCols = df.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.BooleanType)
        .map(_.name)
      assert(boolCols.nonEmpty, s"$n carries no verdict columns")
      val rows = df.collect()
      assert(rows.nonEmpty, s"$n returned no rows under the perturbed layout")
      for (r <- rows; c <- boolCols)
        assert(r.getAs[Boolean](c),
          s"$n: verdict '$c' flipped false under a perturbed layout " +
            s"(row ${r.mkString(",").take(120)})")
    }
  }

  /** Execution-MODE invariance, the orthogonal axis: same data, same
    * layout, but every expression evaluated INTERPRETED
    * (factoryMode=NO_CODEGEN), whole-stage codegen off, and AQE off —
    * the planner and eval stack a conservative or debugging session
    * would run. This is the registry-wide codegen≡eval equivalence
    * check for the custom Catalyst expressions (a `doGenCode` whose
    * generated code drifts from `eval()` is the classic
    * native-expression bug, invisible to the oracle because the gate
    * only ever sees one mode), and the AQE-off half pins that
    * broadcast-vs-shuffle join selection never changes VALUES, only
    * plans. Pass C reads pass A's layout so execution mode is the
    * only variable.
    */
  test("every registered query is invariant to interpreted eval + AQE off") {
    val sc = spark.newSession()
    GraftConf.tune(sc)
    sc.conf.set("spark.sql.adaptive.enabled", "false")
    sc.conf.set("spark.sql.codegen.wholeStage", "false")
    sc.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")

    val varied = names.flatMap(n =>
      compare(n, passA(n), () => SparkEntry.queries(n)(sc, sfDir))).toMap

    val unexpected = varied -- mayVary.keySet
    assert(unexpected.isEmpty,
      "execution-mode-dependent results:\n" + unexpected.toSeq.sortBy(_._1)
        .map { case (n, d) => s"  $n: ${d.take(400)}" }.mkString("\n"))
  }
}
