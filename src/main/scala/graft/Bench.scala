package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: n warm iterations (default 5) of the headline
  * analytical set plus one representative per extension family
  * ([[BenchSets]]), printed as ONE JSON line.
  *
  * Each query runs in two phases, each under its own
  * [[GraftSession.measure]] ([[run]]): `build`, the call that returns
  * the frame, where eager staging jobs land; and `action`,
  * [[GraftSession.materialize]], which produces the whole result
  * through the `noop` sink (`"sink":"noop"`). Every timed wall, min and
  * total is the action wall.
  *
  * Reported value = MIN over iterations of the per-iteration headline
  * total: single totals on a shared box carry ±20 % noise, and min-of-n
  * strips scheduler and IO interference from a CPU-bound measurement.
  * Per-iteration totals and per-query mins ride along; the side file
  * also counts each headline iteration's codegen compiles and holds,
  * per query, the `build` and `action` [[GraftSession.Measured]]
  * records and the `rows` of its last successful run.
  *
  * An untimed first pass runs every timed name once, and, unless
  * SPARK_GRAFT_BENCH_ONLY restricts the run, every other query of
  * [[BenchSets.census]]. It warms codegen, JIT and file listing, and it
  * is the spill census: its records go to the side file's `census`
  * map and stdout's `census` summary (queries, failures, spill,
  * shuffle records, the names that spilled).
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_ITERS,
  * SPARK_GRAFT_BENCH_ONLY (comma-separated registered names to time
  * instead of the full sets; an unknown name or an empty list fails
  * the run), SPARK_GRAFT_BENCH_DETAIL (side-file path).
  */
object Bench {

  /** One successful run of one query: what building its frame cost,
    * what producing its whole result cost, and its row count.
    */
  final case class Run(build: GraftSession.Measured, action: GraftSession.Measured, rows: Long) {
    def total(f: GraftSession.Measured => Long): Long = f(build) + f(action)
  }

  /** Builds and materializes registered query `name` once; None when
    * it failed.
    */
  def run(spark: SparkSession, sfDir: String, name: String): Option[Run] =
    try {
      val (df, build) = GraftSession.measure(spark, s"$name build")(
        SparkEntry.queries(name)(spark, sfDir))
      val (rows, action) = GraftSession.measure(spark, s"$name action")(
        GraftSession.materialize(df))
      Some(Run(build, action, rows))
    } catch { case t: Throwable =>
      System.err.println(s"BENCH FAILURE $name: ${t.getMessage}"); None
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    require(iters >= 1, s"SPARK_GRAFT_BENCH_ITERS must be >= 1, got $iters")
    // BENCH_ONLY names outside both membership lists (e.g. the graph
    // one-offs) time as ext entries
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(
      GraftSession.selection(_, SparkEntry.queries.keys.toSeq, "queries").toSet)
    val spark = GraftSession.session()

    val headline = only.fold(BenchSets.headline)(o => BenchSets.headline.filter(o))
    val ext = only.fold(BenchSets.ext)(o =>
      (BenchSets.ext ++ SparkEntry.queries.keys.toSeq.sorted).filter(o).distinct.diff(headline))

    // a failed run must NOT feed the min: a query that dies fast would
    // otherwise win its per-query min and a regression would silently
    // LOWER the totals
    type Runs = Map[String, Option[Run]]
    def runSet(names: Seq[String]): Runs = names.map(n => n -> run(spark, sfDir, n)).toMap

    val census = runSet((headline ++ ext ++ (if (only.isEmpty) BenchSets.census else Nil)).distinct)

    // 1-minute system load average before each iteration, so a
    // noisy-neighbour episode is attributable from the JSON alone
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadAvgs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def iterate(names: Seq[String]): Seq[Runs] = (1 to iters).map { _ =>
      loadAvgs += osBean.getSystemLoadAverage
      runSet(names)
    }
    val headlineRuns = iterate(headline)
    val extRuns = iterate(ext)
    // each headline iteration's Janino compiles (its successful runs):
    // near 0 once the codegen cache holds the set's generated classes
    val compilesPerIter = headlineRuns.map(_.values.flatten.map(_.total(_.compiles)).sum)

    // per-query min over SUCCESSFUL iterations only; a query with zero
    // successes reports -1 (JSON has no NaN) and shows up in "failed"
    def minPerQuery(runs: Seq[Runs]): Map[String, Double] = runs.head.keys.map(k =>
      k -> runs.flatMap(_(k)).map(_.action.wallS).minOption.getOrElse(-1.0)).toMap
    // query -> number of failed iterations (only queries that failed)
    def failures(runs: Seq[Runs]): Map[String, Int] =
      runs.head.keys.map(k => k -> runs.count(_(k).isEmpty)).filter(_._2 > 0).toMap
    def med(xs: Seq[Double]): Double = { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }
    val headlineMin = minPerQuery(headlineRuns)
    val extMin = minPerQuery(extRuns)
    val failed = failures(headlineRuns) ++ failures(extRuns)
    // an iteration with ANY failure has incomplete query coverage, so
    // its total would compare a smaller workload against full ones and
    // could win the min — only CLEAN iterations produce totals; if no
    // iteration is clean, fall back to the sum of per-query successful
    // mins (comparable coverage-wise, biased fast — flagged by
    // "failed" being non-empty either way)
    def totals(runs: Seq[Runs], mins: Map[String, Double]): Seq[Double] = {
      val clean = runs.filter(_.values.forall(_.nonEmpty))
        .map(_.values.flatten.map(_.action.wallS).sum)
      if (clean.nonEmpty) clean else Seq(mins.values.filter(_ >= 0).sum)
    }
    // each query's record from its last successful run
    val lastOk = (headlineRuns ++ extRuns).flatten.collect { case (k, Some(r)) => k -> r }.toMap
    val totalsPerIter = totals(headlineRuns, headlineMin)
    val extTotalsPerIter = totals(extRuns, extMin)

    def js(m: Iterable[(String, Any)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def names(xs: Iterable[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a measure record, snake_case keys in field order
    def rec(m: GraftSession.Measured): String = js(m.productElementNames
      .map(_.replaceAll("([A-Z])", "_$1").toLowerCase).zip(m.productIterator).toSeq)
    def runRec(r: Run): String =
      js(Seq("build" -> rec(r.build), "action" -> rec(r.action), "rows" -> r.rows))
    def arr(xs: Seq[Double]): String = xs.mkString("[", ",", "]")

    def censusTotal(f: GraftSession.Measured => Long): Long = census.values.flatten.map(_.total(f)).sum
    val censusSummary = js(Seq(
      "n_queries" -> census.size,
      "failed" -> names(census.collect { case (n, None) => n }.toSeq.sorted),
      "mem_spill_bytes" -> censusTotal(_.memSpill),
      "disk_spill_bytes" -> censusTotal(_.diskSpill),
      "shuffle_write_records" -> censusTotal(_.shuffleWriteRecords),
      "spilled_queries" -> names(census.collect {
        case (n, Some(r)) if r.total(_.memSpill) + r.total(_.diskSpill) > 0 => n
      }.toSeq.sorted)))

    // A reader that records only the last ~2 KB of stdout must still
    // get the whole summary, so full detail goes to a side file and
    // stdout carries one compact line, printed last.
    val detail =
      s"""{"metric":"detail","sf":"$sfDir","iters":$iters,"sink":"noop",""" +
        s""""queries":${js(headlineMin)},""" +
        s""""totals_per_iter":${arr(totalsPerIter)},""" +
        s""""load_avg_per_iter":${arr(loadAvgs.toSeq)},""" +
        s""""compiles_per_iter":${compilesPerIter.mkString("[", ",", "]")},""" +
        s""""ext_queries":${js(extMin)},""" +
        s""""ext_totals_per_iter":${arr(extTotalsPerIter)},""" +
        s""""measure":${js(lastOk.map { case (k, r) => k -> runRec(r) })},""" +
        s""""census":${js(census.map { case (k, r) => k -> r.fold("null")(runRec) })},""" +
        s""""failed":${js(failed)}}"""
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), detail + "\n")
    catch { case t: Throwable =>
      System.err.println(s"BENCH detail write failed ($detailPath): ${t.getMessage}")
    }
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    println(
      s"""{"metric":"total","value":${totalsPerIter.min},"unit":"sec","sink":"noop",""" +
        s""""queries":${js(headlineMin.map { case (k, v) => k -> r3(v) })},""" +
        s""""sf":"$sfDir","iters":$iters,""" +
        s""""totals_per_iter":${arr(totalsPerIter.map(r3))},""" +
        s""""median_total":${r3(med(totalsPerIter))},""" +
        s""""failed":${js(failed)},""" +
        s""""ext_total":${r3(extTotalsPerIter.min)},""" +
        s""""census":$censusSummary,""" +
        s""""detail_file":"$detailPath"}""")
    spark.stop()
  }
}
