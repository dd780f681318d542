package graft

/** Driver-run benchmark: n warm iterations (default 5) of the headline
  * analytical set plus one representative per extension family
  * ([[BenchSets]]), printed as ONE JSON line.
  *
  * Reported value = MIN over iterations of the per-iteration headline
  * total: single totals on a shared box carry ±20 % noise, and min-of-n
  * strips scheduler and IO interference from a CPU-bound measurement.
  * Per-iteration totals and per-query mins ride along; the side file
  * also counts each headline iteration's codegen compiles and holds
  * one [[GraftSession.Measured]] record per query (jobs, stages,
  * tasks, CPU, shuffle, spill, compiles) from its last successful run.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_ITERS,
  * SPARK_GRAFT_BENCH_ONLY (comma-separated registered names to time
  * instead of the full sets; an unknown name or an empty list fails
  * the run), SPARK_GRAFT_BENCH_DETAIL (side-file path).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    require(iters >= 1, s"SPARK_GRAFT_BENCH_ITERS must be >= 1, got $iters")
    // BENCH_ONLY names outside both membership lists (e.g. the graph
    // one-offs) time as ext entries
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(
      GraftSession.selection(_, SparkEntry.queries.keys.toSeq, "queries").toSet)
    val spark = GraftSession.session()
    // warm codegen/JIT and file listing so the first measured query
    // isn't charged JVM startup
    SparkEntry.queries("q1a_yoy_growth")(spark, sfDir).count()

    def restrict(names: Seq[String]): Seq[String] =
      only.fold(names)(o => names.filter(o))
    val headline = restrict(BenchSets.headline)
    val ext = (restrict(BenchSets.ext) ++
      only.fold(Seq.empty[String])(o =>
        SparkEntry.queries.keys.toSeq.sorted.filter(o).diff(headline))).distinct

    // one run's record, None when the query failed — a failed run must
    // NOT feed the min: a query that dies fast would otherwise win its
    // per-query min and a regression would silently LOWER the totals.
    type Runs = Map[String, Option[GraftSession.Measured]]
    def runSet(names: Seq[String]): Runs = names.map { n =>
      val (ok, m) = GraftSession.measure(spark, n) {
        try { SparkEntry.queries(n)(spark, sfDir).count(); true }
        catch { case t: Throwable =>
          System.err.println(s"BENCH FAILURE $n: ${t.getMessage}"); false
        }
      }
      n -> Option.when(ok)(m)
    }.toMap

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
    val compilesPerIter = headlineRuns.map(_.values.flatten.map(_.compiles).sum)

    // per-query min over SUCCESSFUL iterations only; a query with zero
    // successes reports -1 (JSON has no NaN) and shows up in "failed"
    def minPerQuery(runs: Seq[Runs]): Map[String, Double] = runs.head.keys.map(k =>
      k -> runs.flatMap(_(k)).map(_.wallS).minOption.getOrElse(-1.0)).toMap
    // query -> number of failed iterations (only queries that failed)
    def failures(runs: Seq[Runs]): Map[String, Int] =
      runs.head.keys.map(k => k -> runs.count(_(k).isEmpty)).filter(_._2 > 0).toMap
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
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
      val clean = runs.filter(_.values.forall(_.nonEmpty)).map(_.values.flatten.map(_.wallS).sum)
      if (clean.nonEmpty) clean else Seq(mins.values.filter(_ >= 0).sum)
    }
    // each query's record from its last successful run
    val lastOk = (headlineRuns ++ extRuns).flatten.collect { case (k, Some(m)) => k -> m }.toMap
    val totalsPerIter = totals(headlineRuns, headlineMin)
    val extTotalsPerIter = totals(extRuns, extMin)

    def js(m: Iterable[(String, Any)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // a measure record, snake_case keys in field order
    def rec(m: GraftSession.Measured): String = js(m.productElementNames
      .map(_.replaceAll("([A-Z])", "_$1").toLowerCase).zip(m.productIterator).toSeq)
    def arr(xs: Seq[Double]): String = xs.mkString("[", ",", "]")
    // A reader that records only the last ~2 KB of stdout must still
    // get the whole summary, so full detail goes to a side file and
    // stdout carries one compact line, printed last.
    val detail =
      s"""{"metric":"detail","sf":"$sfDir","iters":$iters,""" +
        s""""queries":${js(headlineMin)},""" +
        s""""totals_per_iter":${arr(totalsPerIter)},""" +
        s""""load_avg_per_iter":${arr(loadAvgs.toSeq)},""" +
        s""""compiles_per_iter":${compilesPerIter.mkString("[", ",", "]")},""" +
        s""""ext_queries":${js(extMin)},""" +
        s""""ext_totals_per_iter":${arr(extTotalsPerIter)},""" +
        s""""measure":${js(lastOk.map { case (k, m) => k -> rec(m) })},""" +
        s""""failed":${js(failed)}}"""
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(detailPath),
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case t: Throwable =>
      System.err.println(s"BENCH detail write failed ($detailPath): ${t.getMessage}")
    }
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    println(
      s"""{"metric":"total","value":${totalsPerIter.min},"unit":"sec",""" +
        s""""queries":${js(headlineMin.map { case (k, v) => k -> r3(v) })},""" +
        s""""sf":"$sfDir","iters":$iters,""" +
        s""""totals_per_iter":${arr(totalsPerIter.map(r3))},""" +
        s""""median_total":${r3(med(totalsPerIter))},""" +
        s""""failed":${js(failed)},""" +
        s""""ext_total":${r3(extTotalsPerIter.min)},""" +
        s""""detail_file":"$detailPath"}""")
    spark.stop()
  }
}
