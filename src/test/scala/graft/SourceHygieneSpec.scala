package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.PrefixScanStrategy

/** Source-level ratchets for driver-side anti-patterns, automated so
  * a future query can't silently add an unbounded collect, a scalar
  * UDF, or an RDD drop-down.
  *
  * These complement PlanAuditSpec (which inspects what Catalyst
  * planned); a `collect()` is invisible to a plan audit because it
  * ends the plan, so the source is the only place to pin it. Counts
  * are exact per file: a NEW collect in an allowlisted file fails
  * too, and so does a removal (stale allowlist).
  */
class SourceHygieneSpec extends SparkTestBase {

  private val mainRoot = Paths.get("src/main/scala/graft")

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  private def countsOf(pattern: String, root: Path = mainRoot): Map[String, Int] = {
    val re = pattern.r
    scalaFiles(root).flatMap { p =>
      val n = re.findAllIn(new String(Files.readAllBytes(p))).length
      if (n > 0) Some(root.relativize(p).toString -> n) else None
    }.toMap
  }

  test("driver-side collect() only at the five documented bounded sites") {
    // every entry's bound:
    //   PcaQueries       d x d covariance matrix (d = embedding dim)
    //   SimilarityQueries limit(1) dimensionality probe
    //   PrefixSum        the two-pass scan's pass-1 sums, one row per
    //                    (partition, group): O(partitions + groups),
    //                    collected inside PrefixScanExec's execution
    //   Sources          file-listing / distinct-year audits, bounded
    //                    by file and calendar cardinality (2 sites)
    val expected = Map(
      "text/PcaQueries.scala" -> 1,
      "text/SimilarityQueries.scala" -> 1,
      "operators/PrefixSum.scala" -> 1,
      "sources/Sources.scala" -> 2)
    assert(countsOf("""\.collect\(\)""") === expected)
  }

  test("zero scalar UDFs; udaf only for the three typed Aggregators") {
    assert(countsOf("""[^a-zA-Z]udf\(""") === Map.empty[String, Int])
    assert(countsOf("""spark\.udf""") === Map.empty[String, Int])
    // typed Aggregators (partial-aggregable, Tungsten-encoded,
    // BOUNDED state: Misra-Gries k-counter sketch, top-k heaps, the
    // DF-capped posting list) — the documented exceptions; scalar
    // row-at-a-time UDFs stay banned. The top-k udaf lives inside
    // TopK.topk so the null-preserving boxed-input encoder is baked
    // in — a call site cannot pick the primitive encoder that
    // coerced NULL scores to 0.0 (NULL_CONTRACT.md).
    assert(countsOf("""udaf\(""") === Map(
      "text/HeavyHitterQueries.scala" -> 1,
      "functions/TopK.scala" -> 1,
      "text/DedupQueries.scala" -> 1))
  }

  test("RDD drop-downs only in Tables' partition-count probe") {
    // Tables uses rdd.getNumPartitions as a plan probe; everything
    // else, PrefixSum's two passes included (a planned PrefixScanExec),
    // stays in the plan where Catalyst and explain can see it
    val files = countsOf("""\.rdd\b""").keySet
    val allowed = Set("Tables.scala")
    assert(files.subsetOf(allowed), s"unexpected .rdd usage in ${files -- allowed}")
  }

  test("no plan exits: no toRdd and no DataFrame rebuilt from internal rows") {
    // code only, over every source file including the Spark bridge: a
    // multi-pass operator is a planned node (PrefixScan), never a
    // round trip through an RDD of catalyst rows
    assert(countsOf("""(?m)^(?!\s*(\*|//))(?:(?!//).)*(internalCreateDataFrame\(|\.toRdd\b)""",
      Paths.get("src/main/scala")) === Map.empty[String, Int])
  }

  test("no cache/persist/unpersist code sites: Staging.stage holds every intermediate") {
    // code only: a comment naming .cache() as the rejected
    // alternative is not a call site
    assert(countsOf("""(?m)^(?!\s*(\*|//))(?:(?!//).)*\.(cache|persist|unpersist)\(""") ===
      Map.empty[String, Int])
  }

  test("no process-global memo maps (TrieMap / ConcurrentHashMap)") {
    // a map keyed by session or path outlives the calls that fill it:
    // it pins stopped sessions and serves staged blocks that may be gone
    assert(countsOf("""TrieMap|ConcurrentHashMap""") === Map.empty[String, Int])
  }

  test("one session builder: SparkSession.builder( only in GraftSession") {
    // code lines only; a scaladoc usage example is not a second builder
    assert(countsOf("""(?m)^(?!\s*(\*|//)).*SparkSession\.builder\(""") ===
      Map("GraftSession.scala" -> 1))
  }

  test("session conf is set only in GraftConf, never from inside a query") {
    // code lines only, over every source file including the Spark
    // bridge; a write that needs its own mode takes it as a per-write
    // option (q17i/q17j's partitionOverwriteMode)
    assert(countsOf("""(?m)^(?!\s*(\*|//))(?:(?!//).)*\.conf\.(set|unset)\(""",
      Paths.get("src/main/scala")) === Map("graft/GraftConf.scala" -> 2))
  }

  test("no schema-inferring parquet reads: Tables declares the star schema") {
    // code only; a read that names its schema (`read.schema(s).parquet(`)
    // plans a scan, a bare `read.parquet(` runs an inference job
    assert(countsOf("""(?m)^(?!\s*(\*|//))(?:(?!//).)*\bread\s*\.parquet\(""",
      Paths.get("src/main/scala")) === Map.empty[String, Int])
  }

  test("one measurement path: GraftSession.measure holds the only listener, no sleeps") {
    // code only: one job-group listener, whose bus is drained, never polled
    def sites(call: String, root: String) =
      countsOf("""(?m)^(?!\s*(\*|//))(?:(?!//).)*""" + call, Paths.get(root))
    val one = Map("graft/GraftSession.scala" -> 1)
    assert(sites("""addSparkListener\(""", "src/main/scala") === one)
    assert(sites("""extends SparkListener\b""", "src/main/scala") === one)
    assert(sites("""addSparkListener\(""", "src/test/scala") === Map.empty[String, Int])
    assert(sites("""Thread\.sleep\(""", "src/main/scala") === Map.empty[String, Int])
  }

  test("no optimizer rule: install registers SQL functions and PrefixScan only") {
    // code only: a query writes what it needs rewritten as Columns
    // (Geo.withinRadiusKm's bbox), so no optimized plan depends on
    // whether the session ran an install before it
    assert(countsOf("""(?m)^(?!\s*(\*|//))(?:(?!//).)*(Rule\[LogicalPlan\]|\bUnevaluable\b)""",
      Paths.get("src/main/scala")) === Map.empty[String, Int])
    val fresh = spark.newSession()
    GraftExtensions.install(fresh)
    GraftExtensions.install(fresh)
    assert(fresh.experimental.extraOptimizations.isEmpty)
    assert(fresh.experimental.extraStrategies === Seq(PrefixScanStrategy))
  }

  test("five tool mains, and Bench produces whole results, never a count()") {
    // code only; Bench times GraftSession.materialize, which computes
    // every output column a count() would let Catalyst prune
    def code(call: String) = """(?m)^(?!\s*(\*|//))(?:(?!//).)*""" + call
    assert(countsOf(code("""\bdef main\("""), Paths.get("src/main/scala")) === Seq(
      "Bench", "NullOrderCensus", "PlanDump", "ScaleProbe", "Verify")
      .map(m => s"graft/$m.scala" -> 1).toMap)
    assert(!countsOf(code("""\.count\(\)""")).contains("Bench.scala"))
  }
}
