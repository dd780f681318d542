package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.GraphQueries
import graft.plans.GeoQueries

/** Decade-up stress for the GRAPH and GEO-hotspot families (the
  * relational/corpus families have ScaleSpec, streaming has
  * StreamingScaleSpec). The co-purchase pair graph from sf0.01 is
  * replicated ×10 with shifted node ids — ten DISJOINT copies, one
  * decade above the gate scale (≈2.3M directed edges) — and each
  * operator must reproduce exact copy-level algebra:
  *
  *  - triangleCounts / bfsHops are all-integer: every copy must equal
  *    the base run VALUE-FOR-VALUE (counts(v + k·S) == counts(v)).
  *  - pageRank depends on the global N (0.15/N damping), so its
  *    values legitimately differ from the base run — but the ten
  *    copies are structurally identical inside ONE run, so all ten
  *    must carry BITWISE-equal rank vectors (the fixed-point BIGINT
  *    quantization makes per-copy arithmetic deterministic; any
  *    order-dependence in the aggregation would break this).
  *  - q19c hotspots: the density bar is the scale-free integer rule
  *    mass·n_cells > total, so points ×10 must yield the IDENTICAL
  *    hotspot set with n_points ×10 — the audit can't go vacuous or
  *    drift at any SF.
  *  - zero disk spill across every ×10 run (the 100 TB mandate's
  *    executor-memory proxy at suite scale).
  */
class GraphScaleSpec extends SparkTestBase {
  import spark.implicits._

  private val baseDir = "/root/testdata/sf0.01"
  private val reps = 10
  private val Shift = 1000000L // base part keys are ≤ ~2000

  private lazy val basePairs: DataFrame =
    GraphQueries.coPurchasePairs(spark, baseDir)

  private lazy val pairs10: DataFrame = {
    assert(basePairs.agg(max($"t")).as[Long].head() < Shift)
    val replicas = spark.range(reps).select($"id".as("rep"))
    basePairs.crossJoin(broadcast(replicas))
      .select(($"s" + $"rep" * Shift).as("s"),
        ($"t" + $"rep" * Shift).as("t"), $"w")
      .localCheckpoint(true)
  }

  private def sym(up: DataFrame): DataFrame =
    up.unionAll(up.select($"t".as("s"), $"s".as("t")))

  test("triangle counts at 10x: every copy value-equal to the base run") {
    val base = GraphQueries.triangleCounts(
      basePairs.select($"s", $"t"), "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base.nonEmpty)
    val ten = assertNoSpill("triangles") {
      GraphQueries.triangleCounts(pairs10.select($"s", $"t"), "s", "t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(ten.size == reps * base.size,
      s"rows ${ten.size} != $reps x ${base.size}")
    ten.foreach { case (v, n) =>
      assert(n == base(v % Shift),
        s"copy node $v: $n != base ${base(v % Shift)}")
    }
  }

  test("BFS hops at 10x: every copy value-equal to the base run") {
    val baseSeeds = basePairs.select($"s".as("node"))
      .unionAll(basePairs.select($"t".as("node"))).distinct()
      .filter($"node" % 50 === 0)
    val base = GraphQueries.bfsHops(
      sym(basePairs.select($"s", $"t")), "s", "t", baseSeeds, "node", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base.nonEmpty)
    // seeds shift WITH their copy (the %50 rule wouldn't survive the
    // id shift — the seed set is an operator INPUT, so it replicates)
    val replicas = spark.range(reps).select($"id".as("rep"))
    val seeds10 = baseSeeds.crossJoin(broadcast(replicas))
      .select(($"node" + $"rep" * Shift).as("node"))
    val ten = assertNoSpill("bfs") {
      GraphQueries.bfsHops(
        sym(pairs10.select($"s", $"t")), "s", "t", seeds10, "node", 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(ten.size == reps * base.size)
    ten.foreach { case (v, h) =>
      assert(h == base(v % Shift),
        s"copy node $v: hops $h != base ${base(v % Shift)}")
    }
  }

  test("pageRank at 10x: ten disjoint copies carry bitwise-equal ranks") {
    val pr = assertNoSpill("pagerank") {
      GraphQueries.pageRank(sym10Weighted(), "s", "t", "w")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
    }
    val baseNodes = basePairs.select($"s".as("v"))
      .unionAll(basePairs.select($"t".as("v"))).distinct().count()
    assert(pr.length == reps * baseNodes,
      s"${pr.length} ranked nodes != $reps x $baseNodes")
    // bitwise cross-copy equality: group by base id, demand ONE
    // distinct java-bits value across the ten copies
    pr.groupBy { case (v, _) => v % Shift }.foreach { case (v0, copies) =>
      val bits = copies.map(c => java.lang.Double.doubleToLongBits(c._2))
      assert(copies.length == reps, s"node $v0 has ${copies.length} copies")
      assert(bits.distinct.length == 1,
        s"node $v0 ranks diverge across copies: ${copies.map(_._2).toSeq}")
    }
    // rank mass still conserves on the union (damping algebra)
    val mass = pr.map(_._2).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"rank mass $mass != 1")
  }

  private def sym10Weighted(): DataFrame =
    pairs10.unionAll(pairs10.select($"t".as("s"), $"s".as("t"), $"w"))

  test("geo hotspots at 10x points: identical hotspot set, n_points x10") {
    import graft.functions.Geo
    val t = Tables(spark, baseDir)
    val pts = t.orders
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .select(floor(Geo.demoLat($"c_custkey")).cast("long").as("clat"),
        floor(Geo.demoLng($"c_custkey")).cast("long").as("clon"))
      .localCheckpoint(true)
    def collectMap(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val base = collectMap(GeoQueries.hotspots(pts))
    assert(base.nonEmpty)
    val replicas = spark.range(reps).select($"id".as("rep"))
    val pts10 = pts.crossJoin(broadcast(replicas)).select($"clat", $"clon")
    val ten = assertNoSpill("hotspots") {
      collectMap(GeoQueries.hotspots(pts10))
    }
    assert(ten.keySet == base.keySet,
      s"hotspot ids drifted at 10x: ${ten.keySet} vs ${base.keySet}")
    ten.foreach { case (id, (nCells, nPoints)) =>
      assert(nCells == base(id)._1, s"hotspot $id cell count changed")
      assert(nPoints == reps * base(id)._2,
        s"hotspot $id mass $nPoints != $reps x ${base(id)._2}")
    }
  }
}
