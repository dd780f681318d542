package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Geo

class GeoSpec extends SparkTestBase {

  private def coords(s: SparkSession = spark) = {
    import s.implicits._
    val t = Tables(s, sfDir)
    t.lineitem
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .select(
        Geo.demoLat($"o_custkey").as("lat1"),
        Geo.demoLng($"o_custkey").as("lng1"),
        Geo.demoLat($"l_suppkey").as("lat2"),
        Geo.demoLng($"l_suppkey").as("lng2"),
        $"l_orderkey", $"l_linenumber")
  }

  test("grid-cell join is lossless vs brute force on random points") {
    import spark.implicits._
    // seeded random points over the full demo coordinate range —
    // independent of testdata, including |lat| up to 60.8° where the
    // longitude-cell margin is tightest
    val rnd = new scala.util.Random(42)
    val pts = (1L to 400L)
      .map(k => (k, rnd.nextDouble() * 121.6 - 60.8,
        rnd.nextDouble() * 300.0 - 150.0))
    val df = spark.createDataset(pts).toDF("k", "lat", "lon")
    val d = 300.0
    val brute = df.as("a").join(df.as("b"), $"a.k" < $"b.k")
      .filter(Geo.haversineKm($"a.lat", $"a.lon", $"b.lat", $"b.lon") <= d)
      .select($"a.k".as("ka"), $"b.k".as("kb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val binned = df
      .withColumn("clat", floor($"lat" / 2.7))
      .withColumn("clon", floor($"lon" / 6.75))
    val probes = binned.select($"k".as("kb2"), $"lat".as("latb"),
      $"lon".as("lonb"),
      explode(expr(
        """flatten(transform(array(-1, 0, 1),
          |  dy -> transform(array(-1, 0, 1),
          |    dx -> struct(clat + dy AS clat, clon + dx AS clon))))"""
          .stripMargin)).as("nb"))
      .select($"kb2", $"latb", $"lonb", $"nb.clat", $"nb.clon")
    val grid = binned.join(probes, Seq("clat", "clon"))
      .filter($"k" < $"kb2")
      .filter(Geo.haversineKm($"lat", $"lon", $"latb", $"lonb") <= d)
      .select($"k", $"kb2")
    val gridList = grid.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gridList.length == gridList.toSet.size,
      "grid join emitted a duplicate pair (exactly-once violated)")
    assert(gridList.toSet == brute,
      s"grid != brute: missing=${brute -- gridList.toSet} " +
        s"extra=${gridList.toSet -- brute}")
    assert(brute.nonEmpty, "test setup: brute set must be non-empty")
  }

  test("q19b produces pairs and respects the radius at sf0.01") {
    import spark.implicits._
    val out = graft.plans.GeoQueries.q19bGeoGridJoin
      .fn(spark, "/root/testdata/sf0.01").cache()
    assert(out.count() > 0)
    assert(out.filter($"dist_km" > graft.plans.GeoQueries.GridRadiusKm)
      .count() == 0)
    assert(out.filter($"cust_a" >= $"cust_b").count() == 0)
    out.unpersist()
  }

  /** The rows `withinRadiusKm` keeps on `s` and those the naive
    * haversine filter keeps, as (orderkey, linenumber) sets.
    */
  private def radiusVsNaive(s: SparkSession, r: Double) = {
    import s.implicits._
    val df = coords(s)
    def keys(f: org.apache.spark.sql.Column) = df.filter(f)
      .select($"l_orderkey", $"l_linenumber").as[(Long, Int)].collect().toSet
    (keys(Geo.withinRadiusKm($"lat1", $"lng1", $"lat2", $"lng2", lit(r))),
      keys(Geo.haversineKm($"lat1", $"lng1", $"lat2", $"lng2") <= r))
  }

  test("withinRadiusKm rewrite preserves the naive haversine result") {
    val (viaRadius, naive) = radiusVsNaive(spark, 800.0)
    assert(viaRadius == naive)
    assert(viaRadius.nonEmpty, "radius filter selected nothing")
  }

  test("withinRadiusKm evaluates on a session that never ran install") {
    // a fresh session shares the context but none of the session
    // state an earlier GraftExtensions.install registered
    val fresh = spark.newSession()
    assert(fresh.experimental.extraStrategies.isEmpty)
    val (viaRadius, naive) = radiusVsNaive(fresh, 500.0)
    assert(viaRadius == naive)
    assert(viaRadius.nonEmpty, "radius filter selected nothing")
  }

  test("withinRadiusKm plans as bbox AND exact haversine, no marker") {
    import spark.implicits._
    val df = coords(spark.newSession()).filter(Geo.withinRadiusKm(
      $"lat1", $"lng1", $"lat2", $"lng2", lit(500.0)))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("withinradiuskm"),
      s"a radius marker reached the optimized plan:\n$optimized")
    assert(optimized.contains("abs("),
      s"no bounding-box prefilter in plan:\n$optimized")
    assert(optimized.toLowerCase.contains("sin("),
      s"exact haversine missing from plan:\n$optimized")
  }

  test("bbox bound is necessary: no point inside radius is outside bbox") {
    import spark.implicits._
    val df = coords()
      .withColumn("dist",
        Geo.haversineKm($"lat1", $"lng1", $"lat2", $"lng2"))
      .withColumn("bbox_pass",
        abs($"lat1" - $"lat2") <= lit(700.0) / Geo.KmPerDegLat)
    val violating = df.filter($"dist" <= 700.0 && !$"bbox_pass")
    assert(violating.count() == 0)
  }

  test("q19c adjacency plans as an equi-join: no BNLJ, no cartesian") {
    import spark.implicits._
    // Pin the edge-builder's plan directly: q19c's final plan starts
    // past ConnectedComponents' localCheckpoint, which would hide the
    // adjacency join from an end-to-end plan string.
    val dense = spark.range(10).select(
      ($"id" + 2000000).as("cell"), ($"id" % 4).as("clat"),
      ($"id" % 3).as("clon"))
    val edges = graft.plans.GeoQueries.denseCellEdges(dense)
    edges.collect() // settle AQE
    val plan = edges.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"q19c dense-cell adjacency must be the 9-neighbor equi-join:\n$plan")
    assert(plan.contains("Generate") || plan.contains("explode"),
      s"expected the 3x3 neighbor explode in the plan:\n$plan")
  }

  test("denseCellEdges equals the theta-join pair set") {
    import spark.implicits._
    // seeded dense-cell layout with adjacent runs, diagonals and
    // isolated cells; edge set must match |dLat|<=1 AND |dLon|<=1
    val cells = Seq(
      (0L, 0L), (0L, 1L), (1L, 1L), (2L, 3L), (3L, 4L), (9L, 9L),
      (-2L, 5L), (-1L, 6L), (5L, -7L), (6L, -6L))
    val dense = cells.toDF("clat", "clon")
      .withColumn("cell", ($"clat" + 200) * 10000 + ($"clon" + 500))
    val got = graft.plans.GeoQueries.denseCellEdges(dense)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def cid(c: (Long, Long)) = (c._1 + 200) * 10000 + (c._2 + 500)
    val want = (for {
      a <- cells; b <- cells
      if math.abs(a._1 - b._1) <= 1 && math.abs(a._2 - b._2) <= 1
    } yield (cid(a), cid(b))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("q19c hotspots replay via driver-side union-find") {
    import spark.implicits._
    val got = graft.plans.GeoQueries.q19cGeoHotspots.fn(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got.nonEmpty, "no hotspots at gate scale — density bar broken")
    // rebuild cells, density bar and the 8-adjacency merge from raw rows
    val t = Tables(spark, sfDir)
    val pts = t.orders.join(t.customer, $"o_custkey" === $"c_custkey")
      .select($"c_custkey").as[Long].collect()
      .map { k =>
        val lat = (((k * 7) % 120) - 60) + 0.25
        val lon = (((k * 13) % 300) - 150) + 0.5
        (math.floor(lat).toLong, math.floor(lon).toLong)
      }
    val mass = pts.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = pts.length.toLong
    val dense = mass.filter { case (_, m) => m * mass.size > total }
    assert(dense.nonEmpty)
    // union-find over 8-adjacent dense cells
    val cells = dense.keys.toSeq
    val parent = scala.collection.mutable.Map(
      cells.map(c => c -> c): _*)
    def find(c: (Long, Long)): (Long, Long) = {
      var x = c
      while (parent(x) != x) x = parent(x)
      x
    }
    def cellId(c: (Long, Long)): Long = (c._1 + 200) * 10000 + (c._2 + 500)
    for (a <- cells; b <- cells
         if math.abs(a._1 - b._1) <= 1 && math.abs(a._2 - b._2) <= 1) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (cellId(ra) < cellId(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val expected = cells.groupBy(c => find(c)).map { case (_, cs) =>
      val id = cs.map(cellId).min
      id -> ((cs.size.toLong, cs.map(dense).sum))
    }
    assert(got == expected,
      s"hotspots differ: got ${got.size}, want ${expected.size}")
    // conservation: every dense cell's mass lands in exactly one hotspot
    assert(got.values.map(_._2).sum == dense.values.sum)
  }
}
