package graft.plans

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Geo
import graft.queries.GraftQuery
import graft.Staging.Stageable

/** The geo queries (SURVEY §2.8 F7): radius search, grid-cell
  * proximity self-join and hotspot clustering over the demo
  * coordinates of [[Geo]].
  */
object GeoQueries {

  /** q19 — radius search through [[Geo.withinRadiusKm]]: lines whose
    * customer sits within 500 km of the supplier, counted per nation.
    * The oracle applies the PLAIN haversine predicate — a hash match
    * proves the bounding box in front of it changes nothing.
    */
  val q19GeoRadius: GraftQuery = GraftQuery(
    "q19_geo_radius",
    s"""SELECT n_name,
       |       COUNT(*) AS n_lines_in_radius
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE ${Geo.haversineSql(
          Geo.demoLatSql("o_custkey"), Geo.demoLngSql("o_custkey"),
          Geo.demoLatSql("l_suppkey"), Geo.demoLngSql("l_suppkey"))} <= 500
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey")
      .filter(Geo.withinRadiusKm(
        Geo.demoLat($"o_custkey"), Geo.demoLng($"o_custkey"),
        Geo.demoLat($"l_suppkey"), Geo.demoLng($"l_suppkey"),
        lit(500.0)))
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_lines_in_radius"))
  }

  /** q19b — grid-cell proximity SELF-join (the 2D analogue of
    * `operators/RangeJoin`'s tolerance buckets): all customer pairs
    * within [[GridRadiusKm]] km. The shared 1°-lattice demo coords
    * make every near pair an exact-coordinate twin (the lattice's
    * key-period is 600), so q19b adds deterministic sub-degree jitter
    * (integer-mod formula, identical in both engines) to get a real
    * distance distribution. Cells are sized so the radius spans at
    * most one cell of latitude (Δlat = 2.7° ≥ 300 km / 111.19) and —
    * with |lat| < 61° ⇒ cos(lat) > 0.48 — at most one cell of
    * longitude at ~2.5× margin (Δlon = 6.75°). One side keeps its home
    * cell, the other explodes to its 3×3 neighborhood, so the cell
    * equi-join sees every qualifying pair EXACTLY once (a has one
    * home cell; b emits each neighbor cell once — the RangeJoin/q14f
    * exactly-once device in 2D) and never compares points from
    * non-adjacent cells. The oracle is the BRUTE all-pairs haversine:
    * a hash match proves the grid candidate generation lossless. At
    * scale the equi-join shuffles by cell while brute is quadratic —
    * the same index-beats-scan asymmetry as q23.
    */
  val GridRadiusKm = 300.0
  private val DLatDeg = "2.7"
  private val DLonDeg = "6.75"

  private def jLatSql(k: String) =
    s"(((($k * 31) % 97 + 97) % 97) / 100.0 - 0.485)"
  private def jLngSql(k: String) =
    s"(((($k * 17) % 89 + 89) % 89) / 100.0 - 0.44)"

  val q19bGeoGridJoin: GraftQuery = GraftQuery(
    "q19b_geo_gridjoin",
    s"""WITH c AS (
       |  SELECT c_custkey AS k,
       |         ${Geo.demoLatSql("c_custkey")} + ${jLatSql("c_custkey")}
       |           AS lat,
       |         ${Geo.demoLngSql("c_custkey")} + ${jLngSql("c_custkey")}
       |           AS lon
       |  FROM customer)
       |SELECT a.k AS cust_a, b.k AS cust_b,
       |       ROUND(${Geo.haversineSql("a.lat", "a.lon", "b.lat", "b.lon")},
       |             6) AS dist_km
       |FROM c a JOIN c b ON a.k < b.k
       |WHERE ${Geo.haversineSql("a.lat", "a.lon", "b.lat", "b.lon")}
       |        <= $GridRadiusKm""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val c = Tables(spark, dir).customer.select(
      $"c_custkey".as("k"),
      (Geo.demoLat($"c_custkey")
        + (pmod($"c_custkey" * 31, lit(97)) / 100.0 - 0.485)).as("lat"),
      (Geo.demoLng($"c_custkey")
        + (pmod($"c_custkey" * 17, lit(89)) / 100.0 - 0.44)).as("lon"))
    val binned = c
      .withColumn("clat", floor($"lat" / expr(DLatDeg)))
      .withColumn("clon", floor($"lon" / expr(DLonDeg)))
    val probes = binned.select(
      $"k".as("kb"), $"lat".as("latb"), $"lon".as("lonb"),
      explode(expr(
        """flatten(transform(array(-1, 0, 1),
          |  dy -> transform(array(-1, 0, 1),
          |    dx -> struct(clat + dy AS clat, clon + dx AS clon))))"""
          .stripMargin)).as("nb"))
      .select($"kb", $"latb", $"lonb", $"nb.clat", $"nb.clon")
    // dist_km is ROUNDED to 6 digits as a VALUE column only (libm
    // asin/sin differ by 1 ulp on isolated inputs across engines —
    // the documented float-value flake class); the radius predicate
    // runs on each engine's own unrounded value, where a boundary
    // flip would need a distance within 1 ulp of the radius itself.
    binned.join(probes, Seq("clat", "clon"))
      .filter($"k" < $"kb")
      .select($"k".as("cust_a"), $"kb".as("cust_b"),
        Geo.haversineKm($"lat", $"lon", $"latb", $"lonb").as("d"))
      .filter($"d" <= GridRadiusKm)
      .select($"cust_a", $"cust_b", round($"d", 6).as("dist_km"))
  }

  /** 8-adjacency between dense cells as an EQUI-join (the q19b probe
    * device): one side keeps its home (clat, clon), the other explodes
    * to its 3×3 neighborhood (dy=dx=0 keeps the self-pair the
    * recursive-CTE oracle also emits; self-edges are no-ops to the
    * merge). O(9·dense) shuffle-by-cell work — never the O(dense²)
    * BroadcastNestedLoopJoin a |Δlat|≤1 ∧ |Δlon|≤1 theta-join plans.
    * `dense` must carry (cell, clat, clon). Public so GeoSpec can pin
    * the plan shape (q19c's final plan starts past a localCheckpoint,
    * which would hide this join from it).
    */
  def denseCellEdges(dense: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val a = dense.select(col("cell").as("ea"), col("clat"), col("clon"))
    val probes = dense.select(
      col("cell").as("eb"),
      explode(expr(
        """flatten(transform(array(-1L, 0L, 1L),
          |  dy -> transform(array(-1L, 0L, 1L),
          |    dx -> struct(clat + dy AS clat, clon + dx AS clon))))"""
          .stripMargin)).as("nb"))
      .select(col("eb"), col("nb.clat"), col("nb.clon"))
    a.join(probes, Seq("clat", "clon")).select(col("ea"), col("eb"))
  }

  /** q19c — geo HOTSPOT clustering: order mass binned to 1° cells at
    * the customers' demo coordinates, cells above MEAN mass flagged
    * dense (an integer rule — cnt·n_cells > total — so the density
    * bar scales with the data and the audit can't go vacuous at any
    * SF), and 8-adjacent dense cells merged into hotspot regions via
    * [[graft.operators.ConnectedComponents]] (min-cell-id labels).
    * The grid-density-then-merge shape is the scalable skeleton of
    * DBSCAN-class clustering: counts are one hash agg, adjacency is
    * an equi-join on neighbor cell ids (the q19b probe device), and
    * the merge runs at DENSE-CELL grain — bounded by the geographic
    * grid, never the fact. The oracle rebuilds the merge as a
    * recursive-CTE transitive closure with MIN labels, independently
    * validating the iterative propagation.
    */
  val q19cGeoHotspots: GraftQuery = GraftQuery(
    "q19c_geo_hotspots",
    s"""WITH RECURSIVE pts AS (
       |  SELECT CAST(FLOOR(${Geo.demoLatSql("c_custkey")} ) AS BIGINT) AS clat,
       |         CAST(FLOOR(${Geo.demoLngSql("c_custkey")} ) AS BIGINT) AS clon
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |cells AS (
       |  SELECT (clat + 200) * 10000 + (clon + 500) AS cell,
       |         clat, clon, CAST(COUNT(*) AS BIGINT) AS mass
       |  FROM pts GROUP BY 1, 2, 3),
       |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS t,
       |               CAST(COUNT(*) AS BIGINT) AS nc FROM cells),
       |dense AS (
       |  SELECT cell, clat, clon, mass FROM cells, tot
       |  WHERE mass * nc > t),
       |edges AS (
       |  SELECT a.cell AS ea, b.cell AS eb
       |  FROM dense a JOIN dense b
       |    ON abs(a.clat - b.clat) <= 1 AND abs(a.clon - b.clon) <= 1),
       |lbl AS (
       |  SELECT cell, cell AS comp FROM dense
       |  UNION
       |  SELECT e.eb, l.comp FROM lbl l JOIN edges e ON e.ea = l.cell),
       |comp AS (SELECT cell, MIN(comp) AS hotspot_id FROM lbl GROUP BY 1)
       |SELECT c.hotspot_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_cells,
       |       CAST(SUM(d.mass) AS BIGINT) AS n_points
       |FROM comp c JOIN dense d ON c.cell = d.cell
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val t = Tables(spark, dir)
    hotspots(t.orders
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .select(floor(Geo.demoLat($"c_custkey")).cast("long").as("clat"),
        floor(Geo.demoLng($"c_custkey")).cast("long").as("clon")))
  }

  /** q19c's pipeline over an explicit (clat, clon) points frame —
    * factored so GeoScale stress can feed replicated points: the
    * integer density bar (mass·n_cells > total) is scale-FREE, so
    * mass×k must reproduce the identical hotspot set with n_points×k.
    */
  private[graft] def hotspots(pts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cells = pts.groupBy(col("clat"), col("clon"))
      .agg(count(lit(1)).as("mass"))
      .withColumn("cell", (col("clat") + 200) * 10000 + (col("clon") + 500))
    val tot = cells.agg(sum(col("mass")).as("t"), count(lit(1)).as("nc"))
    val dense = cells.crossJoin(broadcast(tot))
      .filter(col("mass") * col("nc") > col("t"))
      .select(col("cell"), col("clat"), col("clon"), col("mass"))
      .staged // 3 consumers: 2 edge sides + mass join
    val comp = graft.operators.ConnectedComponents
      .components(denseCellEdges(dense))
      .toDF("cell", "hotspot_id")
    comp.join(dense, "cell")
      .groupBy(col("hotspot_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("mass")).as("n_points"))
  }

  val all: Seq[GraftQuery] =
    Seq(q19GeoRadius, q19bGeoGridJoin, q19cGeoHotspots)
}
