package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial scalar math (ref `PythonAnalysis.py:63-79`, SURVEY §2.8
  * F7) as pure built-in Column composition — codegen'd end to end,
  * no UDF.
  */
object Geo {

  /** Sphere radius used by the reference's haversine. */
  val EarthRadiusKm = 6371.0

  /** Kilometres per degree of latitude on that sphere (π·R/180).
    * Exact on the haversine sphere: great-circle distance ≥ this ×
    * |Δlat|, which is what makes [[withinRadiusKm]]'s bounding-box
    * prefilter a NECESSARY condition.
    */
  val KmPerDegLat: Double = math.Pi * EarthRadiusKm / 180.0

  def haversineKm(lat1: Column, lng1: Column,
                  lat2: Column, lng2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLng = radians(lng2 - lng1) / 2
    lit(EarthRadiusKm) * 2 * asin(sqrt(
      pow(sin(dLat), 2) +
        cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLng), 2)))
  }

  /** Radius predicate: a latitude bounding box ∧ the exact haversine
    * test. The box is necessary on the sphere (see [[KmPerDegLat]]),
    * so it changes no result; it costs one subtraction and one
    * comparison, and rejects most far pairs before any `sin` runs.
    */
  def withinRadiusKm(lat1: Column, lng1: Column, lat2: Column, lng2: Column,
                     radiusKm: Column): Column =
    abs(lat1 - lat2) <= radiusKm / KmPerDegLat &&
      haversineKm(lat1, lng1, lat2, lng2) <= radiusKm

  /** Deterministic pseudo-coordinates derived from integer keys —
    * the harness schema has no lat/lng, so geo queries synthesize
    * identical coords on both engines (Spark + oracle twins below).
    */
  def demoLat(k: Column): Column = (pmod(k * 7, lit(120)) - 60) + 0.25
  def demoLng(k: Column): Column = (pmod(k * 13, lit(300)) - 150) + 0.5
  val demoLatSql: String => String =
    k => s"(((($k * 7) % 120 + 120) % 120) - 60 + 0.25)"
  val demoLngSql: String => String =
    k => s"(((($k * 13) % 300 + 300) % 300) - 150 + 0.5)"
  val haversineSql: (String, String, String, String) => String =
    (lat1, lng1, lat2, lng2) =>
      s"""6371.0 * 2 * asin(sqrt(
         |  pow(sin(radians($lat2 - $lat1) / 2), 2)
         |  + cos(radians($lat1)) * cos(radians($lat2))
         |    * pow(sin(radians($lng2 - $lng1) / 2), 2)))""".stripMargin
}
