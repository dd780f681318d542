package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}

import graft.functions.Geo

/** The engine's one custom Catalyst extension (SURVEY §4: parity needs
  * none — this is the north-star optimizer Rule): a geo-radius
  * predicate users write as `Geo.withinRadiusKm(...)` plans as an
  * [[Unevaluable]] marker expression that [[RewriteWithinRadius]]
  * expands into
  *
  *   |lat1 − lat2| ≤ r/KmPerDegLat  AND  haversine(...) ≤ r
  *
  * The latitude bound is a NECESSARY condition on the haversine sphere
  * (great-circle ≥ meridional component), so results are unchanged —
  * but unlike the trig expression, the bound is a simple comparison on
  * raw columns that Catalyst can push into scans and parquet min/max
  * pruning. At 100 TB the bbox eliminates row groups before a single
  * sin() runs. The rewrite cannot be expressed by any built-in — a
  * user's own `&&` would work per query, the Rule does it for every
  * query, which is the legitimate use of `SparkSessionExtensions`.
  *
  * Installed with the rest of the extension set, per session via
  * [[graft.GraftExtensions.install]] or cluster-wide with
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object GeoRules {

  case class WithinRadiusKm(lat1: Expression, lng1: Expression,
                            lat2: Expression, lng2: Expression,
                            radiusKm: Expression)
      extends Expression with Unevaluable {
    override def children: Seq[Expression] =
      Seq(lat1, lng1, lat2, lng2, radiusKm)
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression =
      copy(c(0), c(1), c(2), c(3), c(4))
  }

  def marker(lat1: Column, lng1: Column, lat2: Column, lng2: Column,
             radiusKm: Column): Column =
    GraftColumnBridge.column(WithinRadiusKm(
      GraftColumnBridge.expression(lat1), GraftColumnBridge.expression(lng1),
      GraftColumnBridge.expression(lat2), GraftColumnBridge.expression(lng2),
      GraftColumnBridge.expression(radiusKm)))

  object RewriteWithinRadius extends Rule[LogicalPlan] {

    /** The replacement is hand-built from RESOLVED catalyst nodes —
      * the Analyzer has already run when optimizer rules fire, so
      * Column-level `functions._` composition (which plans
      * UnresolvedFunction nodes in Spark 4) cannot be used here.
      */
    private def rewrite(lat1r: Expression, lng1r: Expression,
                        lat2r: Expression, lng2r: Expression,
                        rr: Expression): Expression = {
      import org.apache.spark.sql.catalyst.expressions.{Abs, Add, And,
        Asin, Cast, Cos, Divide, LessThanOrEqual, Literal, Multiply,
        Pow, Sin, Sqrt, Subtract, ToRadians}
      import org.apache.spark.sql.types.DoubleType
      def d(e: Expression) = Cast(e, DoubleType)
      val (lat1, lng1, lat2, lng2, r) =
        (d(lat1r), d(lng1r), d(lat2r), d(lng2r), d(rr))
      val two = Literal(2.0)
      val dLat = Divide(ToRadians(Subtract(lat2, lat1)), two)
      val dLng = Divide(ToRadians(Subtract(lng2, lng1)), two)
      val a = Add(
        Pow(Sin(dLat), two),
        Multiply(Multiply(Cos(ToRadians(lat1)), Cos(ToRadians(lat2))),
          Pow(Sin(dLng), two)))
      val dist = Multiply(Literal(2 * Geo.EarthRadiusKm), Asin(Sqrt(a)))
      val bbox = LessThanOrEqual(Abs(Subtract(lat1, lat2)),
        Divide(r, Literal(Geo.KmPerDegLat)))
      And(bbox, LessThanOrEqual(dist, r))
    }

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressions {
        case WithinRadiusKm(lat1e, lng1e, lat2e, lng2e, re) =>
          rewrite(lat1e, lng1e, lat2e, lng2e, re)
      }
  }
}
