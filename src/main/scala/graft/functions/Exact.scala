package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine-deterministic aggregation helpers.
  *
  * Summing IEEE doubles is order-dependent, and Spark's partial
  * aggregation order differs run-to-run and engine-to-engine — so any
  * oracle that hash-compares a `sum(double)` is flaky by construction.
  * The fix: cast each per-row double to a fixed-scale DECIMAL (the
  * per-row value is deterministic; a double can never sit exactly on a
  * decimal half-tie, so round-to-nearest is unambiguous in every
  * engine), SUM the decimals (exact, associative, order-free), and
  * only convert back to DOUBLE at the very end. Ratios/averages are
  * then computed in double from those exact sums with the identical
  * expression shape on the DuckDB side, which makes results bitwise
  * equal across engines.
  *
  * At 100 TB this costs nothing: decimal sum is still a hash-agg with
  * map-side partial aggregation; only the accumulator type changes.
  *
  * Scale choice: 6, constrained from both sides. DuckDB casts
  * double→decimal by computing x·10^s IN DOUBLE then rounding — so
  * x·10^s must stay ≤ 2^53 or the multiply's own rounding corrupts
  * the low digits (s=6 allows |x| up to ~9e9). Spark casts via the
  * shortest string repr with HALF_UP. The two agree exactly when the
  * value's intrinsic decimal precision is below the scale (true for
  * every raw testdata column — ≤2dp — and their pairwise products,
  * ≤4dp): both recover the exact decimal, no rounding ambiguity.
  * Derived full-precision doubles (quotients) must NOT be re-cast to
  * decimal — restructure to carry the exact decimal sums instead.
  */
object Exact {

  val Scale = 6

  /** Correctly-rounded decimal→double: both Spark (BigDecimal fast
    * path) and DuckDB (hugeint path) double-round decimal→double
    * conversions in some magnitude zones — but decimal→string is
    * exact and string→double is correctly rounded in both. So the
    * conversion goes through a string round-trip on both sides.
    * DuckDB twin: `CAST(CAST(x AS VARCHAR) AS DOUBLE)`.
    */
  def toDouble(c: Column): Column =
    c.cast(StringType).cast(DoubleType)

  /** Exact, order-independent sum of a double column at `scale`
    * fractional digits, returned as DOUBLE.
    * DuckDB twin: `CAST(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)`.
    */
  def dsum(c: Column, scale: Int = Scale): Column =
    toDouble(sum(c.cast(DecimalType(38, scale))))

  /** Exact mean: decimal sum / count, divided in double. */
  def davg(c: Column, scale: Int = Scale): Column =
    dsum(c, scale) / count(c)

  /** Sample standard deviation from exact decimal moments:
    * sqrt((n*Σx² − (Σx)²) / (n·(n−1))), all double ops on exact
    * inputs → engine-identical. Squares are computed per-row in
    * double (deterministic) then decimal-summed.
    */
  def dstddev(c: Column, scale: Int = 4): Column = {
    // squares of 2dp values are exact at scale 4, and x²·10⁴ stays
    // under 2^53 for |x| ≤ ~3e4 — see the scale discussion above.
    // Two degenerate-input guards, symmetric on both engines
    // (degenerate-dir twin audit, SURVEY §8.9):
    //  - n ≥ 2: sample stddev is undefined below two observations.
    //    Without the branch, n = 0 divides 0/0 — and because
    //    greatest() SKIPS the NULL sums of an empty feed, the old
    //    NULL-numerator short-circuit no longer saves it: double 0/0
    //    THROWS under ANSI (Spark 4 default) while DuckDB answers
    //    NULL. Both engines now answer NULL for n < 2.
    //  - clamp ≥ 0: the numerator is ≥ 0 by Cauchy-Schwarz; a
    //    NEGATIVE value is pure double rounding of the exact-decimal
    //    moments (reachable only at zero variance, e.g. a constant
    //    column). Unclamped, Spark's sqrt answers NaN while DuckDB's
    //    THROWS — an engine-divergent crash on a constant feed.
    val n   = count(c).cast(DoubleType)
    val sx  = dsum(c, Scale)
    val sxx = dsum(c * c, scale)
    when(n >= 2,
      sqrt(greatest(lit(0.0), n * sxx - sx * sx) / (n * (n - lit(1.0)))))
  }

  /** TPC-H style per-line revenue: extendedprice·(1−discount).
    * Per-row double arithmetic is deterministic; pair with dsum.
    */
  def revenueExpr(price: Column, discount: Column): Column =
    price * (lit(1.0) - discount)
}
