package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Web-Mercator tile projection as pure builtin column expressions
  * (codegen-friendly, no UDFs).
  *
  * Semantics mirror the reference's `projectFast` / `unprojectFast`
  * (reference: cluster/cluster.go:1168-1224): latitude clamped to
  * ±85.0511, x = (lon+180)/360 · 2^z · extent,
  * y = (0.5 − 0.25·ln((1+sin φ)/(1−sin φ))/π) · 2^z · extent.
  *
  * IMPORTANT for oracle parity: the expression *shapes* here (operand
  * order, association) are mirrored verbatim in the DuckDB oracle SQL in
  * [[graft.SparkEntry]], so every pure-arithmetic step produces
  * bit-identical doubles in both engines; only the libm calls
  * (sin/log/atan/exp) may differ in the last ulp, which downstream
  * rounding absorbs.
  */
object Mercator {
  val MaxLat = 85.0511

  def clampLat(lat: Column): Column =
    greatest(lit(-MaxLat), least(lit(MaxLat), lat))

  /** Projected x in [0, 2^z·extent]. `se` = 2^zoom · extent, a
    * literal for one zoom or a per-row column across a zoom range.
    */
  def projX(lon: Column, se: Column): Column =
    (lon + lit(180.0)) / lit(360.0) * se
  def projX(lon: Column, se: Double): Column = projX(lon, lit(se))

  /** Projected y in [0, 2^z·extent]; grows southward (Mercator flip). */
  def projY(lat: Column, se: Column): Column = {
    val s = sin(clampLat(lat) * lit(math.Pi) / lit(180.0))
    (lit(0.5) - lit(0.25) * log((lit(1.0) + s) / (lit(1.0) - s)) / lit(math.Pi)) * se
  }
  def projY(lat: Column, se: Double): Column = projY(lat, lit(se))

  /** Inverse of [[projX]]. */
  def invX(px: Column, se: Double): Column =
    px / lit(se) * lit(360.0) - lit(180.0)

  /** Inverse of [[projY]]. */
  def invY(py: Column, se: Column): Column = {
    val y2 = (lit(1.0) - py / se * lit(2.0)) * lit(math.Pi)
    (atan(exp(y2)) * lit(2.0) - lit(math.Pi / 2)) * lit(180.0) / lit(math.Pi)
  }
  def invY(py: Column, se: Double): Column = invY(py, lit(se))

  // Driver-side scalar mirrors (for projecting query bounds — the same
  // math the reference runs at cluster/cluster.go:896-906).
  def projXs(lon: Double, se: Double): Double = (lon + 180.0) / 360.0 * se
  def projYs(lat: Double, se: Double): Double = {
    val c = math.max(-MaxLat, math.min(MaxLat, lat))
    val s = math.sin(c * math.Pi / 180.0)
    (0.5 - 0.25 * math.log((1.0 + s) / (1.0 - s)) / math.Pi) * se
  }
  def invXs(px: Double, se: Double): Double = px / se * 360.0 - 180.0
  def invYs(py: Double, se: Double): Double = {
    val y2 = (1.0 - py / se * 2.0) * math.Pi
    (math.atan(math.exp(y2)) * 2.0 - math.Pi / 2) * 180.0 / math.Pi
  }
}
