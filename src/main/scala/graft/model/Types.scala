package graft.model

/** Geographic bounding box in lon/lat degrees.
  *
  * Mirrors the reference's `KDBounds` (reference:
  * cluster/cluster.go:417-433) but in Double end-to-end — the reference
  * stores float32 and computes in float64; we standardize on Double.
  */
final case class Bounds(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double) {
  def contains(lon: Double, lat: Double): Boolean =
    lon >= minLon && lon <= maxLon && lat >= minLat && lat <= maxLat
}

object Bounds {
  /** Whole-world Web-Mercator-safe bounds. */
  val World: Bounds = Bounds(-180.0, -85.0511, 180.0, 85.0511)
}

/** Engine options, defaults matching the reference
  * (reference: cluster/cluster.go:517-544 — MinZoom=0, MaxZoom=16
  * clamped at 16, Radius=40, Extent=512, MinPoints=3; NodeSize is a
  * KD-tree knob with no Spark analog and is dropped).
  *
  * The gRPC service path overrides MinPoints=2, Radius=100
  * (reference: runner/runner.go:42-50) — see [[ClusterOptions.service]].
  */
final case class ClusterOptions(
    minZoom: Int = 0,
    maxZoom: Int = 16,
    minPoints: Int = 3,
    radius: Double = 40.0,
    extent: Int = 512) {
  require(minZoom >= 0 && maxZoom <= 16 && minZoom <= maxZoom, s"bad zoom range [$minZoom,$maxZoom]")
  require(minPoints >= 1 && radius > 0 && extent > 0, "bad options")

  /** 2^zoom * extent — the projected-coordinate span of the world at `zoom`.
    * Exact in Double for zoom<=16, extent<=512.
    */
  def scaleExtent(zoom: Int): Double = {
    val z = if (zoom < minZoom) minZoom else if (zoom > maxZoom) maxZoom else zoom
    math.pow(2.0, z.toDouble) * extent.toDouble
  }

  /** Grid cell size in projected units at `zoom` for `numPoints`
    * viewport points. Reproduces the reference's piecewise
    * cell-size-factor rules (reference: cluster/cluster.go:1503-1531):
    * zoom-dependent base factor (integer-division breakpoints at
    * maxZoom/4, maxZoom/2, maxZoom*3/4) then a density adjustment
    * (>50k points → ×1.1, <5k → ×0.9). The factor changes which points
    * group together, so it is part of the operator's semantics, not a
    * mere performance knob.
    */
  def cellSize(zoom: Int, numPoints: Long): Double = {
    var f = 0.75
    if (zoom >= 0) {
      val zr = zoom.toDouble / maxZoom.toDouble
      if (zoom < maxZoom / 4) f = 1.1 - 0.75 * zr
      else if (zoom < maxZoom / 2) f = 0.9 - 0.3 * zr
      else if (zoom > maxZoom * 3 / 4) f = 0.7 - 0.2 * zr
    }
    if (numPoints > 50000L) f *= 1.1
    else if (numPoints < 5000L) f *= 0.9
    radius * f
  }
}

object ClusterOptions {
  /** Defaults used by the reference's gRPC service when creating
    * datasets (reference: runner/runner.go:42-50).
    */
  val service: ClusterOptions = ClusterOptions(minPoints = 2, radius = 100.0)
}
