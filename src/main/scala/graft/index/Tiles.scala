package graft.index

/** Slippy-map (Web Mercator) tile assignment — raster<->vector tiling per
  * the north rule. Shares the spherical-Mercator math of
  * [[graft.geom.Mercator]] (reference reprojection quirks surveyed at
  * `/root/reference/src/format/geojson.rs:147-155`).
  *
  * Formula kept as a fixed IEEE op sequence (matching the oracle SQL):
  *   n  = 2^z
  *   tx = floor((lon + 180.0) / 360.0 * n)   ([[CellGrid.cellX]] at level z)
  *   ty = floor((1.0 - ln(tan(rad(lat)) + 1.0 / cos(rad(lat))) / pi) / 2.0 * n)
  */
object Tiles {
  def tileX(lon: Double, z: Int): Long = CellGrid.cellX(lon, z)

  /** Web Mercator's latitude limit, atan(sinh(pi)) in degrees (85.0511...):
    * the edge of rows 0 and 2^z - 1. */
  val MaxLat: Double = math.toDegrees(math.atan(math.sinh(math.Pi)))

  /** Latitudes past [[MaxLat]] (and so ±90, where the formula has no
    * value) take the edge row. */
  def tileY(lat: Double, z: Int): Long = {
    val n = (1L << z).toDouble
    val r = math.toRadians(math.max(-MaxLat, math.min(MaxLat, lat)))
    val raw = math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0 * n)
    math.max(0L, math.min((1L << z) - 1, raw.toLong))
  }

  def tile(lon: Double, lat: Double, z: Int): (Long, Long) = (tileX(lon, z), tileY(lat, z))

  /** Tile bounds in lon/lat degrees: (minLon, minLat, maxLon, maxLat). */
  def bounds(z: Int, tx: Long, ty: Long): (Double, Double, Double, Double) = {
    val n = (1L << z).toDouble
    def lon(x: Double) = x / n * 360.0 - 180.0
    def lat(y: Double) = math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * y / n))))
    (lon(tx.toDouble), lat(ty.toDouble + 1.0), lon(tx.toDouble + 1.0), lat(ty.toDouble))
  }
}
