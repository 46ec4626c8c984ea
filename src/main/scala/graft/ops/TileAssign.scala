package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.index.{CellGrid, Tiles}

/** Raster<->vector tile assignment (north-rule operator): map points to
  * slippy-map Web-Mercator tiles (z, x, y). Pure native-function column
  * math (whole-stage codegen, no UDF), written as the exact IEEE op
  * sequence mirrored by the DuckDB oracle and by [[graft.index.Tiles]].
  * Tile x is the equirectangular grid's x at level z
  * ([[graft.index.CellGrid]]); tile y, the Mercator row, is defined here.
  */
object TileAssign {

  def tileX(lon: Column, z: Int): Column = CellGrid.cellX(lon, z)

  /** NULL for a NULL lat; a lat past Web Mercator's limit takes the edge
    * row, as in [[graft.index.Tiles.tileY]]. */
  def tileY(lat: Column, z: Int): Column = {
    val n = (1L << z).toDouble
    val r = radians(greatest(lit(-Tiles.MaxLat), least(lit(Tiles.MaxLat), lat)))
    val raw = floor((lit(1.0) - log(tan(r) + lit(1.0) / cos(r)) / math.Pi) / 2.0 * n).cast("long")
    CellGrid.clamp(lat, raw, z)
  }

  /** Adds tile_z/tile_x/tile_y columns to any frame with (lon, lat). */
  def assign(points: DataFrame, z: Int): DataFrame =
    points
      .withColumn("tile_z", lit(z))
      .withColumn("tile_x", tileX(col("lon"), z))
      .withColumn("tile_y", tileY(col("lat"), z))

  /** Bing-maps quadkey for a (tile_x, tile_y) at zoom `z`: digit i
    * (1-based, most-significant first) = x-bit + 2*y-bit at position
    * z-i — the string tile address whose PREFIX relation encodes tile
    * containment (a tile's quadkey is a prefix of all its descendants'),
    * which is what makes it the standard key for tile caches and
    * prefix-range scans over tile stores. Pure integer bit math inside
    * `transform(sequence(...))` — codegen, no UDF (ShiftRight built
    * directly: the Scala functions API only exposes a literal shift). */
  def quadkey(tileX: Column, tileY: Column, z: Int): Column = {
    import org.apache.spark.sql.{GraftShim => E}
    import org.apache.spark.sql.catalyst.expressions.ShiftRight
    def bit(c: Column, sh: Column): Column =
      E.column(ShiftRight(E.expression(c), E.expression(sh))).bitwiseAND(lit(1L))
    concat_ws("", transform(sequence(lit(1), lit(z)), i =>
      (bit(tileX, lit(z) - i) + lit(2L) * bit(tileY, lit(z) - i)).cast("string")))
  }

  /** DuckDB replica of [[quadkey]] over tile-coordinate SQL fragments. */
  def quadkeySql(tileX: String, tileY: String, z: Int): String =
    s"""array_to_string(list_transform(range(1, $z + 1), i ->
       | CAST((($tileX >> ($z - i)) & 1) + 2 * (($tileY >> ($z - i)) & 1) AS VARCHAR)), '')"""
      .stripMargin.replace("\n", " ")

  /** Matching DuckDB SQL fragments (same op sequence). */
  def tileXSql(lon: String, z: Int): String = {
    val n = (1L << z).toDouble
    s"greatest(0, least(${(1L << z) - 1}, CAST(floor(($lon + 180.0) / 360.0 * $n) AS BIGINT)))"
  }
  def tileYSql(lat: String, z: Int): String = {
    val n = (1L << z).toDouble
    s"greatest(0, least(${(1L << z) - 1}, CAST(floor((1.0 - ln(tan(radians($lat)) + 1.0 / cos(radians($lat))) / pi()) / 2.0 * $n) AS BIGINT)))"
  }
}
