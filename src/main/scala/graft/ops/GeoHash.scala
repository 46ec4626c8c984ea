package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.index.CellGrid

/** Geohash encoding (public Gustavo Niemeyer scheme): base-32 string cell
  * address with the prefix-containment property (a cell's geohash prefixes
  * all its sub-cells'), the standard string key for geo sharding and
  * prefix-range scans — complements the quadkey in [[TileAssign]] (same
  * role, equirectangular instead of Web-Mercator).
  *
  * Closed form instead of the textbook bisection loop: `chars` characters
  * hold 5*chars bits alternating lon,lat,lon,... from the MSB, which for
  * even bit-splits is exactly the Morton interleave of
  * ix = floor((lon+180)/360 * 2^nbits), iy = floor((lat+90)/180 * 2^nbits).
  * Pure literal-shift bit math + alphabet substr — whole-stage codegen, no
  * UDF; the DuckDB oracle runs the identical op sequence via the staged
  * SQL fragments below (ix/iy -> Morton g -> characters).
  */
object GeoHash {

  /** The geohash base-32 alphabet (no a/i/l/o). */
  val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  private def bitsPerAxis(chars: Int): Int = {
    require(chars % 2 == 0 && chars > 0, s"chars must be positive even, got $chars")
    chars * 5 / 2
  }

  /** Encode (lon, lat) to a `chars`-character geohash. `chars` must be
    * even so lon/lat split the bits evenly (6 -> 15+15 bits). */
  def encode(lon: Column, lat: Column, chars: Int = 6): Column = {
    val nb = bitsPerAxis(chars)
    val ix = CellGrid.cellX(lon, nb)
    val iy = CellGrid.cellY(lat, nb)
    // Morton interleave, lon in the odd (higher) bit positions
    val g = (0 until nb).map { bit =>
      shiftleft(shiftright(ix, bit).bitwiseAND(lit(1L)), 2 * bit + 1)
        .bitwiseOR(shiftleft(shiftright(iy, bit).bitwiseAND(lit(1L)), 2 * bit))
    }.reduce(_ bitwiseOR _)
    concat((0 until chars).map { j =>
      val sh = 5 * (chars - 1 - j)
      substr(lit(Alphabet), (shiftright(g, sh).bitwiseAND(lit(31L)) + 1).cast("int"), lit(1))
    }: _*)
  }

  // ---- DuckDB replica, staged for CTE composition ----

  /** Axis index SQL (same clamp + floor scaling as [[encode]]). */
  def ixSql(lon: String, chars: Int): String = axisSql(lon, 180.0, 360.0, chars)
  def iySql(lat: String, chars: Int): String = axisSql(lat, 90.0, 180.0, chars)

  private def axisSql(v: String, off: Double, span: Double, chars: Int): String = {
    val nb = bitsPerAxis(chars)
    s"greatest(0, least(${(1L << nb) - 1}, CAST(floor(($v + $off) / $span * ${(1L << nb).toDouble}) AS BIGINT)))"
  }

  /** Morton interleave over columns named `ixx`/`iyy`. */
  def mortonSql(chars: Int): String =
    (0 until bitsPerAxis(chars)).map { bit =>
      s"((((ixx >> $bit) & 1) << ${2 * bit + 1}) | (((iyy >> $bit) & 1) << ${2 * bit}))"
    }.mkString("(", " | ", ")")

  /** Character extraction over a column named `g`. */
  def charsSql(chars: Int): String =
    (0 until chars).map { j =>
      val sh = 5 * (chars - 1 - j)
      s"substr('$Alphabet', CAST(((g >> $sh) & 31) + 1 AS INTEGER), 1)"
    }.mkString("(", " || ", ")")
}
