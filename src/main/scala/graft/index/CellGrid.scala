package graft.index

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, greatest, least, lit, when}

/** Hierarchical cell index over lon/lat (H3/S2-style generalization the
  * north rule asks for; the reference has no index — this is the scale
  * path for its per-feature pipeline).
  *
  * A cell at `level` L is one square of the 2^L x 2^L equirectangular grid
  * over [-180,180) x [-90,90). Cells are identified either by integer
  * coords (cx, cy, level) or by a packed 64-bit id. Parent/child are
  * derivable by bit shifts (quadtree laws, property-tested).
  *
  * The packed layout is `level(5) | cx(29) | cy(29)`; a Morton (Z-order)
  * variant is provided for locality-preserving range partitioning.
  *
  * The x/y arithmetic is deliberately a fixed IEEE op sequence
  * `floor(((lon + 180.0) / 360.0) * 2^L)`, clamped to [0, 2^L - 1], so the
  * DuckDB oracle can compute bit-identical values. The scalar and Column
  * forms below are the only Scala copies of it: every Spark plan that keys
  * on this grid (cells, packed ids, geohash axes, tile x) builds its
  * columns with the Column overloads of `cellX`/`cellY`.
  */
object CellGrid {
  val MaxLevel = 29

  def cellX(lon: Double, level: Int): Long = {
    val n = (1L << level).toDouble
    val raw = math.floor(((lon + 180.0) / 360.0) * n).toLong
    math.max(0L, math.min((1L << level) - 1, raw))
  }

  def cellY(lat: Double, level: Int): Long = {
    val n = (1L << level).toDouble
    val raw = math.floor(((lat + 90.0) / 180.0) * n).toLong
    math.max(0L, math.min((1L << level) - 1, raw))
  }

  /** Column form of the scalar [[cellX]], same op order: scale, `floor`,
    * `.cast("long")`, then `greatest(0, least(2^level - 1, _))`. NULL for
    * a NULL lon. */
  def cellX(lon: Column, level: Int): Column = axis(lon, 180.0, 360.0, level)

  /** Column form of the scalar [[cellY]]. */
  def cellY(lat: Column, level: Int): Column = axis(lat, 90.0, 180.0, level)

  private def axis(v: Column, off: Double, span: Double, level: Int): Column =
    clamp(v, floor((v + off) / span * (1L << level).toDouble).cast("long"), level)

  /** `raw` clamped to the axis [0, 2^level - 1], NULL where the input `v`
    * is NULL: `greatest`/`least` skip a NULL argument, so without the
    * guard a NULL coordinate would land in the last cell. */
  private[graft] def clamp(v: Column, raw: Column, level: Int): Column =
    when(v.isNotNull, greatest(lit(0L), least(lit((1L << level) - 1), raw)))

  def pack(cx: Long, cy: Long, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"level $level")
    (level.toLong << 58) | (cx << 29) | cy
  }
  def unpackLevel(id: Long): Int = ((id >>> 58) & 0x1f).toInt
  def unpackX(id: Long): Long = (id >>> 29) & 0x1fffffffL
  def unpackY(id: Long): Long = id & 0x1fffffffL

  def cellId(lon: Double, lat: Double, level: Int): Long =
    pack(cellX(lon, level), cellY(lat, level), level)

  def parent(id: Long): Long = {
    val l = unpackLevel(id)
    require(l > 0, "level-0 cell has no parent")
    pack(unpackX(id) >> 1, unpackY(id) >> 1, l - 1)
  }

  def children(id: Long): Array[Long] = {
    val l = unpackLevel(id)
    require(l < MaxLevel, "max level")
    val x = unpackX(id) << 1; val y = unpackY(id) << 1
    Array(pack(x, y, l + 1), pack(x + 1, y, l + 1), pack(x, y + 1, l + 1), pack(x + 1, y + 1, l + 1))
  }

  /** Cell bounds in degrees: (minLon, minLat, maxLon, maxLat). */
  def bounds(id: Long): (Double, Double, Double, Double) = {
    val l = unpackLevel(id)
    val n = (1L << l).toDouble
    val w = 360.0 / n; val h = 180.0 / n
    val minLon = -180.0 + unpackX(id) * w
    val minLat = -90.0 + unpackY(id) * h
    (minLon, minLat, minLon + w, minLat + h)
  }

  /** All cells at `level` intersecting the bbox (used for polygon covers). */
  def coverBBox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double, level: Int): Seq[(Long, Long)] = {
    val x0 = cellX(minLon, level); val x1 = cellX(math.nextDown(maxLon), level)
    val y0 = cellY(minLat, level); val y1 = cellY(math.nextDown(maxLat), level)
    for (x <- x0 to x1; y <- y0 to y1) yield (x, y)
  }

  /** Morton/Z-order interleave of (cx, cy) — locality-preserving sort key
    * for range partitioning. Supports levels <= 29 (58 bits). */
  def morton(cx: Long, cy: Long): Long = spread(cx) | (spread(cy) << 1)

  private def spread(vIn: Long): Long = {
    var v = vIn & 0x1fffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  def unmorton(m: Long): (Long, Long) = (compact(m), compact(m >>> 1))

  private def compact(mIn: Long): Long = {
    var v = mIn & 0x5555555555555555L
    v = (v | (v >>> 1)) & 0x3333333333333333L
    v = (v | (v >>> 2)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v >>> 4)) & 0x00ff00ff00ff00ffL
    v = (v | (v >>> 8)) & 0x0000ffff0000ffffL
    v = (v | (v >>> 16)) & 0x00000000ffffffffL
    v
  }
}
