package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Polygon

import graft.geom.{ClipRect, WkbCodec}
import graft.index.CellGrid

/** Tile CONTENT generation — the vector half of raster↔vector tiling: a
  * polygon is cut into per-cell pieces (Sutherland–Hodgman against each
  * covering cell's bbox), the per-piece geometry and its doubled shoelace
  * area are emitted per (polygon, cell). This is what a vector-tile
  * pipeline ships per tile, and the missing complement to tile ASSIGNMENT
  * (q16), rasterize (q51) and zonal stats (q52).
  *
  * Everything happens INSIDE the row (cover from the row's own bbox, clip
  * against constant cell bounds): the operator is a narrow projection +
  * posexplode with zero exchanges, so it scales as a pure map over any
  * polygon table.
  *
  * Exactness: with `snapScale` set (the synthetic diamond layers live on
  * the 1/80-degree lattice and slope-±1 edges), vertices are snapped to
  * the integer ×scale lattice where the clip is EXACT (see [[ClipRect]]),
  * making `area2x` an exact integer in scaled units — the area-partition
  * invariant Σ_cells area2x == whole-polygon area2x is then checkable by
  * an integer DuckDB oracle (q64). With `snapScale = None` the clip runs
  * in plain double precision for general layers.
  */
object TileClip {

  /** polys(poly_id, geom WKB) -> one row per (poly_id, cell) with
    * cell_x/cell_y, clipped vertex count, doubled area in scaled integer
    * units, and the clipped piece's WKB (degree space). */
  def clipToCells(polys: DataFrame, level: Int, snapScale: Option[Double] = Some(80.0)): DataFrame =
    polys
      .select(col("poly_id"), posexplode(clipCells(col("geom"), level, snapScale)).as(Seq("i", "c")))
      .select(col("poly_id"), col("c.cell_x").as("cell_x"), col("c.cell_y").as("cell_y"),
        col("c.nvert").as("nvert"), col("c.area2x").as("area2x"), col("c.geom").as("geom"))

  def clipCells(geom: Column, level: Int, snapScale: Option[Double]): Column =
    Kernel.column("tile_clip", this, "clipCells", PiecesType)(geom -> BinaryType,
      lit(level) -> IntegerType, lit(snapScale.getOrElse(1.0)) -> DoubleType,
      lit(snapScale.isDefined) -> BooleanType)

  private val PiecesType = ArrayType(StructType(Seq(
    StructField("cell_x", LongType, nullable = false),
    StructField("cell_y", LongType, nullable = false),
    StructField("nvert", IntegerType, nullable = false),
    StructField("area2x", LongType, nullable = false),
    StructField("geom", BinaryType, nullable = true))), containsNull = false)

  /** The pieces of one polygon, one per covering cell at `level` with a
    * non-zero clipped area; vertices are scaled by `scale` and, when
    * `snap`, rounded to the integer lattice. Not a polygon: no pieces. */
  def clipCells(wkb: Array[Byte], level: Int, scale: Double, snap: Boolean): ArrayData = {
    def toRing(cs: Array[org.locationtech.jts.geom.Coordinate]): Array[Double] = {
      // drop the closing duplicate; snap to the integer lattice when exact
      val n = cs.length - 1
      val out = new Array[Double](2 * n)
      var i = 0
      while (i < n) {
        val x = cs(i).x * scale; val y = cs(i).y * scale
        out(2 * i) = if (snap) math.rint(x) else x
        out(2 * i + 1) = if (snap) math.rint(y) else y
        i += 1
      }
      out
    }
    val g = WkbCodec.read(wkb)
    if (!g.isInstanceOf[Polygon]) return new GenericArrayData(Array.empty[Any])
    val poly = g.asInstanceOf[Polygon]
    val shell = toRing(poly.getExteriorRing.getCoordinates)
    val holes = (0 until poly.getNumInteriorRing)
      .map(i => toRing(poly.getInteriorRingN(i).getCoordinates)).toArray
    val env = poly.getEnvelopeInternal
    val cells = CellGrid.coverBBox(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, level)
    val out = new scala.collection.mutable.ArrayBuffer[Any](cells.size)
    cells.foreach { case (cx, cy) =>
      val (bx0, by0, bx1, by1) = CellGrid.bounds(CellGrid.pack(cx, cy, level))
      val (sx0, sy0, sx1, sy1) =
        (math.rint(bx0 * scale), math.rint(by0 * scale), math.rint(bx1 * scale), math.rint(by1 * scale))
      val cs = ClipRect.clip(shell, sx0, sy0, sx1, sy1)
      val aShell = math.abs(ClipRect.area2x(cs))
      if (aShell > 0) {
        val ch = holes.map(h => ClipRect.clip(h, sx0, sy0, sx1, sy1)).filter(_.length >= 6)
        val a = aShell - ch.map(h => math.abs(ClipRect.area2x(h))).sum
        val shellD = ClipRect.dedupeRing(cs)
        val piece: Array[Byte] =
          if (shellD.length >= 6) {
            def unscaled(r: Array[Double]): Seq[(Double, Double)] =
              r.grouped(2).map(p => (p(0) / scale, p(1) / scale)).toSeq
            WkbCodec.write(WkbCodec.polygon(unscaled(shellD),
              ch.map(ClipRect.dedupeRing).filter(_.length >= 6).map(unscaled).toSeq))
          } else null
        out += InternalRow(cx, cy, shellD.length / 2, math.rint(a).toLong, piece)
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Scalar double-precision clip of a JTS polygon to a rectangle: shell
    * and holes each Sutherland–Hodgman'd, consecutive duplicates dropped;
    * None when the clipped shell has no area. Backs `st_clip_bbox`. */
  def clipPolygon(p: Polygon, x0: Double, y0: Double, x1: Double, y1: Double): Option[Polygon] = {
    def ring(r: org.locationtech.jts.geom.LineString): Array[Double] = {
      val cs = r.getCoordinates
      val n = cs.length - 1
      val out = new Array[Double](2 * n)
      var i = 0
      while (i < n) { out(2 * i) = cs(i).x; out(2 * i + 1) = cs(i).y; i += 1 }
      out
    }
    def pts(r: Array[Double]): Seq[(Double, Double)] =
      r.grouped(2).map(a => (a(0), a(1))).toSeq
    val shell = ClipRect.dedupeRing(ClipRect.clip(ring(p.getExteriorRing), x0, y0, x1, y1))
    if (shell.length < 6 || ClipRect.area2x(shell) == 0.0) None
    else {
      val holes = (0 until p.getNumInteriorRing)
        .map(i => ClipRect.dedupeRing(ClipRect.clip(ring(p.getInteriorRingN(i)), x0, y0, x1, y1)))
        .filter(h => h.length >= 6 && ClipRect.area2x(h) != 0.0)
      Some(WkbCodec.polygon(pts(shell), holes.map(pts).toSeq))
    }
  }
}
