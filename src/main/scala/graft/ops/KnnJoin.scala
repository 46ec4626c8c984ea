package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.CellGrid

/** kNN join via cell-ring expansion (north-rule operator, SURVEY.md §2b):
  * k nearest POIs per point. Two metrics:
  *
  *  - planar squared distance in degrees (pure multiply/add —
  *    bit-identical between Spark and the DuckDB oracle; q15);
  *  - geodesic (`geodesic = true`): great-circle ordering via the
  *    haversine term h = sin^2(dLat/2) + cos(lat1)cos(lat2)sin^2(dLon/2),
  *    which is monotone in central angle, so ordering by h ranks by true
  *    spherical distance without the asin/sqrt. Ring probing wraps across
  *    the antimeridian (the haversine is periodic; a clamped probe would
  *    miss wrapped neighbors), and the termination bound is the exact
  *    spherical distance to the nearest unvisited region: meridian arc to
  *    the lat edges, cross-track distance asin(cos(lat)*|sin(dLon)|) to the
  *    lon edges — both lower bounds to their box sides, so termination is
  *    exact (results equal a full scan; hash-checked by q59).
  *
  * The POI layer is a dim table (10..10^6 rows), so the scale plan is a
  * broadcast grid index probed by a narrow map over the 10^12-point side —
  * zero shuffle, embarrassingly parallel. Ring expansion: probe Chebyshev
  * cell rings 0,1,2,... around the point's cell; stop once k candidates are
  * found AND the k-th distance is <= the minimum possible distance to any
  * unvisited cell (exact termination bound, so results equal a full scan).
  * Ties broken by poi_id, making the top-k a total order.
  *
  * The cell table is dense: `4^level + 1` ints of offsets per executor,
  * so `level` is at most [[PoiGrid.MaxLevel]] (4 MiB of offsets); a higher
  * level fails construction with `GraftError.FailedValidation`.
  */
class PoiGrid(val level: Int, val ids: Array[Long], val xs: Array[Double],
              val ys: Array[Double], val geodesic: Boolean = false)
    extends Serializable {
  if (level < 0 || level > PoiGrid.MaxLevel)
    throw graft.GraftError.FailedValidation(
      s"PoiGrid: level $level outside 0..${PoiGrid.MaxLevel} (the cell table holds 4^level + 1 ints)")
  val n: Long = 1L << level
  val cellW: Double = 360.0 / n.toDouble
  val cellH: Double = 180.0 / n.toDouble

  /** Haversine term — monotone in great-circle distance. */
  private def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val sdLat = math.sin(math.toRadians(lat1 - lat2) / 2)
    val sdLon = math.sin(math.toRadians(lon1 - lon2) / 2)
    sdLat * sdLat +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * sdLon * sdLon
  }

  /** Built once per executor JVM. The ring expansion visits ~(2r+1)^2
    * cells per fact row, and each visit reads two offsets: no key boxing,
    * no binary search. */
  @transient private lazy val table: PoiGrid.CellTable = PoiGrid.CellTable(level, xs, ys)

  /** Ordered (by dist2 asc, poi_id asc) ids of the k nearest POIs.
    * Allocation-light (primitive insertion buffers): this runs 10^12 times
    * on the fact side, so per-probe garbage is a GC/scaling tax. */
  def knn(px: Double, py: Double, k: Int): Array[Long] = {
    if (ids.isEmpty || k <= 0) return Array.empty
    val cx = CellGrid.cellX(px, level); val cy = CellGrid.cellY(py, level)
    val maxC = n - 1
    val start = table.start; val order = table.order
    val kk = math.min(k, ids.length)
    val bd = new Array[Double](kk) // ascending (dist2, id) insertion buffers
    val bi = new Array[Long](kk)
    var size = 0
    def consider(i: Int): Unit = {
      val d2 =
        if (geodesic) hav(py, px, ys(i), xs(i))
        else { val dx = px - xs(i); val dy = py - ys(i); dx * dx + dy * dy }
      val id = ids(i)
      if (size < kk || d2 < bd(size - 1) || (d2 == bd(size - 1) && id < bi(size - 1))) {
        // geodesic rings wrap in x, and once 2r+1 > n a ring revisits cells
        // probed by an earlier ring — skip a POI already in the buffer
        // (k is small; this scan runs only for insert-worthy candidates)
        if (geodesic) {
          var j = 0
          while (j < size) { if (bi(j) == id) return; j += 1 }
        }
        var p = if (size < kk) size else size - 1
        while (p > 0 && (bd(p - 1) > d2 || (bd(p - 1) == d2 && bi(p - 1) > id))) {
          bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
        }
        bd(p) = d2; bi(p) = id
        if (size < kk) size += 1
      }
    }
    def probe(x: Long, y: Long): Unit = {
      // geodesic: wrap x across the antimeridian (the metric is periodic in
      // lon; clamping would hide wrapped neighbors). planar: clamp (the
      // planar metric has no wrap, matching its oracle).
      val xw = if (geodesic) ((x % n) + n) % n else x
      if (xw >= 0 && xw <= maxC && y >= 0 && y <= maxC) {
        val c = (xw * n + y).toInt
        var j = start(c); val end = start(c + 1)
        while (j < end) { consider(order(j)); j += 1 }
      }
    }

    var r = 0L
    var done = false
    while (!done) {
      if (r == 0) probe(cx, cy)
      else {
        var x = cx - r
        while (x <= cx + r) { probe(x, cy - r); probe(x, cy + r); x += 1 }
        var y = cy - r + 1
        while (y <= cy + r - 1) { probe(cx - r, y); probe(cx + r, y); y += 1 }
      }
      // min distance from the point to anywhere outside rings 0..r
      val minX = -180.0 + (cx - r) * cellW
      val maxX = -180.0 + (cx + r + 1) * cellW
      val minY = -90.0 + (cy - r) * cellH
      val maxY = -90.0 + (cy + r + 1) * cellH
      val xCovered =
        if (geodesic) 2 * r + 1 >= n
        else cx - r <= 0 && cx + r >= maxC
      val yCovered = cy - r <= 0 && cy + r >= maxC
      if (xCovered && yCovered) done = true
      else if (geodesic) {
        // exact spherical lower bounds to the unvisited region: meridian
        // arc to the lat edges; cross-track distance to the (full) lon-edge
        // meridians. Each bounds its box side from below, so stopping is
        // never early. Compared in haversine units (sin^2(angle/2),
        // monotone on [0, pi]).
        val latAng = math.toRadians(math.min(py - minY, maxY - py))
        val lonAng = math.asin(math.min(1.0, math.cos(math.toRadians(py)) *
          math.abs(math.sin(math.toRadians(math.min(px - minX, maxX - px))))))
        val bound =
          if (xCovered) latAng
          else if (yCovered) lonAng
          else math.min(latAng, lonAng)
        val s = math.sin(bound / 2)
        if (size >= kk && bd(size - 1) <= s * s) done = true else r += 1
      } else {
        val dOut = math.min(math.min(px - minX, maxX - px), math.min(py - minY, maxY - py))
        if (size >= kk && bd(size - 1) <= dOut * dOut) done = true else r += 1
      }
    }
    java.util.Arrays.copyOf(bi, size)
  }
}

object PoiGrid {

  /** The highest grid level whose dense cell table (4^level + 1 ints,
    * 4 MiB at level 10) a PoiGrid builds. */
  val MaxLevel = 10

  /** POI indices grouped by cell (a counting sort, stable in index order):
    * cell `c = cx * 2^level + cy` holds `order(start(c) until start(c + 1))`. */
  final class CellTable(val start: Array[Int], val order: Array[Int])

  object CellTable {
    def apply(level: Int, xs: Array[Double], ys: Array[Double]): CellTable = {
      val n = 1L << level
      val cell = Array.tabulate(xs.length)(i =>
        (CellGrid.cellX(xs(i), level) * n + CellGrid.cellY(ys(i), level)).toInt)
      val start = new Array[Int]((n * n).toInt + 1)
      cell.foreach(c => start(c + 1) += 1)
      var c = 0
      while (c < start.length - 1) { start(c + 1) += start(c); c += 1 }
      val next = java.util.Arrays.copyOf(start, start.length - 1)
      val order = new Array[Int](xs.length)
      var i = 0
      while (i < xs.length) { order(next(cell(i))) = i; next(cell(i)) += 1; i += 1 }
      new CellTable(start, order)
    }
  }
}

object KnnJoin {

  /** points must carry (lon, lat); pois (poi_id, px, py). Output: point rows
    * + (knn_rank int starting at 1, poi_id long). */
  def broadcastKnn(spark: SparkSession, points: DataFrame, pois: DataFrame,
                   k: Int, level: Int = 6, geodesic: Boolean = false): DataFrame = {
    val knnUdf = GeoExpressions.knnCol(spark, pois, k, level, geodesic)
    points
      .withColumn("knn", knnUdf(col("lon"), col("lat")))
      .select(col("*"), posexplode(col("knn")).as(Seq("knn_pos", "poi_id")))
      .withColumn("knn_rank", col("knn_pos") + 1)
      .drop("knn", "knn_pos")
  }
}
