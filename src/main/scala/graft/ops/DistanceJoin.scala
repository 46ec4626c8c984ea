package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.index.CellGrid

/** Point–point distance join (`ST_DWithin` analog, the "range join" class):
  * all pairs (l, r) with euclidean distance <= d, without a cross join.
  *
  * Plan shape (the 100 TB shape):
  *  - choose the cell level so one cell is at least d wide/tall at the
  *    equirectangular grid (so a disk of radius d spans at most the 3x3
  *    neighborhood) — but never coarser than the caller's `level`;
  *  - the RIGHT side keys each point by its own cell (one row per point);
  *  - the LEFT side explodes each point to the cells of the 3x3 ring whose
  *    rectangles can contain a point within d (bbox pre-check in pure
  *    column math — at most 9 rows per point, usually 4);
  *  - equi-join on the cell key — a plain shuffle join (prunable, AQE skew
  *    handling applies), then the exact distance predicate refines.
  *  Every surviving pair appears EXACTLY once: the right side is keyed by
  *  the one cell that contains it, so no pair-level dedup is needed.
  */
object DistanceJoin {

  /** Cells-per-degree-safe level: largest level whose cell is >= d degrees
    * in both axes (lat cells are 180/2^L, lon cells 360/2^L). */
  def levelFor(d: Double, maxLevel: Int = 12): Int = {
    var l = 0
    while (l < maxLevel && 180.0 / (1L << (l + 1)).toDouble >= d) l += 1
    l
  }

  /** `left` carries (lx, ly), `right` (rx, ry); both keep their other
    * columns. Returns left columns + right columns, one row per pair with
    * euclidean distance <= d. */
  def dwithin(left: DataFrame, lx: String, ly: String,
              right: DataFrame, rx: String, ry: String, d: Double,
              maxLevel: Int = 12): DataFrame = {
    require(d > 0, "d must be positive")
    val level = levelFor(d, maxLevel)
    val n = (1L << level).toDouble
    val w = 360.0 / n; val h = 180.0 / n
    val nMax = (1L << level) - 1

    val r = right.withColumn("_cell", PipJoin.pointCellKey(col(rx), col(ry), level))

    // 3x3 ring around the left point's cell, pre-filtered to rectangles the
    // radius-d disk can reach (pure column math, codegen'd before explode)
    val dxdy = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val l0 = left
      .withColumn("_cx", CellGrid.cellX(col(lx), level))
      .withColumn("_cy", CellGrid.cellY(col(ly), level))
      .withColumn("_nb", explode(dxdy))
      .withColumn("_nx", col("_cx") + col("_nb.dx"))
      .withColumn("_ny", col("_cy") + col("_nb.dy"))
      .filter(col("_nx").between(0, nMax) && col("_ny").between(0, nMax))
      // reachability: distance from the point to the neighbor rectangle
      .withColumn("_rx0", col("_nx") * w - 180.0)
      .withColumn("_ry0", col("_ny") * h - 90.0)
      .withColumn("_ddx", greatest(lit(0.0), greatest(col("_rx0") - col(lx), col(lx) - (col("_rx0") + w))))
      .withColumn("_ddy", greatest(lit(0.0), greatest(col("_ry0") - col(ly), col(ly) - (col("_ry0") + h))))
      .filter(col("_ddx") * col("_ddx") + col("_ddy") * col("_ddy") <= d * d)
      .withColumn("_cell", shiftleft(col("_nx"), 32) + col("_ny"))
      .drop("_cx", "_cy", "_nb", "_nx", "_ny", "_rx0", "_ry0", "_ddx", "_ddy")

    l0.join(r, "_cell")
      .filter((col(lx) - col(rx)) * (col(lx) - col(rx)) +
              (col(ly) - col(ry)) * (col(ly) - col(ry)) <= d * d)
      .drop("_cell")
  }

  val EarthRadiusM = 6371000.0

  /** Geodesic ST_DWithin: all pairs within `meters` great-circle distance.
    * Same one-sided cell-key structure as [[dwithin]] (right side keyed by
    * its OWN cell -> every pair appears exactly once), with the two
    * spherical corrections:
    *  - the LEFT side's x-neighborhood widens by 1/cos(lat): the lon reach
    *    of an angular radius a at latitude phi is asin(sin a / cos phi),
    *    computed per row against the most poleward latitude its 3-cell y
    *    band can reach (conservative cover, exact refine after);
    *  - x cells wrap across the antimeridian (pmod), with array_distinct
    *    so a wrapped band never emits the same cell twice.
    * The refine compares the haversine TERM against sin^2(a/2) — monotone
    * in central angle, no asin/sqrt on the hot path. All candidate math is
    * pure column expressions (codegen), the join is a plain equi-join on
    * the cell key: prunable, AQE-skew-handled, no cross join anywhere. */
  def dwithinGeodesic(left: DataFrame, lx: String, ly: String,
                      right: DataFrame, rx: String, ry: String, meters: Double,
                      maxLevel: Int = 12): DataFrame = {
    require(meters > 0, "meters must be positive")
    val a = meters / EarthRadiusM // central angle, radians
    val aDeg = math.toDegrees(a)
    val level = levelFor(aDeg, maxLevel)
    val nL = 1L << level
    val n = nL.toDouble
    val w = 360.0 / n; val h = 180.0 / n
    val nMax = nL - 1
    val sinA = math.sin(a)
    val havA = { val s = math.sin(a / 2); s * s }

    val r = right.withColumn("_cell", PipJoin.pointCellKey(col(rx), col(ry), level))

    // per-row x half-span in cells: lon reach at the band's most poleward
    // latitude (|lat| + a + one cell of slack); beyond the polar cutoff the
    // whole x row is in reach
    // full-row decision uses the UNCLAMPED band latitude: a circle whose
    // reach crosses the 89.999 clamp touches the pole region, where every
    // longitude is in range — deciding on the clamped cosine would skip
    // the cutoff for small radii (sinA below cos(89.999)) and miss
    // across-the-pole pairs
    val phiTrue = abs(col(ly)) + lit(aDeg + h)
    val cosPhi = cos(radians(least(lit(89.999), phiTrue)))
    val reachDeg = when(phiTrue >= 89.999 || cosPhi <= sinA, lit(180.0))
      .otherwise(degrees(asin(lit(sinA) / cosPhi)))
    // +1 cell of slack: a point on its cell's far edge with reach an exact
    // cell multiple lands on the boundary of one cell further than
    // ceil(reach/w) alone covers
    val sx = least(lit(nL / 2), ceil(reachDeg / w).cast("long") + 1)

    val l1 = left
      .withColumn("_cx", CellGrid.cellX(col(lx), level))
      .withColumn("_cy", CellGrid.cellY(col(ly), level))
      .withColumn("_sx", sx)
      .withColumn("_nx", explode(array_distinct(transform(
        sequence(-col("_sx"), col("_sx")), o => pmod(col("_cx") + o, lit(nL))))))
      .withColumn("_ny", explode(array(col("_cy") - 1, col("_cy"), col("_cy") + 1)))
      .filter(col("_ny").between(0, nMax))
      .withColumn("_cell", shiftleft(col("_nx"), 32) + col("_ny"))
      .drop("_cx", "_cy", "_sx", "_nx", "_ny")

    def havTerm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
      val sdLat = sin(radians(lat1 - lat2) / 2)
      val sdLon = sin(radians(lon1 - lon2) / 2)
      sdLat * sdLat + cos(radians(lat1)) * cos(radians(lat2)) * sdLon * sdLon
    }

    l1.join(r, "_cell")
      .filter(havTerm(col(ly), col(lx), col(ry), col(rx)) <= havA)
      .drop("_cell")
  }
}
