package graft.table

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.index.CellGrid

/** Z-order (Morton) spatial layout: the glue between the cell grid and the
  * table log that turns "spatial filter" into "files skipped".
  *
  *  - [[cellCol]] computes a row's Morton cell id in pure column math
  *    (same bit-spread as [[CellGrid.morton]], property-tested equal), so
  *    clustering keys codegen — no UDF on the write path;
  *  - [[mortonRanges]] turns a bbox into merged inclusive id ranges at a
  *    level (the z-curve enters and leaves a rectangle; each entry is one
  *    range);
  *  - [[rangePredicate]] renders those ranges as an OR of BETWEENs — a
  *    plain comparison predicate parquet row-group stats can evaluate, so
  *    after a clustered write the scan skips row groups inside buckets
  *    too, not just whole buckets via the manifest stats.
  */
object SpatialLayout {

  /** Bit-spread of the low 29 bits into even positions (column-math mirror
    * of CellGrid.spread — kept in lockstep by CellGridSpec). */
  private def spreadCol(v0: Column): Column = {
    var v = v0.bitwiseAND(lit(0x1fffffffL))
    v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x0000ffff0000ffffL))
    v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00ff00ff00ff00ffL))
    v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
    v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x3333333333333333L))
    v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  def mortonCol(cx: Column, cy: Column): Column =
    spreadCol(cx).bitwiseOR(shiftleft(spreadCol(cy), 1))

  /** Morton id of the [[CellGrid]] cell holding (lon, lat) at `level`. */
  def cellCol(lon: Column, lat: Column, level: Int): Column =
    mortonCol(CellGrid.cellX(lon, level), CellGrid.cellY(lat, level))

  /** Merged inclusive Morton id ranges covering the bbox at `level`. */
  def mortonRanges(minLon: Double, minLat: Double,
                   maxLon: Double, maxLat: Double, level: Int): Seq[(Long, Long)] = {
    val ms = CellGrid.coverBBox(minLon, minLat, maxLon, maxLat, level)
      .map { case (x, y) => CellGrid.morton(x, y) }.sorted
    ms.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, m) if m == hi + 1 => (lo, m) :: rest
      case (acc, m) => (m, m) :: acc
    }.reverse
  }

  /** OR of BETWEENs over the ranges — parquet-stat-prunable. */
  def rangePredicate(cell: Column, ranges: Seq[(Long, Long)]): Column = {
    require(ranges.nonEmpty, "empty range set")
    ranges.map { case (lo, hi) => cell.between(lo, hi) }.reduce(_ || _)
  }
}
