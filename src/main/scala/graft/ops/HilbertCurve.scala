package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Hilbert-curve cell encoding — the locality-preserving alternative to
  * the engine's Morton/quadkey/geohash keys (all bit-interleave curves):
  * consecutive Hilbert indexes are ALWAYS grid-adjacent (unit steps, no
  * Z-order jumps), which makes it the better clustering key for range
  * scans over spatial tables (the same role [[graft.table.TableLog]]'s
  * Z-order plays, with strictly better worst-case locality).
  *
  * Algorithm: the standard per-level rotate/reflect fold (Wikipedia's
  * xy2d; quadrant q = 0..3 from the two level bits, d += s^2 * q, then the
  * lower quadrants rotate). [[Order]] = 13 levels over the engine's
  * 20-per-degree lattice (8192 x 8192 covers 7200 x 2800).
  *
  * Scale shape: row-local integer bit math, no shuffle; native expression
  * (a 13-iteration loop — the unrolled column form would nest 13 levels of
  * self-referencing projections). The DuckDB oracle unrolls the SAME fold
  * as 13 generated CTE stages in pure integer CASE arithmetic (no bitwise
  * ops, so engine `^`/xor dialect differences never enter).
  */
object HilbertCurve {

  /** Levels; grid is 2^Order x 2^Order. */
  val Order = 13

  /** Hilbert distance of lattice point (x, y), both in [0, 2^Order). */
  def hilbert(x: Column, y: Column): Column =
    Kernel.column("hilbert", this, "xy2d", LongType)(x -> LongType, y -> LongType)

  /** The fold itself: the `hilbert` kernel, which the specs call too. It is
    * the REDUCED form of the canonical xy2d: coordinates are brought back to
    * the quadrant-local range [0, s) each level before the rotate/reflect,
    * so every intermediate stays non-negative — identical output to the
    * two's-complement bit-test form (the bit at level s of the canonical
    * version's negative intermediates equals the reduced value's), and
    * directly expressible in floor-division SQL. */
  def xy2d(x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (Order - 1)
    while (s > 0) {
      val rx = if (x >= s) 1L else 0L
      val ry = if (y >= s) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      x -= rx * s; y -= ry * s // quadrant-local, in [0, s)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** (url, ent_idx, hd): per-entity Hilbert index over the lonm/latm
    * lattice (already in-range: 7200 x 2800 < 8192). */
  def entityHilbert(ents: DataFrame): DataFrame =
    ents.select(col("url"), col("ent_idx").cast("long").as("ent_idx"),
      hilbert(col("lonm"), col("latm")).as("hd"))

  /** DuckDB replica: the same reduced fold unrolled into one CTE per
    * level — all intermediates non-negative, so plain >= tests and
    * subtraction replace the bit math (a CASE over (rx, ry) replaces the
    * xor). */
  def entityHilbertSql(entsCte: String): String = {
    val levels = (0 until Order).map { i =>
      val s = 1L << (Order - 1 - i)
      val rx = s"(CASE WHEN x >= $s THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN y >= $s THEN 1 ELSE 0 END)"
      val xr = s"(x - $rx * $s)"
      val yr = s"(y - $ry * $s)"
      val q = s"CASE WHEN $rx = 0 AND $ry = 0 THEN 0 WHEN $rx = 0 THEN 1 " +
        s"WHEN $ry = 1 THEN 2 ELSE 3 END"
      s"""l${i + 1} AS (SELECT url, ent_idx,
         |  CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN $s - 1 - $yr ELSE $yr END) ELSE $xr END AS x,
         |  CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN $s - 1 - $xr ELSE $xr END) ELSE $yr END AS y,
         |  d + $s * $s * ($q) AS d FROM l$i)""".stripMargin.replace("\n", " ")
    }
    s"""WITH $entsCte,
       | l0 AS (SELECT url, ent_idx, CAST(lonm AS BIGINT) AS x, CAST(latm AS BIGINT) AS y,
       |   CAST(0 AS BIGINT) AS d FROM ents e),
       | ${levels.mkString(", ")}
       | SELECT url, CAST(ent_idx AS BIGINT) AS ent_idx, CAST(d AS BIGINT) AS hd FROM l$Order"""
      .stripMargin.replace("\n", " ")
  }
}
