package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Vector<->raster operators over the 0.05-degree pixel lattice (the same
  * lattice the synthetic points live on, so the layer's boundary-gap
  * guarantee makes every containment verdict float-flip-free).
  *
  * - [[rasterize]] (vector -> raster): burn each polygon into the lattice
  *   pixels whose CENTERS it contains, then roll the pixels up per
  *   slippy-map tile — a distributed polygon rasterizer producing per-tile
  *   coverage counts.
  * - [[zonalStats]] (raster -> vector): aggregate a raster band (closed-form
  *   synthetic values, exact integers) over each polygon's covered pixels —
  *   the classic zonal-statistics reduction.
  *
  * Everything is native column math: candidate pixels come from
  * `sequence()` + `explode` over the polygon's bbox index range (per-row
  * bounded work, no UDF, stays in whole-stage codegen), the diamond
  * containment test is the same |x-cx|+|y-cy| <= r double op sequence the
  * DuckDB oracle runs, and the rollups are ordinary partial-aggregating
  * groupBys. At 100 TB the shape is: explode factor bounded by
  * (2*r*Pitch+1)^2 per polygon (~400 here), shuffle only on the final
  * small (poly, tile) keys.
  */
object Raster {

  /** Pixels per degree: centers at k/Pitch, k integer (0.05-degree pitch). */
  val Pitch = 20

  /** Lattice pixels whose centers fall inside each polygon (diamond layer
    * schema: poly_id, cx, cy, r). Output: (poly_id, ix, iy) lattice indices. */
  def coveredPixels(polys: DataFrame): DataFrame = {
    val p = lit(Pitch.toDouble)
    polys
      .withColumn("ix", explode(sequence(
        ceil((col("cx") - col("r")) * p).cast("long"),
        floor((col("cx") + col("r")) * p).cast("long"))))
      .withColumn("iy", explode(sequence(
        ceil((col("cy") - col("r")) * p).cast("long"),
        floor((col("cy") + col("r")) * p).cast("long"))))
      .filter(abs(col("ix") / p - col("cx")) + abs(col("iy") / p - col("cy")) <= col("r"))
      .select(col("poly_id"), col("ix"), col("iy"))
  }

  /** Vector -> raster: per-polygon, per-tile covered-pixel counts at zoom z. */
  def rasterize(polys: DataFrame, z: Int): DataFrame =
    coveredPixels(polys)
      .withColumn("lon", col("ix") / Pitch.toDouble)
      .withColumn("lat", col("iy") / Pitch.toDouble)
      .withColumn("tile_z", lit(z.toLong))
      .withColumn("tile_x", TileAssign.tileX(col("lon"), z))
      .withColumn("tile_y", TileAssign.tileY(col("lat"), z))
      .groupBy("poly_id", "tile_z", "tile_x", "tile_y")
      .agg(count(lit(1)).as("n_pixels"))

  /** Synthetic raster band value at lattice pixel (ix, iy): exact integer,
    * recomputed identically by the oracle. */
  def bandValue(ix: Column, iy: Column): Column = ix * 31L + iy * 17L
  val bandValueSql: String = "(ix * 31 + iy * 17)"

  /** Raster -> vector: zonal statistics (pixel count, band sum, band min/max)
    * of the synthetic raster band over each polygon. */
  def zonalStats(polys: DataFrame): DataFrame =
    coveredPixels(polys)
      .withColumn("v", bandValue(col("ix"), col("iy")))
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_pixels"), sum(col("v")).as("zonal_sum"),
        min(col("v")).as("zonal_min"), max(col("v")).as("zonal_max"))

  /** Focal (neighborhood) statistics over a sparse cell-count raster —
    * the classic raster-algebra smoothing/hotspot kernel: for every cell
    * touched by a (2r+1)×(2r+1) window around any occupied cell, the sum
    * of counts in its window. Sparse semantics: absent cells contribute 0
    * and appear in the OUTPUT only when their window overlaps an occupied
    * cell — no dense grid ever materializes.
    *
    * 100 TB shape: a map-side explode by the constant window size (9 for
    * r=1) followed by one partial-aggregating groupBy on the target cell
    * key. NO join anywhere — the standard "shift and add" formulation —
    * so the only exchange is the final count shuffle, already collapsed
    * by map-side combine to one row per (partition, cell). */
  def focalSum(counts: DataFrame, radius: Int = 1, gridMax: Long = 63L): DataFrame = {
    val offs = typedLit((-radius to radius).map(_.toLong))
    counts
      .withColumn("dx", explode(offs))
      .withColumn("dy", explode(offs))
      .select((col("cx") + col("dx")).as("fx"), (col("cy") + col("dy")).as("fy"), col("n"))
      .filter(col("fx") >= 0L && col("fx") <= gridMax &&
              col("fy") >= 0L && col("fy") <= gridMax)
      .groupBy("fx", "fy").agg(sum("n").as("focal_sum"))
  }

  /** DuckDB replica of [[focalSum]] over a `counts(cx, cy, n)` relation
    * named `cnt`: the two explodes are a cross join with two 3-row
    * unnest relations — integer-exact end to end. */
  def focalSumSql(radius: Int = 1, gridMax: Long = 63L): String = {
    val offs = (-radius to radius).mkString("[", ", ", "]")
    s"""SELECT c.cx + o1.dx AS fx, c.cy + o2.dy AS fy,
       | CAST(sum(c.n) AS BIGINT) AS focal_sum
       | FROM cnt c, (SELECT unnest($offs) AS dx) o1, (SELECT unnest($offs) AS dy) o2
       | WHERE c.cx + o1.dx >= 0 AND c.cx + o1.dx <= $gridMax
       |   AND c.cy + o2.dy >= 0 AND c.cy + o2.dy <= $gridMax
       | GROUP BY 1, 2""".stripMargin.replace("\n", " ")
  }

  /** DuckDB CTE for the covered-pixel set over a `polys(poly_id, cx, cy, r)`
    * relation: two-level unnest(generate_series) mirrors the sequence/
    * explode pair, with the identical bound arithmetic and containment
    * predicate (same IEEE double op sequence both engines). */
  val coveredCteSql: String =
    """covered AS (SELECT poly_id, ix, iy FROM (
      | SELECT poly_id, cx, cy, r, ix,
      |  unnest(generate_series(CAST(ceil((cy - r) * 20) AS BIGINT),
      |                         CAST(floor((cy + r) * 20) AS BIGINT))) AS iy
      | FROM (SELECT poly_id, cx, cy, r,
      |   unnest(generate_series(CAST(ceil((cx - r) * 20) AS BIGINT),
      |                          CAST(floor((cx + r) * 20) AS BIGINT))) AS ix
      |  FROM polys) a) b
      | WHERE abs(ix / 20.0 - cx) + abs(iy / 20.0 - cy) <= r)""".stripMargin.replace("\n", " ")
}

/** Kernel density surface (heatmap generation) over the exact coordinate
  * lattice — the raster output every extraction atlas renders: each point
  * spreads an Epanechnikov-CLASS integer kernel w = R^2 - d^2 (R = 64
  * lattice units) onto the 32-unit output cells whose centers fall inside
  * the radius, summed per cell. The kernel is exact BIGINT end to end
  * (centers and coords are integers), so the surface hash-checks — the
  * float normalization constant (3/(pi R^2) for true Epanechnikov) is the
  * consumer's one division.
  *
  * Scale shape: a CONSTANT 5x5 cell-window explode per point (the 64-unit
  * radius cannot reach past 2 cells of 32), then ONE map-side-combinable
  * groupBy on the cell key — identical cost structure to [[rasterize]];
  * output is bounded by the 225x88 cell grid regardless of input size.
  */
object KernelDensity {

  /** Output cell side in lattice units; grid is 225 x 88. */
  val Cell = 32L
  /** Kernel radius 64 lattice units, squared. */
  val R2 = 4096L
  val MaxCx = 7199L / 32L // 224
  val MaxCy = 2799L / 32L // 87

  /** @param pts rows with exact lattice coords (lonm, latm)
    * @return (cx, cy, w): cells with positive kernel mass, exact BIGINT */
  def surface(pts: DataFrame): DataFrame = {
    val offs = for { k <- -2 to 2; j <- -2 to 2 }
      yield struct(lit(k.toLong).as("k"), lit(j.toLong).as("j"))
    val dx = col("cx") * Cell + 16L - col("lonm")
    val dy = col("cy") * Cell + 16L - col("latm")
    pts
      .select(col("lonm"), col("latm"), explode(array(offs: _*)).as("o"))
      .select(col("lonm"), col("latm"),
        (expr(s"lonm div ${Cell}L") + col("o.k")).as("cx"),
        (expr(s"latm div ${Cell}L") + col("o.j")).as("cy"))
      .filter(col("cx") >= 0 && col("cx") <= MaxCx &&
        col("cy") >= 0 && col("cy") <= MaxCy)
      .filter(dx * dx + dy * dy < R2)
      .groupBy("cx", "cy")
      .agg(sum(lit(R2) - (dx * dx + dy * dy)).as("w"))
  }

  /** DuckDB replica: same 5x5 window, same integer kernel. */
  def surfaceSql(entsCte: String): String =
    s"""WITH $entsCte,
       | pc AS (SELECT lonm, latm FROM ents e),
       | offs AS (SELECT k.k, j.j FROM (SELECT unnest(range(-2, 3)) AS k) k
       |   CROSS JOIN (SELECT unnest(range(-2, 3)) AS j) j),
       | cand AS (SELECT lonm // $Cell + o.k AS cx, latm // $Cell + o.j AS cy,
       |     lonm, latm FROM pc CROSS JOIN offs o),
       | filt AS (SELECT cx, cy, cx * $Cell + 16 - lonm AS dx,
       |     cy * $Cell + 16 - latm AS dy FROM cand
       |   WHERE cx >= 0 AND cx <= $MaxCx AND cy >= 0 AND cy <= $MaxCy)
       | SELECT cx, cy, CAST(sum($R2 - (dx * dx + dy * dy)) AS BIGINT) AS w
       | FROM filt WHERE dx * dx + dy * dy < $R2 GROUP BY 1, 2"""
      .stripMargin.replace("\n", " ")
}

/** Inverse-distance-weighted interpolation (Shepard 1968) — [[KernelDensity]]'s
  * sibling that interpolates a MEASURED VALUE instead of counting mass:
  * the estimate at each cell center is Σ wᵢ·vᵢ / Σ wᵢ over nearby
  * samples with wᵢ = 1/(1 + d²) (the +1 is the standard smoothing that
  * also removes the singularity at d = 0). The surface is emitted as the
  * separate BIGINT sums (num, den) — the one float division is left to
  * the consumer, the established numerator discipline that keeps the
  * whole operator hash-checkable (wᵢ as a float would make partial-sum
  * order observable).
  *
  * Samples are the event stream at the closed-form user home point
  * (the [[SpaceTime]] lattice) with the q90 fixed-point value
  * (floor(value·1000), NULLs excluded, oracle-mirrored); weights are
  * wᵢ = WScale div (1 + d²) — exact BIGINT division.
  *
  * Scale shape: identical to [[KernelDensity.surface]] — a constant 5×5
  * cell explode per sample (row-local) + ONE map-side-combinable
  * groupBy; no join, no point-point pairs, output lattice-bounded. */
object IdwSurface {

  /** Weight scale: w = WScale div (1 + d2); d2 < R2 = 4096 so w >= 244. */
  val WScale = 1000000L

  /** @param pts rows with exact lattice coords (lonm, latm) + BIGINT v
    * @return (cx, cy, num, den): IDW numerator/denominator per cell. */
  def surface(pts: DataFrame): DataFrame = {
    import KernelDensity.{Cell, R2, MaxCx, MaxCy}
    val offs = for { k <- -2 to 2; j <- -2 to 2 }
      yield struct(lit(k.toLong).as("k"), lit(j.toLong).as("j"))
    val dx = col("cx") * Cell + 16L - col("lonm")
    val dy = col("cy") * Cell + 16L - col("latm")
    val w = expr(s"$WScale div (1 + dx * dx + dy * dy)")
    pts
      .select(col("lonm"), col("latm"), col("v"), explode(array(offs: _*)).as("o"))
      .select(col("lonm"), col("latm"), col("v"),
        (expr(s"lonm div ${Cell}L") + col("o.k")).as("cx"),
        (expr(s"latm div ${Cell}L") + col("o.j")).as("cy"))
      .filter(col("cx") >= 0 && col("cx") <= MaxCx &&
        col("cy") >= 0 && col("cy") <= MaxCy)
      .filter(dx * dx + dy * dy < R2)
      .withColumn("dx", dx).withColumn("dy", dy)
      .groupBy("cx", "cy")
      .agg(sum(w * col("v")).as("num"), sum(w).as("den"))
  }

  /** q157 entry: IDW surface of event values at user home points. */
  def docIdw(spark: SparkSession, sfDir: String): DataFrame =
    surface(TableMemo.parquet(spark, s"$sfDir/events.parquet")
      .filter(col("value").isNotNull)
      .select(expr("(user_id * 467 + 3) % 7200").as("lonm"),
        expr("(user_id * 911 + 5) % 2800").as("latm"),
        floor(col("value") * 1000).cast("long").as("v")))

  /** DuckDB replica of [[docIdw]]: same lattice, window, and weights. */
  def idwSql(): String = {
    import KernelDensity.{Cell, R2, MaxCx, MaxCy}
    s"""WITH pc AS (SELECT (user_id * 467 + 3) % 7200 AS lonm,
       |     (user_id * 911 + 5) % 2800 AS latm,
       |     CAST(floor(value * 1000) AS BIGINT) AS v
       |   FROM events WHERE value IS NOT NULL),
       | offs AS (SELECT k.k, j.j FROM (SELECT unnest(range(-2, 3)) AS k) k
       |   CROSS JOIN (SELECT unnest(range(-2, 3)) AS j) j),
       | cand AS (SELECT lonm // $Cell + o.k AS cx, latm // $Cell + o.j AS cy,
       |     lonm, latm, v FROM pc CROSS JOIN offs o),
       | filt AS (SELECT cx, cy, v, cx * $Cell + 16 - lonm AS dx,
       |     cy * $Cell + 16 - latm AS dy FROM cand
       |   WHERE cx >= 0 AND cx <= $MaxCx AND cy >= 0 AND cy <= $MaxCy)
       | SELECT cx, cy,
       |   CAST(sum(($WScale // (1 + dx * dx + dy * dy)) * v) AS BIGINT) AS num,
       |   CAST(sum($WScale // (1 + dx * dx + dy * dy)) AS BIGINT) AS den
       | FROM filt WHERE dx * dx + dy * dy < $R2 GROUP BY 1, 2"""
      .stripMargin.replace("\n", " ")
  }
}
