package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.CellGrid

/** Spatial autocorrelation — global Moran's I over the 64x64 cell lattice
  * (the ESDA hot-spot statistic: is the entity-density surface clustered,
  * dispersed, or random?). The reference stops at loading geometry; this
  * is the first analytics layer a web-extraction atlas runs on top
  * (PySAL/GeoDa compute the identical statistic single-node).
  *
  * Integer-exact formulation: with T = total points and N = 4096 lattice
  * cells, the deviation z_i = n_i - T/N is fractional — so both engines
  * work with Z_i = N*n_i - T (the deviation scaled by N, an exact BIGINT;
  * sum(Z) == 0 by construction). The N^2 factor cancels in Moran's ratio:
  * I = (N / W) * sum_w(Z_i Z_j) / sum(Z_i^2). The query emits the exact
  * integer numerators (n_cells, t, sum_z2, w_sum, sum_wzz) and leaves the
  * one float division to the consumer — the driver hash stays exact.
  *
  * Weights: queen (8-neighbor) contiguity, w_ij = 1, lattice-bounded
  * (edge cells have 3/5 neighbors — encoded by the join miss, no CASE).
  *
  * Scale shape: ONE map-side-combinable groupBy over the points is the
  * only fact-table exchange; everything after runs on <= N rows (the
  * lattice is a config constant, not data-sized), with the neighbor step
  * a broadcast self-join. At 10^12 points this is scan + one exchange.
  */
object SpatialStats {

  val Level = 6
  val Grid: Int = 1 << Level
  val NCells: Long = (Grid * Grid).toLong

  /** One row: (n_cells, t, sum_z2, w_sum, sum_wzz) — all BIGINT, exact. */
  def moranNumerators(spark: SparkSession, ents: DataFrame): DataFrame = {
    val cells = zCells(spark, ents)
    val zOnly = cells.select(col("cx"), col("cy"), col("z"))
    val pairAgg = neighborPairs(zOnly)
      .agg(count(lit(1)).as("w_sum"), sum(col("zi") * col("z")).as("sum_wzz"))
    val cellAgg = cells.agg(count(lit(1)).as("n_cells"), max(col("t")).as("t"),
      sum(col("z") * col("z")).as("sum_z2"))
    Scalars.join(cellAgg, pairAgg)
      .select("n_cells", "t", "sum_z2", "w_sum", "sum_wzz")
  }

  /** Geary's C numerators (Geary 1954): the difference-based sibling of
    * Moran's I — C = ((N-1)/(2W)) * sum_w (x_i - x_j)^2 / sum (x_i - xbar)^2.
    * Where Moran's cross-product reads global covariance, Geary's squared
    * difference is dominated by LOCAL edge contrast, so the two disagree
    * exactly on surfaces with strong local gradients inside a globally
    * flat field. Same scaled-deviation trick: (x_i - x_j) = (Z_i - Z_j)/N
    * and the N^2 cancels against sum_z2's, so the emitted numerators
    * (n_cells, t, sum_z2, w_sum, sum_wdd) are all exact BIGINT.
    *
    * Scale shape: identical to [[moranNumerators]] — one fact exchange,
    * then lattice-sized broadcast work. */
  def gearyNumerators(spark: SparkSession, ents: DataFrame): DataFrame = {
    val cells = zCells(spark, ents)
    val zOnly = cells.select(col("cx"), col("cy"), col("z"))
    val d = col("zi") - col("z")
    val pairAgg = neighborPairs(zOnly)
      .agg(count(lit(1)).as("w_sum"), sum(d * d).as("sum_wdd"))
    val cellAgg = cells.agg(count(lit(1)).as("n_cells"), max(col("t")).as("t"),
      sum(col("z") * col("z")).as("sum_z2"))
    Scalars.join(cellAgg, pairAgg)
      .select("n_cells", "t", "sum_z2", "w_sum", "sum_wdd")
  }

  /** Local Moran (LISA, Anselin 1995): per-cell I_i numerators — the
    * hot-spot/cold-spot map the global statistic summarizes. Emits every
    * lattice cell with its scaled deviation `z`, its queen-neighbor lag
    * `sum_wz = sum_j w_ij Z_j`, and the Moran-scatterplot quadrant
    * (HH hot spot, LL cold spot, HL/LH spatial outliers, Z0 on an axis).
    * I_i itself is z*lag / normalizer — left to the consumer so the
    * driver hash stays BIGINT/VARCHAR-exact.
    *
    * Scale shape: identical to [[moranNumerators]] — one fact exchange,
    * then lattice-sized (<= N rows) broadcast work. */
  def localMoran(spark: SparkSession, ents: DataFrame): DataFrame = {
    val cells = zCells(spark, ents)
    val zOnly = cells.select(col("cx"), col("cy"), col("z"))
    val lag = neighborPairs(zOnly)
      .groupBy("cx", "cy").agg(sum("zi").as("sum_wz"))
    // the lag has <= N rows by construction: broadcast it, so the lattice
    // is not shuffled for a join AQE would turn into a broadcast anyway
    cells.join(broadcast(lag), Seq("cx", "cy"), "left").na.fill(0L, Seq("sum_wz"))
      .select(col("cx"), col("cy"), col("z"), col("sum_wz"),
        when(col("z") > 0 && col("sum_wz") > 0, "HH")
          .when(col("z") < 0 && col("sum_wz") < 0, "LL")
          .when(col("z") > 0 && col("sum_wz") < 0, "HL")
          .when(col("z") < 0 && col("sum_wz") > 0, "LH")
          .otherwise("Z0").as("quad"))
  }

  /** Join-count statistics (Cliff & Ord): classify each cell Black if it
    * holds >= minPts points else White, then count DIRECTED queen
    * adjacencies by class pair — BB clustering, WW empty-space
    * contiguity, BW the mixing term (symmetric, so BB/WW are even and
    * BW covers both orders). Three BIGINT rows; the z-test denominators
    * are functions of these counts plus [[moranNumerators]]'s w_sum. */
  def joinCounts(spark: SparkSession, ents: DataFrame, minPts: Long = 3L): DataFrame = {
    val cls = zCells(spark, ents)
      .select(col("cx"), col("cy"),
        when(col("n") >= minPts, "B").otherwise("W").as("c"))
    val nb = cls
      .select(col("cx"), col("cy"), col("c").as("ci"),
        explode(offsetArray).as("o"))
      .select((col("cx") + col("o.dx")).as("cx"), (col("cy") + col("o.dy")).as("cy"), col("ci"))
    nb.join(broadcast(cls), Seq("cx", "cy"))
      .select(when(col("ci") === "B" && col("c") === "B", "BB")
        .when(col("ci") === "W" && col("c") === "W", "WW")
        .otherwise("BW").as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
  }

  /** Getis-Ord Gi* (Ord & Getis 1995): per-cell hot/cold-spot statistic
    * over the INCLUSIVE queen neighborhood (self + 8 neighbors — the
    * star variant). Emits exact BIGINT numerators: `wi` (in-lattice
    * neighborhood size, 4/6/9 by edge position), `gsum` (points in the
    * neighborhood), and `znum = N*gsum - wi*T` — the Gi* numerator
    * scaled by N, whose sign classifies HOT/COLD; the variance
    * denominator is a function of (wi, t, n_cells) the consumer divides
    * once. Differs from [[localMoran]] exactly as Gi* differs from LISA:
    * it measures neighborhood INTENSITY (sum vs expectation), not
    * value-similarity cross-products, so it flags a uniform hot block's
    * interior that LISA's deviation-product misses.
    *
    * Scale shape: same as the rest of the family — one fact exchange
    * into [[zCells]], then lattice-sized broadcast work. */
  def getisOrd(spark: SparkSession, ents: DataFrame): DataFrame = {
    val cells = zCells(spark, ents)
    val nb = cells
      .select(col("cx"), col("cy"), col("n").as("ni"), explode(offsetArraySelf).as("o"))
      .select((col("cx") + col("o.dx")).as("cx"), (col("cy") + col("o.dy")).as("cy"), col("ni"))
      .join(broadcast(cells.select(col("cx"), col("cy"))), Seq("cx", "cy"))
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("wi"), sum("ni").as("gsum"))
    nb.join(broadcast(cells.select(col("cx"), col("cy"), col("t"))), Seq("cx", "cy"))
      .select(col("cx"), col("cy"), col("wi"), col("gsum"),
        (lit(NCells) * col("gsum") - col("wi") * col("t")).as("znum"))
      .withColumn("cls",
        when(col("znum") > 0, "HOT").when(col("znum") < 0, "COLD").otherwise("ZERO"))
  }

  /** Lattice cells with raw count `n`, total `t`, and scaled deviation
    * `z = N*n - t` — the shared first stage: ONE fact-table exchange for
    * the counts, and the total as a second count over the points that
    * runs beside it. Summing the counts saves that pass (given null-safe
    * lattice keys, else the join's inferred isnotnull filter splits the
    * subtree again) but waits for the exchange; q118 measured slower that
    * way in the 8-query mix at sf0.01.
    *
    * Materialized once (`localCheckpoint(false)`, <= N rows): every
    * consumer in this family reads the lattice 2-3 times (pair/lag side
    * plus one or two broadcast probes), and each read would otherwise
    * re-execute the WHOLE fact subtree — for the entity layer that is a
    * full page-synthesis + extraction pass per use (measured 3-6 scans per
    * query before the cut; guide §2.4 "remove shuffles outright" applied
    * to repeated subtrees). The checkpoint is lattice-sized regardless of
    * fact-table size, so it costs O(N) memory at any scale. */
  private def zCells(spark: SparkSession, ents: DataFrame): DataFrame = {
    val counts = ents.select(CellGrid.cellX(col("lon"), Level).as("cx"),
      CellGrid.cellY(col("lat"), Level).as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val lattice = spark.range(NCells)
      .select((col("id") / Grid).cast("long").as("cx"), (col("id") % Grid).as("cy"))
    val tot = ents.agg(count(lit(1)).as("t"))
    Scalars.join(
      lattice.join(counts, Seq("cx", "cy"), "left").na.fill(0L, Seq("n")), tot)
      .select(col("cx"), col("cy"), col("n"), col("t"),
        (lit(NCells) * col("n") - col("t")).as("z"))
      .localCheckpoint(false)
  }

  private val offsets = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))

  private def offsetArray: Column =
    array(offsets.map { case (dx, dy) =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    }: _*)

  /** Queen offsets plus self — Gi*'s inclusive neighborhood. */
  private def offsetArraySelf: Column =
    array((offsets :+ ((0, 0))).map { case (dx, dy) =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    }: _*)

  /** (cx, cy, zi) rows addressed at each queen NEIGHBOR of the source
    * cell — joining back to the lattice on (cx, cy) pairs zi with zj. */
  private def neighborPairs(zOnly: DataFrame): DataFrame =
    zOnly
      .select(col("cx"), col("cy"), col("z").as("zi"), explode(offsetArray).as("o"))
      .select((col("cx") + col("o.dx")).as("cx"), (col("cy") + col("o.dy")).as("cy"), col("zi"))
      .join(broadcast(zOnly), Seq("cx", "cy"))

  /** Shared CTE prefix: points → counts → lattice → totals → scaled
    * deviations + the queen-offset table (the SQL mirror of [[zCells]]). */
  private def latticeCtes(entsCte: String, lonExpr: String, latExpr: String): String = {
    val cx = s"greatest(0, least(${Grid - 1}, CAST(floor(($lonExpr + 180.0) / 360.0 * $Grid) AS BIGINT)))"
    val cy = s"greatest(0, least(${Grid - 1}, CAST(floor(($latExpr + 90.0) / 180.0 * $Grid) AS BIGINT)))"
    s"""WITH $entsCte,
       | pts AS (SELECT $cx AS cx, $cy AS cy FROM ents e),
       | counts AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY 1, 2),
       | lat AS (SELECT i // $Grid AS cx, i % $Grid AS cy
       |   FROM (SELECT unnest(range($NCells)) AS i)),
       | tot AS (SELECT count(*) AS t FROM pts),
       | z AS (SELECT l.cx, l.cy, coalesce(c.n, 0) AS n,
       |     $NCells * coalesce(c.n, 0) - t.t AS z
       |   FROM lat l LEFT JOIN counts c ON l.cx = c.cx AND l.cy = c.cy CROSS JOIN tot t),
       | offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1))
       |   AS o(dx, dy))""".stripMargin.replace("\n", " ")
  }

  /** DuckDB replica: same lattice, same scaled deviations, same queen
    * join; the five scalars come back as one row. */
  def moranNumeratorsSql(entsCte: String, lonExpr: String, latExpr: String): String =
    s"""${latticeCtes(entsCte, lonExpr, latExpr)},
       | pairs AS (SELECT a.z AS zi, b.z AS zj FROM z a CROSS JOIN offs o
       |   JOIN z b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy)
       | SELECT CAST((SELECT count(*) FROM z) AS BIGINT) AS n_cells,
       |   CAST((SELECT t FROM tot) AS BIGINT) AS t,
       |   CAST((SELECT sum(z * z) FROM z) AS BIGINT) AS sum_z2,
       |   CAST((SELECT count(*) FROM pairs) AS BIGINT) AS w_sum,
       |   CAST((SELECT sum(zi * zj) FROM pairs) AS BIGINT) AS sum_wzz"""
      .stripMargin.replace("\n", " ")

  /** DuckDB replica of [[gearyNumerators]]: same lattice and queen pairs,
    * squared-difference numerator in place of the cross-product. */
  def gearyNumeratorsSql(entsCte: String, lonExpr: String, latExpr: String): String =
    s"""${latticeCtes(entsCte, lonExpr, latExpr)},
       | pairs AS (SELECT a.z AS zi, b.z AS zj FROM z a CROSS JOIN offs o
       |   JOIN z b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy)
       | SELECT CAST((SELECT count(*) FROM z) AS BIGINT) AS n_cells,
       |   CAST((SELECT t FROM tot) AS BIGINT) AS t,
       |   CAST((SELECT sum(z * z) FROM z) AS BIGINT) AS sum_z2,
       |   CAST((SELECT count(*) FROM pairs) AS BIGINT) AS w_sum,
       |   CAST((SELECT sum((zi - zj) * (zi - zj)) FROM pairs) AS BIGINT) AS sum_wdd"""
      .stripMargin.replace("\n", " ")

  /** DuckDB replica of [[localMoran]]: per-cell deviation, queen lag, and
    * scatterplot quadrant. */
  def localMoranSql(entsCte: String, lonExpr: String, latExpr: String): String =
    s"""${latticeCtes(entsCte, lonExpr, latExpr)},
       | lag AS (SELECT b.cx, b.cy, sum(a.z) AS sum_wz
       |   FROM z a CROSS JOIN offs o
       |   JOIN z b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy GROUP BY 1, 2)
       | SELECT g.cx, g.cy, CAST(g.z AS BIGINT) AS z,
       |   CAST(coalesce(l.sum_wz, 0) AS BIGINT) AS sum_wz,
       |   CASE WHEN g.z > 0 AND coalesce(l.sum_wz, 0) > 0 THEN 'HH'
       |        WHEN g.z < 0 AND coalesce(l.sum_wz, 0) < 0 THEN 'LL'
       |        WHEN g.z > 0 AND coalesce(l.sum_wz, 0) < 0 THEN 'HL'
       |        WHEN g.z < 0 AND coalesce(l.sum_wz, 0) > 0 THEN 'LH'
       |        ELSE 'Z0' END AS quad
       | FROM z g LEFT JOIN lag l ON l.cx = g.cx AND l.cy = g.cy"""
      .stripMargin.replace("\n", " ")

  /** DuckDB replica of [[getisOrd]]: inclusive-neighborhood size, point
    * sum, and the N-scaled Gi* numerator with its sign class. */
  def getisOrdSql(entsCte: String, lonExpr: String, latExpr: String): String =
    s"""${latticeCtes(entsCte, lonExpr, latExpr)},
       | offs9 AS (SELECT * FROM offs UNION ALL SELECT 0, 0),
       | g AS (SELECT b.cx, b.cy, count(*) AS wi, sum(a.n) AS gsum
       |   FROM z a CROSS JOIN offs9 o
       |   JOIN z b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy GROUP BY 1, 2)
       | SELECT g.cx, g.cy, CAST(g.wi AS BIGINT) AS wi,
       |   CAST(g.gsum AS BIGINT) AS gsum,
       |   CAST($NCells * g.gsum - g.wi * t.t AS BIGINT) AS znum,
       |   CASE WHEN $NCells * g.gsum - g.wi * t.t > 0 THEN 'HOT'
       |        WHEN $NCells * g.gsum - g.wi * t.t < 0 THEN 'COLD'
       |        ELSE 'ZERO' END AS cls
       | FROM g CROSS JOIN tot t"""
      .stripMargin.replace("\n", " ")

  /** DuckDB replica of [[joinCounts]]: B/W classification + directed
    * queen-adjacency class-pair counts. */
  def joinCountsSql(entsCte: String, lonExpr: String, latExpr: String,
                    minPts: Long = 3L): String =
    s"""${latticeCtes(entsCte, lonExpr, latExpr)},
       | cls AS (SELECT cx, cy, CASE WHEN n >= $minPts THEN 'B' ELSE 'W' END AS c FROM z),
       | prs AS (SELECT a.c AS ci, b.c AS cj FROM cls a CROSS JOIN offs o
       |   JOIN cls b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy)
       | SELECT CASE WHEN ci = 'B' AND cj = 'B' THEN 'BB'
       |             WHEN ci = 'W' AND cj = 'W' THEN 'WW'
       |             ELSE 'BW' END AS pair, CAST(count(*) AS BIGINT) AS cnt
       | FROM prs GROUP BY 1"""
      .stripMargin.replace("\n", " ")
}
