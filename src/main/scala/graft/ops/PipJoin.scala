package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Point
import graft.geom.WkbCodec
import graft.index.{CellGrid, CoverIndex}

/** Point-in-polygon join (north-rule operator, SURVEY.md §2b).
  *
  * Two physical strategies, chosen by the polygon side's size:
  *
  *  - [[broadcastJoin]] (default): the polygon layer is collected to a
  *    [[CoverIndex]] and broadcast; points stream through ONE narrow map
  *    (cell probe -> the index's ray-crossing refine -> explode matches),
  *    inside whole-stage codegen. Zero shuffle — skewed point cells cost
  *    nothing because nothing is repartitioned by cell. This is the right
  *    plan whenever the polygon layer is a dim table (admin boundaries,
  *    etc.), which is the common 100 TB case: 10^12 points x 10^5
  *    polygons.
  *
  *  - [[shuffleJoin]]: for polygon layers too big to broadcast. Polygons
  *    explode to (cell, poly) cover rows, points shuffle on their cell,
  *    equi-join on cell, the same ray-crossing refine after. Hot cells
  *    (dense urban polygons) are salted: cover rows for hot cells are
  *    replicated `saltFactor` ways and points pick a deterministic salt,
  *    so one hot cell spreads over `saltFactor` reducers. AQE skew-join
  *    remains on as backstop.
  *
  * Both return the point rows + `poly_id`, text columns untouched.
  */
object PipJoin {

  /** points must carry (lon, lat) double columns; polygons (poly_id, geom WKB). */
  def broadcastJoin(spark: SparkSession, points: DataFrame, polygons: DataFrame,
                    level: Int = 6): DataFrame = {
    val containing = GeoExpressions.containingCol(spark, polygons, level)
    points
      .withColumn("poly_id", explode(containing(col("lon"), col("lat"))))
  }

  /** Shuffle variant with explicit salting of hot cells.
    * @param hotCells packed (cx<<32|cy) keys to salt; pass result of
    *                 [[hotCellsOf]] or a pre-known list.
    */
  def shuffleJoin(spark: SparkSession, points: DataFrame, polygons: DataFrame,
                  level: Int = 6, saltFactor: Int = 8,
                  hotCells: Option[Seq[Long]] = None): DataFrame = {
    import spark.implicits._
    // native cover expression (r5 verdict item 7: the last udf( on a join
    // input path) — WKB read off the InternalRow, cells returned as one
    // primitive buffer; PlanGuardSpec pins the udf-free plan
    val cover = polygons
      .withColumn("cell", explode(GeoExpressions.coverCells(col("geom"), level)))
      .select(col("cell"), col("poly_id"), col("geom"))

    val pts = points.withColumn("cell",
      pointCellKey(col("lon"), col("lat"), level))

    // Default skew sketch: a 5% row sample of the point side. NOTE: when
    // the point side is itself a derivation (e.g. entity extraction over
    // pages), sample the SOURCE and pass `hotCells =
    // Some(sketchHotCells(...))` instead — a post-derivation sample still
    // pays the full derivation scan, so the default here costs a second
    // full pass that a source-level sample reduces to `fraction` of one.
    val hot = hotCells.getOrElse(sketchHotCells(pts.sample(0.05, 42)))
    val hotDf = hot.toDF("hot_cell")

    // polygon side: replicate hot-cell cover rows saltFactor ways
    val saltedCover = cover
      .join(broadcast(hotDf), cover("cell") === hotDf("hot_cell"), "left")
      .withColumn("salts",
        when(col("hot_cell").isNotNull, sequence(lit(0), lit(saltFactor - 1)))
          .otherwise(sequence(lit(0), lit(0))))
      .withColumn("salt", explode(col("salts")))
      .drop("salts", "hot_cell")

    // point side: deterministic salt within [0, saltFactor)
    val saltedPts = pts
      .join(broadcast(hotDf), pts("cell") === hotDf("hot_cell"), "left")
      .withColumn("salt",
        when(col("hot_cell").isNotNull, pmod(hash(col("url"), col("ent_idx")), lit(saltFactor)))
          .otherwise(lit(0)))
      .drop("hot_cell")

    saltedPts.join(saltedCover, Seq("cell", "salt"))
      .filter(GeoExpressions.polygonContains(
        col("poly_id"), col("geom"), col("lon"), col("lat")))
      .drop("cell", "salt", "geom", "cx", "cy", "r")
  }

  /** The one `(cx << 32) + cy` equi-join key of a point's grid cell. */
  def pointCellKey(lon: Column, lat: Column, level: Int): Column =
    shiftleft(CellGrid.cellX(lon, level), 32) + CellGrid.cellY(lat, level)

  /** Relative-threshold hot-cell sketch over an (already sampled) point set
    * carrying a `cell` column: per-cell counts partial-aggregate to
    * <= 4^level rows, and the hot set uses a RELATIVE threshold (4x the
    * mean), which is invariant under uniform sampling — hot cells are by
    * definition huge, so a sample finds them. Materializing the full fact
    * side just to count cells is a non-starter at 100 TB, and the only cost
    * of a borderline cell missing the hot set is an unsalted (still
    * correct) cell: join OUTPUT never depends on the hot set. */
  def sketchHotCells(sampledPts: DataFrame): Seq[Long] = {
    val counts = sampledPts.groupBy("cell").count().collect()
    if (counts.isEmpty) Seq.empty[Long]
    else {
      val avg = counts.map(_.getLong(1)).sum.toDouble / counts.length
      counts.filter(_.getLong(1) > 4 * avg).map(_.getLong(0)).toSeq
    }
  }

  /** Frequency sketch: cells whose point count exceeds `threshold`. Small
    * aggregate (one pass, partial agg) collected to the driver. */
  def hotCellsOf(pts: DataFrame, threshold: Double): Seq[Long] =
    pts.groupBy("cell").count().filter(col("count") > threshold)
      .select("cell").collect().map(_.getLong(0)).toSeq
}
