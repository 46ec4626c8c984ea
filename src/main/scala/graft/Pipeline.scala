package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Layers, WebPagesSynth}
import graft.ops.{EntityExtract, GeoExpressions, TileAssign}

/** The flagship spatial pipeline (north rule): web pages -> geo-entity
  * extraction -> cell index -> point-in-polygon resolve (broadcast covering
  * index) -> kNN POIs -> tile assignment. One narrow stage end-to-end after
  * the scans: the polygon and POI layers are broadcast dims, so the
  * 10^12-row page side never shuffles; `text` survives byte-identical.
  */
object Pipeline {
  val CellLevel = 6
  val TileZ = 8
  val K = 3

  /** Finer grid for the SHUFFLE pip-join path: the broadcast path's
    * quadtree cover splits a dense cell until few boundary polygons are
    * left, but the shuffle path meets every polygon covering the point's
    * fixed-level cell, so candidate count per point is the cell's polygon
    * density — at level 6 the urban cell holds the
    * whole 2k-polygon square (quadratic blowup, measured 4s of refine at
    * sf0.1). Level 10 cells (0.35 x 0.175 deg) cut candidates ~20x for a
    * ~20-cell cover duplication of the big rural diamonds — the standard
    * cover-grain tradeoff, chosen for the dense side. Output is identical
    * at any level (the exact refine decides membership). */
  val ShuffleCellLevel = 10

  def entities(spark: SparkSession, sfDir: String): DataFrame =
    EntityExtract.entities(WebPagesSynth.pages(spark, sfDir))

  /** Entities from a uniform DOCUMENT sample — the cheap input for skew
    * sketches. Page-level (cluster) sampling preserves hot cells: a cell is
    * hot because many pages mention it, so a 5% page sample sees ~5% of a
    * hot cell's entities. Sampling before synthesis/extraction makes the
    * sketch cost `fraction` of a scan instead of a second full pass. */
  def entitiesSampled(spark: SparkSession, sfDir: String, fraction: Double): DataFrame =
    EntityExtract.entities(WebPagesSynth.pages(spark, sfDir, Some(fraction)))

  /** Entity-level enrichment: ONE output row per entity carrying poly_ids
    * and kNN POIs as ARRAYS plus the tile — no row explosion (a 2000-way
    * urban polygon overlap would otherwise multiply the fact side), no
    * shuffle, text untouched. The exploded forms exist as separate queries
    * (q13/q15) where the oracle wants flat rows. */
  def enrich(spark: SparkSession, sfDir: String, ents: DataFrame): DataFrame = {
    val containing = GeoExpressions.containingCol(spark, Layers.polygons(spark, sfDir), CellLevel)
    val knn = GeoExpressions.knnCol(spark, Layers.pois(spark, sfDir), K, CellLevel)
    enrichPrebuilt(ents, containing, knn)
  }

  /** Same, with the broadcast probes already built — the index build is a
    * once-per-job driver cost, amortized over the whole table. The probes
    * are native Catalyst expressions (no per-row boxing, GeoExpressions). */
  def enrichPrebuilt(ents: DataFrame,
                     containing: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
                     knn: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): DataFrame =
    TileAssign.assign(
      ents.withColumn("poly_ids", containing(col("lon"), col("lat")))
        .withColumn("knn_pois", knn(col("lon"), col("lat"))),
      TileZ)

  /** Full pipeline on the standard pages table. */
  def run(spark: SparkSession, sfDir: String): DataFrame =
    enrich(spark, sfDir, entities(spark, sfDir))

  /** Bench variant: pages amplified `rep`x by replicating the documents
    * table with shifted doc_ids (same formulas => same skew profile), so
    * sf0.1's 5k docs become millions of pages. */
  def entitiesAmplified(spark: SparkSession, sfDir: String, rep: Int): DataFrame =
    entitiesAmplifiedRange(spark, sfDir, 0, rep, rep)

  /** Replication slice [repFrom, repTo) of repTotal — lets independent
    * executor processes partition the same logical input disjointly. */
  def entitiesAmplifiedRange(spark: SparkSession, sfDir: String,
                             repFrom: Int, repTo: Int, repTotal: Int): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    // Repartition the SMALL side BEFORE the fan-out: the source parquet is
    // one input split, so exploding first would run the whole rep-fold
    // amplification (and its shuffle write) in a single task. Shuffling
    // 5k rows is free; each of the 2*parallelism partitions then explodes
    // independently — no post-explode shuffle at all.
    val amplified = docs
      .repartition(spark.sparkContext.defaultParallelism * 4)
      .withColumn("rep", explode(sequence(lit(repFrom), lit(repTo - 1))))
      .withColumn("doc_id", col("doc_id") * repTotal + col("rep"))
      .drop("rep")
    val d = col("doc_id")
    val pages = amplified.select(
      WebPagesSynth.urlOf(d).as("url"),
      WebPagesSynth.pageText(col("text"), d).as("text"),
      col("lang"))
    EntityExtract.entities(pages)
  }
}
