package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo


/** OSM node<->way resolution — the reference's one real dataflow join (J1,
  * `/root/reference/src/format/osmpbf.rs:53-88`), re-expressed Spark-first:
  *
  *   ways --posexplode(refs)--> (way_id, pos, ref)
  *        --inner join broadcast(nodes) on ref = node_id   (missing refs
  *          silently dropped, exactly the reference's HashMap-probe miss)
  *        --groupBy(way_id) + sort_array(collect_list(struct(pos,lon,lat)))
  *          (ref order preserved -> vertex order)
  *        --geometry build: closed (first raw ref == last raw ref, F1
  *          osmpbf.rs:96-100) -> Polygon (no holes), else LineString.
  *
  * The node side is the natural broadcast dim (the reference holds ALL
  * nodes in one HashMap — osmpbf.rs:19-51); for planet-scale node sets the
  * same plan minus the broadcast hint degrades gracefully to a sort-merge
  * join, with AQE skew handling.
  *
  * Geometry rules (nullable `geom`): LineString needs >= 2 resolved points,
  * Polygon ring >= 4 points after auto-close; under-resolved ways keep
  * their row with geom = null (the row set — 4,944 for the monaco fixture —
  * is defined by the join, not by geometry validity).
  */
object OsmWayAssembly {

  def assemble(spark: SparkSession, nodes: DataFrame, ways: DataFrame,
               broadcastNodes: Boolean = true): DataFrame =
    if (broadcastNodes) assembleBroadcast(spark, nodes, ways)
    else assembleShuffle(nodes, ways)

  /** Broadcast path: the node map rides a broadcast (the reference's
    * all-nodes HashMap) and every way assembles INSIDE its own row — the
    * refs array already carries the vertex order, so exploding it, joining,
    * and regrouping (the previous form) shuffled every vertex plus the
    * way's tags per ref only to rebuild an order the row already had.
    * Zero exchanges; output identical to [[assembleShuffle]] (parity
    * spec-tested): ways with no resolved ref are dropped, matching the
    * inner join. The node map is collected and broadcast once per node
    * layer version ([[graft.TableMemo]]). */
  private def assembleBroadcast(spark: SparkSession, nodes: DataFrame,
                                ways: DataFrame): DataFrame = {
    val bc = TableMemo.derived(spark, "nodeCoordMap", nodes) {
      val rows = nodes.select(col("node_id"), col("lon"), col("lat")).collect()
      TableMemo.Held.broadcast(spark.sparkContext.broadcast(NodeCoordMap.fromRows(rows)))
    }
    ways.select(col("way_id"), col("tags"), inline(GeoExpressions.wayAssemble(col("refs"), bc)))
      .select(
        col("way_id"),
        col("tags"),
        when(col("closed"), "Polygon").otherwise("LineString").as("kind"),
        col("npts"),
        col("geom"))
  }

  /** Shuffle path for node sets too big to broadcast: the declarative
    * explode -> equi-join -> regroup form (sort-merge/shuffle-hash under
    * AQE with skew handling). */
  private def assembleShuffle(nodes: DataFrame, ways: DataFrame): DataFrame = {
    val refd = ways.select(col("way_id"), col("tags"),
      element_at(col("refs"), 1).as("first_ref"),
      element_at(col("refs"), -1).as("last_ref"),
      posexplode(col("refs")).as(Seq("pos", "ref")))
    val n = nodes.select(col("node_id"), col("lon"), col("lat"))
    val joined = refd.join(n, refd("ref") === n("node_id"), "inner")
    val grouped = joined.groupBy("way_id")
      .agg(
        first(col("tags")).as("tags"),
        first(col("first_ref") === col("last_ref")).as("closed"),
        sort_array(collect_list(struct(col("pos"), col("lon"), col("lat")))).as("pts"))

    grouped.select(
      col("way_id"),
      col("tags"),
      when(col("closed"), "Polygon").otherwise("LineString").as("kind"),
      size(col("pts")).as("npts"),
      GeoExpressions.wayWkb(col("closed"), col("pts")).as("geom"))
  }
}
