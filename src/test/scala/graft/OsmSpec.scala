package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.WkbCodec
import graft.ops.OsmWayAssembly

class OsmSpec extends AnyFunSuite with SparkTest {

  private def mini() = {
    import spark.implicits._
    // nodes 1..5 on a unit square-ish layout; node 99 never exists
    val nodes = Seq(
      (1L, 0.0, 0.0), (2L, 1.0, 0.0), (3L, 1.0, 1.0), (4L, 0.0, 1.0), (5L, 2.0, 2.0)
    ).toDF("node_id", "lon", "lat")
      .withColumn("tags", org.apache.spark.sql.functions.array())
    val ways = Seq(
      (10L, Seq(1L, 2L, 3L, 4L, 1L)),   // closed -> Polygon
      (11L, Seq(1L, 2L, 5L)),           // open   -> LineString
      (12L, Seq(1L, 99L, 3L)),          // missing ref dropped -> 2-pt line
      (13L, Seq(1L, 99L)),              // resolves to 1 point -> geom null
      (14L, Seq(2L, 99L, 3L, 2L))       // closed but only 3 resolved -> geom null
    ).toDF("way_id", "refs")
      .withColumn("tags", org.apache.spark.sql.functions.array())
    (nodes, ways)
  }

  test("way assembly: classification, missing-ref inner-join semantics, vertex order") {
    import spark.implicits._
    val (nodes, ways) = mini()
    val out = OsmWayAssembly.assemble(spark, nodes, ways)
      .select("way_id", "kind", "npts", "geom")
      .as[(Long, String, Int, Array[Byte])].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap

    assert(byId(10L)._2 === "Polygon" && byId(10L)._3 === 5)
    val poly = WkbCodec.read(byId(10L)._4)
    assert(poly.getGeometryType === "Polygon")
    assert(poly.getCoordinates.map(c => (c.x, c.y)).toSeq ===
      Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)))

    assert(byId(11L)._2 === "LineString" && byId(11L)._3 === 3)
    val line = WkbCodec.read(byId(11L)._4)
    assert(line.getCoordinates.map(c => (c.x, c.y)).toSeq ===
      Seq((0.0, 0.0), (1.0, 0.0), (2.0, 2.0))) // ref order preserved

    assert(byId(12L)._2 === "LineString" && byId(12L)._3 === 2) // 99 dropped silently
    assert(byId(13L)._2 === "LineString" && byId(13L)._3 === 1 && byId(13L)._4 === null)
    assert(byId(14L)._2 === "Polygon" && byId(14L)._4 === null) // ring < 4 points
  }

  test("closed classification uses RAW refs (reference F1), not resolved points") {
    import spark.implicits._
    val nodes = Seq((1L, 0.0, 0.0), (2L, 1.0, 0.0)).toDF("node_id", "lon", "lat")
      .withColumn("tags", org.apache.spark.sql.functions.array())
    // first == last raw ref but the closing ref is missing from nodes:
    val ways = Seq((20L, Seq(99L, 1L, 2L, 99L))).toDF("way_id", "refs")
      .withColumn("tags", org.apache.spark.sql.functions.array())
    val out = OsmWayAssembly.assemble(spark, nodes, ways)
      .select("way_id", "kind", "npts").as[(Long, String, Int)].collect()
    assert(out.toSeq === Seq((20L, "Polygon", 2)))
  }

  test("row-local broadcast assembly == declarative shuffle-join assembly") {
    import spark.implicits._
    val nodes = graft.sources.OsmElements.nodes(spark, Sf)
    // one partition, fewer than the session's cores: the assembly must
    // still run in the ways frame's own partitioning
    val ways = graft.sources.OsmElements.ways(spark, Sf).coalesce(1)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("way_id", "kind", "npts", "geom")
        .as[(Long, String, Int, Array[Byte])].collect()
        .map { case (w, k, n, g) => (w, k, n, Option(g).map(_.toSeq)) }.sortBy(_._1).toSeq
    val broadcastOut = canon(OsmWayAssembly.assemble(spark, nodes, ways, broadcastNodes = true))
    val shuffleOut = canon(OsmWayAssembly.assemble(spark, nodes, ways, broadcastNodes = false))
    assert(broadcastOut.nonEmpty)
    assert(broadcastOut === shuffleOut)
    // and the broadcast path must be exchange-free
    val exchanges = Probes.shuffleKeys(OsmWayAssembly.assemble(spark, nodes, ways))
    assert(exchanges.isEmpty, s"broadcast assembly shuffles on: $exchanges")
  }

  test("ways whose refs all miss disappear (inner join), matching the row-set rule") {
    import spark.implicits._
    val nodes = Seq((1L, 0.0, 0.0)).toDF("node_id", "lon", "lat")
      .withColumn("tags", org.apache.spark.sql.functions.array())
    val ways = Seq((30L, Seq(98L, 99L))).toDF("way_id", "refs")
      .withColumn("tags", org.apache.spark.sql.functions.array())
    assert(OsmWayAssembly.assemble(spark, nodes, ways).count() === 0)
  }
}
