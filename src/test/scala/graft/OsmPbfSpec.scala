package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.OsmPbfReader
import java.nio.file.{Files, Paths}

/** Parity with the reference's own PBF tests
  * (`/root/reference/src/format/osmpbf.rs:155-166`): monaco-latest.osm.pbf
  * -> 30,798 nodes, 4,944 way features. The fixture is the reference's
  * read-only example file; tests are skipped if it is absent. */
class OsmPbfSpec extends AnyFunSuite with SparkTest {

  private val monaco = "/root/reference/examples/osmpbf/monaco-latest.osm.pbf"
  private def scan(element: String) =
    spark.read.format("osmpbf").option("element", element).load(monaco)

  test("blob index walks the whole file") {
    assume(Files.exists(Paths.get(monaco)))
    val blobs = OsmPbfReader.indexBlobs(monaco)
    assert(blobs.nonEmpty)
    assert(blobs.head.blobType === "OSMHeader")
    assert(blobs.tail.forall(_.blobType === "OSMData"))
  }

  test("node pass parity: 30,798 nodes (osmpbf.rs:155-159)") {
    assume(Files.exists(Paths.get(monaco)))
    val nodes = scan("nodes")
    assert(nodes.count() === 30798L)
    // Monaco bbox sanity: lon ~7.4, lat ~43.7
    val r = nodes.selectExpr("min(lon)", "max(lon)", "min(lat)", "max(lat)").collect()(0)
    assert(r.getDouble(0) > 7.0 && r.getDouble(1) < 7.8)
    assert(r.getDouble(2) > 43.4 && r.getDouble(3) < 44.0)
  }

  test("way pass + assembly parity: 4,944 way features, ways only (osmpbf.rs:161-166)") {
    assume(Files.exists(Paths.get(monaco)))
    val out = OsmPbfReader.read(spark, monaco)
    assert(out.count() === 4944L)
    val kinds = out.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.keySet === Set("Polygon", "LineString"))
    assert(kinds.values.sum === 4944L)
  }

  test("multipolygon relation assembly: fixture goldens + stitch rules") {
    import spark.implicits._
    val got = graft.sources.FileFixtures.pbfRelQuery(spark)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === graft.sources.FileFixtures.pbfRelExpected)
  }

  test("relation assembly on monaco: relations parse and some multipolygons assemble") {
    assume(Files.exists(Paths.get(monaco)))
    val rels = scan("relations")
    assert(rels.count() > 0)
    val mp = graft.ops.OsmRelationAssembly.assemble(spark, rels, scan("ways"), scan("nodes"))
    val rows = mp.collect()
    assert(rows.nonEmpty)
    // every emitted relation has >= 1 outer ring and valid WKB
    rows.foreach { r =>
      assert(r.getAs[Long]("n_outer") >= 1)
      val g = graft.geom.WkbCodec.read(r.getAs[Array[Byte]]("geom"))
      assert(g.getGeometryType === "MultiPolygon")
    }
  }

  test("tags are k=v strings from the string table") {
    assume(Files.exists(Paths.get(monaco)))
    import spark.implicits._
    val tagged = scan("nodes")
      .select(org.apache.spark.sql.functions.explode($"tags").as("t"))
      .limit(50).as[String].collect()
    assert(tagged.nonEmpty)
    assert(tagged.forall(_.contains("=")))
  }
}
