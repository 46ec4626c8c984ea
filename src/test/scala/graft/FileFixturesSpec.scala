package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import java.nio.file.Files
import graft.sources.{FileFixtures, OsmPbfReader, SourceDispatch}

/** The oracle-checked file-source queries (q40-q42) verified against the
  * same closed-form expectations the DuckDB VALUES oracle is generated
  * from, plus the DBF 'I' -> LongType golden (shapefile.rs:66-80) and the
  * typed decode errors the CLI surfaces. */
class FileFixturesSpec extends AnyFunSuite with SparkTest {

  test("q40: GeoJSON fixture through the real reader matches closed form") {
    val rows = FileFixtures.geojsonScanQuery(spark)
      .orderBy("name").collect()
    val exp = FileFixtures.geoFeats.sortBy(_.name).map(f =>
      (f.name, f.valQ, f.flag01, f.gtype, f.npts, f.area2, f.x4, f.y4))
    assert(rows.length === exp.length)
    rows.zip(exp).foreach { case (r, e) =>
      assert((r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) === e)
    }
  }

  test("q41: shapefile fixture matches closed form; cnt is LongType") {
    val df = FileFixtures.shapefileScanQuery(spark)
    assert(df.schema("cnt").dataType === LongType)
    val rows = df.orderBy("nm").collect()
    val exp = FileFixtures.shpFeats.sortBy(_.nm).map(f =>
      (f.cnt.toLong, f.nm, f.ok01, f.vq2, f.npts, f.area2, f.x4, f.y4))
    rows.zip(exp).foreach { case (r, e) =>
      assert((r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) === e)
    }
  }

  test("q42: synthesized PBF through the real parser matches closed form") {
    val rows = FileFixtures.pbfScanQuery(spark).orderBy("way_id").collect()
    val exp = FileFixtures.pbfExpected.sortBy(_._1)
    assert(rows.length === 4)
    rows.zip(exp).foreach { case (r, e) =>
      assert((r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)) === e)
    }
  }

  test("PBF fixture: node coordinates decode via both dense and plain paths") {
    val dir = Files.createTempDirectory("graft-pbf-nodes").toString
    val path = s"$dir/n.osm.pbf"
    FileFixtures.writePbf(path)
    val codec = OsmPbfReader.indexBlobs(path).filter(_.blobType == "OSMData")
      .flatMap(b => OsmPbfReader.parsePrimitiveBlockFull(OsmPbfReader.blobData(path, b))._1)
      .sortBy(_.id).map(n => (n.id, n.lon, n.lat, n.tags.toSeq))
    val scan = spark.read.format("osmpbf").option("element", "nodes").load(path)
      .orderBy("node_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getSeq[String](3)))
    assert(scan.toSeq === codec)
    assert(codec.length === 8)
    FileFixtures.pbfNodes.zip(codec).foreach { case (n, (id, lon, lat, tags)) =>
      assert(id === n.id)
      assert(lon === 1e-9 * (100L * n.rawLon)) // granularity 100
      assert(lat === 1e-9 * (100L * n.rawLat))
      assert(tags === n.tags.map(t => s"${t._1}=${t._2}"))
    }
  }

  test("DBF 'I' field: binary int32 LE -> LongType, negative round-trips") {
    val dir = Files.createTempDirectory("graft-dbf-i").toString
    FixtureWriters.writePolygonShp(s"$dir/i.shp",
      Seq(Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0))))
    FixtureWriters.writeDbf(s"$dir/i.dbf",
      Seq(("k", 'I', 4)), Seq(Seq("-2147483648")))
    val df = SourceDispatch.read(spark, s"$dir/i.shp")
    assert(df.schema("k").dataType === LongType)
    assert(df.collect().head.getLong(0) === Int.MinValue.toLong)
  }

  test("malformed numeric DBF cell surfaces MixedDataTypes, not NumberFormatException") {
    val dir = Files.createTempDirectory("graft-dbf-bad").toString
    FixtureWriters.writePolygonShp(s"$dir/b.shp",
      Seq(Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0))))
    FixtureWriters.writeDbf(s"$dir/b.dbf",
      Seq(("n", 'N', 9)), Seq(Seq("notanum")))
    assertThrows[GraftError.MixedDataTypes](
      Main.run(spark, s"$dir/b.shp", s"$dir/t"))
  }

  test("GeoJSON property whose type conflicts with the first feature's surfaces MixedDataTypes") {
    val dir = Files.createTempDirectory("graft-gj-bad").toString
    val point = """"geometry":{"type":"Point","coordinates":[1,2]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.geojson"),
      s"""{"type":"FeatureCollection","features":[
        {"type":"Feature","properties":{"a":1.5},$point},
        {"type":"Feature","properties":{"a":"text"},$point}]}""")
    assertThrows[GraftError.MixedDataTypes](
      Main.run(spark, s"$dir/b.geojson", s"$dir/t"))
  }
}
