package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.geom.{GeoJsonDecode, ShapeDecode, WkbCodec}
import graft.geom.ShapeDecode._
import graft.sources.{GeoJsonReader, ShapefileReader, SourceDispatch}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class SourcesSpec extends AnyFunSuite with SparkTest {

  private val tmp = Files.createTempDirectory("graft-fixtures").toString

  // ---- P1 shape-decode quirks (reference geo.rs tests 55-118) ----
  test("to_geo point (geo.rs:55-60)") {
    assert(ShapeDecode.toGeometry(SPoint(1, 2)).equalsExact(WkbCodec.point(1, 2)))
  }

  test("2-part polyline flattens to ONE 4-vertex LineString (geo.rs:62-84)") {
    val g = ShapeDecode.toGeometry(SPolyLine(Seq(Seq((1, 1), (2, 2)), Seq((3, 3), (4, 4)))))
    assert(g.getGeometryType === "LineString")
    assert(g.getNumPoints === 4)
    assert(g.getCoordinates.map(c => (c.x, c.y)).toSeq ===
      Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (4.0, 4.0)))
  }

  test("3-part polyline flattens to ONE 7-vertex LineString (geo.rs:86-118)") {
    val g = ShapeDecode.toGeometry(SPolyLine(Seq(
      Seq((1, 1), (2, 2)), Seq((3, 3), (4, 4)), Seq((5, 5), (6, 6), (7, 7)))))
    assert(g.getGeometryType === "LineString" && g.getNumPoints === 7)
  }

  test("polygon: outer rings concatenated into ONE exterior, inners become holes") {
    val cw1 = Seq((0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0))   // clockwise
    val cw2 = Seq((10.0, 0.0), (10.0, 2.0), (12.0, 2.0), (12.0, 0.0), (10.0, 0.0))
    val ccw = Seq((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0))   // hole
    val g = ShapeDecode.toGeometry(SPolygon(Seq(cw1, ccw, cw2)))
      .asInstanceOf[org.locationtech.jts.geom.Polygon]
    assert(g.getNumInteriorRing === 1)
    // quirk: exterior has BOTH outer rings' vertices (10 points + auto-close)
    assert(g.getExteriorRing.getNumPoints === 11)
  }

  test("unsupported shape type throws (geo.rs:44-46)") {
    assertThrows[GraftError.UnsupportedShapeType](ShapeDecode.toGeometry(SUnsupported(8)))
  }

  // ---- andalucia-like shapefile fixture (FIXTURES.md §3) ----
  private def writeAndalucia(): String = {
    val polys = (0 until 36).map { i =>
      val cx = -10.0 + (i % 9); val cy = 34.0 + (i / 9)
      // clockwise square (ESRI outer)
      Seq((cx, cy), (cx, cy + 0.9), (cx + 0.9, cy + 0.9), (cx + 0.9, cy), (cx, cy))
    }
    FixtureWriters.writePolygonShp(s"$tmp/andalucia.shp", polys)
    FixtureWriters.writeDbf(s"$tmp/andalucia.dbf",
      Seq(("x", 'N', 9), ("y", 'N', 9)),
      (0 until 36).map(i => Seq((-10 + i % 9).toString, (34 + i / 9).toString)))
    s"$tmp/andalucia.shp"
  }

  test("shapefile scan: 36 rows, x/y FLOAT8 schema, polygon WKB (shapefile.rs:180-208)") {
    val path = writeAndalucia()
    val df = SourceDispatch.read(spark, path)
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Seq(("x", DoubleType), ("y", DoubleType), ("geom", BinaryType)))
    val rows = df.collect()
    assert(rows.length === 36)
    assert(rows.forall(r => WkbCodec.read(r.getAs[Array[Byte]]("geom")).getGeometryType === "Polygon"))
    assert(rows.map(_.getDouble(0)).min === -10.0)
  }

  test("shapefile reproject 4326->3857 transforms coordinates") {
    val path = writeAndalucia()
    val df = SourceDispatch.read(spark, path, 4326, Some(3857))
    val g = WkbCodec.read(df.collect().head.getAs[Array[Byte]]("geom"))
    assert(math.abs(g.getCoordinates.head.x) > 100000) // meters now
  }

  test("readDir distributes files and unions rows") {
    writeAndalucia()
    val dir = Files.createTempDirectory("graft-shp-dir")
    for (name <- Seq("andalucia", "andalucia2"); ext <- Seq("shp", "shx", "dbf"))
      Files.copy(Paths.get(s"$tmp/andalucia.$ext"), dir.resolve(s"$name.$ext"))
    assert(SourceDispatch.readDir(spark, dir.toString).count() === 72)
  }

  // ---- spain-like geojson fixture (FIXTURES.md §2) ----
  private def spainJson(): String = {
    def poly(o: Double) =
      s"""{"type":"Polygon","coordinates":[[[$o,40],[${o + 0.5},40],[${o + 0.5},40.5],[$o,40.5],[$o,40]]]}"""
    def multi(o: Double) =
      s"""{"type":"MultiPolygon","coordinates":[[[[$o,41],[${o + 0.4},41],[${o + 0.4},41.4],[$o,41]]],[[[${o + 1},42],[${o + 1.4},42],[${o + 1.4},42.4],[${o + 1},42]]]]}"""
    val feats = (0 until 19).map { i =>
      val geom = if (i < 10) poly(-9 + i * 0.7) else multi(-9 + (i - 10) * 0.8)
      s"""{"type":"Feature","properties":{"source":"s$i","id":"id$i","name":"n$i"},"geometry":$geom}"""
    }
    s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
  }

  test("geojson scan: 19 rows, 3 TEXT columns inferred from FIRST feature (geojson.rs:172-201)") {
    val p = s"$tmp/spain.geojson"
    Files.write(Paths.get(p), spainJson().getBytes("UTF-8"))
    val df = SourceDispatch.read(spark, p)
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Seq(("id", StringType), ("name", StringType), ("source", StringType), ("geom", BinaryType)))
    assert(df.count() === 19)
    val kinds = df.collect().map(r => WkbCodec.read(r.getAs[Array[Byte]]("geom")).getGeometryType)
    assert(kinds.count(_ == "Polygon") === 10 && kinds.count(_ == "MultiPolygon") === 9)
  }

  test("geojson: geom/geometry keys skipped, null no type, nested dropped, number->double, bool->bool") {
    val j = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"a":1.5,"b":"x","c":true,"d":null,"geom":"skip","geometry":"skip","e":{"nested":1}},
       "geometry":{"type":"Point","coordinates":[1,2]}}]}"""
    val p = s"$tmp/types.geojson"
    Files.write(Paths.get(p), j.getBytes("UTF-8"))
    val df = SourceDispatch.read(spark, p)
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Seq(("a", DoubleType), ("b", StringType), ("c", BooleanType), ("geom", BinaryType)))
  }

  test("geojson: non-FeatureCollection -> empty result, no throw (geojson.rs:119-124)") {
    val p = s"$tmp/notfc.geojson"
    Files.write(Paths.get(p), """{"type":"Point","coordinates":[1,2]}""".getBytes("UTF-8"))
    assert(SourceDispatch.read(spark, p).count() === 0)
  }

  test("geojson streaming parse == DOM parse (rows, schema), incl. reproject") {
    val json = spainJson()
    def open() = new java.io.ByteArrayInputStream(json.getBytes("UTF-8"))
    val domSchema = GeoJsonReader.inferSchema(json)
    assert(GeoJsonReader.inferSchemaStream(() => open()) === domSchema)
    val dom = GeoJsonReader.parseRows(json, domSchema, 4326, Some(3857))
    val stream = GeoJsonReader.parseRowsStream(() => open(), domSchema, 4326, Some(3857)).toSeq
    assert(stream.size === dom.size)
    stream.zip(dom).foreach { case (s, d) =>
      assert(s.toSeq.dropRight(1) === d.toSeq.dropRight(1))
      assert(s.getAs[Array[Byte]](domSchema.size - 1).toSeq === d.getAs[Array[Byte]](domSchema.size - 1).toSeq)
    }
  }

  test("geojson streaming: type AFTER features falls back to DOM, same rows") {
    val reordered = """{"features":[
      {"type":"Feature","properties":{"a":1.5},"geometry":{"type":"Point","coordinates":[1,2]}}],
      "type":"FeatureCollection"}"""
    def open() = new java.io.ByteArrayInputStream(reordered.getBytes("UTF-8"))
    val schema = GeoJsonReader.inferSchemaStream(() => open())
    assert(schema.fields.map(_.name).toSeq === Seq("a", "geom"))
    val rows = GeoJsonReader.parseRowsStream(() => open(), schema, 4326, None).toSeq
    assert(rows.size === 1 && rows.head.getDouble(0) === 1.5)
  }

  test("geojson streaming: non-FeatureCollection -> empty, extra top-level keys skipped") {
    def bin(s: String) = () => new java.io.ByteArrayInputStream(s.getBytes("UTF-8"))
    val schema = GeoJsonReader.inferSchemaStream(bin("""{"type":"Point","coordinates":[1,2]}"""))
    assert(schema.fields.map(_.name).toSeq === Seq("geom"))
    assert(GeoJsonReader.parseRowsStream(bin("""{"type":"Point","coordinates":[1,2]}"""),
      schema, 4326, None).isEmpty)
    // crs/bbox keys before features must be skipped cleanly
    val fc = """{"type":"FeatureCollection","bbox":[0,0,2,2],"crs":{"type":"name","properties":{"name":"EPSG:4326"}},
      "features":[{"type":"Feature","properties":{"a":2.0},"geometry":{"type":"Point","coordinates":[1,2]}}]}"""
    val s2 = GeoJsonReader.inferSchemaStream(bin(fc))
    assert(GeoJsonReader.parseRowsStream(bin(fc), s2, 4326, None).size === 1)
  }

  test("geojson reproject is per-coordinate Mercator (P3) and WKB bytes are stable") {
    val p = s"$tmp/spain.geojson"
    Files.write(Paths.get(p), spainJson().getBytes("UTF-8"))
    val a = SourceDispatch.read(spark, p, 4326, Some(3857)).collect()
      .map(_.getAs[Array[Byte]]("geom").toSeq)
    val b = SourceDispatch.read(spark, p, 4326, Some(3857)).collect()
      .map(_.getAs[Array[Byte]]("geom").toSeq)
    assert(a.toSeq === b.toSeq)
    val g = WkbCodec.read(a.head.toArray)
    assert(math.abs(g.getCoordinates.head.x + 9 * 111319.49079327357) < 1.0) // -9 deg in meters
  }

  test("geomFromGeoJson column function decodes all geometry types") {
    import spark.implicits._
    val df = Seq(
      """{"type":"Point","coordinates":[1,2]}""",
      """{"type":"MultiLineString","coordinates":[[[0,0],[1,1]],[[2,2],[3,3]]]}""",
      """{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[5,6]}]}"""
    ).toDF("gj")
    val out = df.select(GeoJsonReader.geomFromGeoJson($"gj").as("wkb")).collect()
    assert(WkbCodec.read(out(0).getAs[Array[Byte]](0)).getGeometryType === "Point")
    assert(WkbCodec.read(out(1).getAs[Array[Byte]](0)).getGeometryType === "MultiLineString")
    assert(WkbCodec.read(out(2).getAs[Array[Byte]](0)).getGeometryType === "GeometryCollection")
  }

  // ---- S8 dispatch + F4 validation ----
  test("file-type dispatch (common.rs:82-93) and validation (validate.rs)") {
    assert(SourceDispatch.determineFileType("a/b.shp") === SourceDispatch.Shapefile)
    assert(SourceDispatch.determineFileType("x.geojson") === SourceDispatch.GeoJson)
    assert(SourceDispatch.determineFileType("m.pbf") === SourceDispatch.OsmPbf)
    assertThrows[GraftError.UnsupportedFileExtension](SourceDispatch.determineFileType("a.csv"))
    assertThrows[GraftError.FailedValidation](
      SourceDispatch.validateArgs("/nonexistent", 4326, None))
    assertThrows[GraftError.FailedValidation](
      SourceDispatch.validateArgs(tmp, 2154, None))
  }

  // ---- parity against the REAL reference example data (read-only) ----
  test("reference spain.geojson parity: 19 rows, 3 TEXT columns") {
    val ref = "/root/reference/examples/geojson/spain.geojson"
    assume(Files.exists(Paths.get(ref)))
    val df = SourceDispatch.read(spark, ref)
    assert(df.count() === 19)
    assert(df.schema.fields.map(_.name).toSeq === Seq("id", "name", "source", "geom"))
    assert(df.schema.fields.dropRight(1).forall(_.dataType == StringType))
  }

  test("reference andalucia.shp parity: 36 rows, x/y FLOAT8") {
    val ref = "/root/reference/examples/shapefile/andalucia.shp"
    assume(Files.exists(Paths.get(ref)))
    val df = SourceDispatch.read(spark, ref)
    assert(df.count() === 36)
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Seq(("x", DoubleType), ("y", DoubleType), ("geom", BinaryType)))
  }

  // ---- DataSource V2 shapefile (split scan) vs the single-threaded codec ----
  private def codec(shp: String, reproject: Option[Int] = None) = {
    val schema = ShapefileReader.inferSchema(Files.readAllBytes(Paths.get(shp.dropRight(4) + ".dbf")))
    spark.createDataFrame(ShapefileReader.parseFileRows(shp, schema, 4326, reproject).asJava, schema)
  }

  private def rowsKey(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.functions._
    df.withColumn("geom_md5", md5(col("geom"))).drop("geom")
      .collect().map(_.mkString("|")).toSet
  }

  test("DSv2 shapefile: tiny splits -> many partitions, identical rows to driver reader") {
    val dir = Files.createTempDirectory("graft-dsv2").toString
    val shp = graft.sources.FileFixtures.writeShapefile(dir)
    val v1 = codec(shp)
    val v2 = spark.read.format("shapefile").option("splitBytes", "128").load(shp)
    assert(v2.schema === v1.schema)
    assert(v2.rdd.getNumPartitions > 1, "expected the 10-record file to split")
    assert(rowsKey(v2) === rowsKey(v1))
    // single wide split degenerates to one partition, same rows
    val one = spark.read.format("shapefile").load(shp)
    assert(one.rdd.getNumPartitions === 1)
    assert(rowsKey(one) === rowsKey(v1))
  }

  test("DSv2 shapefile: reproject option matches driver reader reprojection") {
    val dir = Files.createTempDirectory("graft-dsv2r").toString
    val shp = graft.sources.FileFixtures.writeShapefile(dir)
    val v1 = codec(shp, Some(3857))
    val v2 = spark.read.format("shapefile")
      .option("splitBytes", "128").option("reproject", "3857").load(shp)
    assert(rowsKey(v2) === rowsKey(v1))
  }

  test("DSv2 shapefile: reference andalucia (GENUINE external .shx) == driver reader") {
    // the real-world proof of the spec .shx semantics: offsets address the
    // record HEADER (first = 50 words = byte 100), not the record content —
    // a content-offset reader parses garbage on any externally-produced file
    val ref = "/root/reference/examples/shapefile/andalucia.shp"
    assume(Files.exists(Paths.get(ref)))
    val v1 = codec(ref)
    val v2 = spark.read.format("shapefile").option("splitBytes", "65536").load(ref)
    assert(v2.rdd.getNumPartitions > 1, "expected the 12 MB file to split")
    assert(rowsKey(v2) === rowsKey(v1))
  }

  test("DSv2 shapefile: pruning geom never opens the .shp (deleted file, attrs still read)") {
    val dir = Files.createTempDirectory("graft-dsv2p").toString
    val shp = graft.sources.FileFixtures.writeShapefile(dir)
    Files.delete(Paths.get(shp)) // .shx + .dbf remain — enough for attr-only scans
    val df = spark.read.format("shapefile").option("splitBytes", "128").load(shp)
      .select("nm", "cnt")
    assert(df.collect().map(_.mkString("|")).sorted.toSeq ===
      graft.sources.FileFixtures.shpFeats.map(f => s"${f.nm}|${f.cnt}").sorted)
  }
}
