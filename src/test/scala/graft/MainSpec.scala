package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.sources.{FileFixtures, SourceDispatch}
import graft.table.TableLog

/** End-to-end pipeline-driver coverage (O1): the reference CLI surface
  * driven through [[Main.run]] on the synthesized file fixtures
  * ([[FileFixtures]]: 12 GeoJSON features, 10 shapefile polygons, 4 PBF
  * way features), and `.pbf` through the uniform dispatch (S8 completion —
  * `/root/reference/src/format/common.rs:65-80` handles all three formats
  * in one place; so does [[SourceDispatch.read]]).
  */
class MainSpec extends AnyFunSuite with SparkTest {

  private val tmp = Files.createTempDirectory("graft-main-e2e").toString
  private lazy val geojson = { val p = s"$tmp/fix.geojson"; FileFixtures.writeGeoJson(p); p }
  private lazy val shapefile = FileFixtures.writeShapefile(tmp)
  private lazy val pbf = { val p = s"$tmp/fix.osm.pbf"; FileFixtures.writePbf(p); p }

  test("e2e: geojson fixture -> table, 12 reprojected rows, geom last") {
    val table = s"$tmp/gj_3857"
    val snap = Main.run(spark, geojson, table, srid = 4326,
      reproject = Some(3857), mode = "fail")
    assert(snap.srid === 3857)
    val df = TableLog.read(spark, table)
    assert(df.count() === 12)
    assert(df.columns.last === "geom")
    // reprojected: Mercator x range is meters, far outside [-180, 180]
    graft.ops.GraftFunctions.register(spark)
    df.createOrReplaceTempView("gj_3857")
    val maxAbsX = spark.sql(
      "SELECT max(abs(st_x(st_centroid(geom)))) FROM gj_3857").head().getDouble(0)
    assert(maxAbsX > 100000.0)
  }

  test("e2e: fail mode on existing table throws TableExists (K5)") {
    val table = s"$tmp/gj_fail"
    Main.run(spark, geojson, table, mode = "fail")
    assertThrows[GraftError.TableExists](
      Main.run(spark, geojson, table, mode = "fail"))
  }

  test("e2e: overwrite mode replaces, append adds (K6)") {
    val table = s"$tmp/gj_ow"
    Main.run(spark, geojson, table, mode = "fail")
    Main.run(spark, geojson, table, mode = "overwrite")
    assert(TableLog.read(spark, table).count() === 12)
    Main.run(spark, geojson, table, mode = "append")
    assert(TableLog.read(spark, table).count() === 24)
  }

  test("dispatch: .pbf through SourceDispatch.read (S8), fixed tags+geom schema") {
    val df = SourceDispatch.read(spark, pbf)
    assert(df.columns.toSeq === Seq("tags", "geom"))
    assert(df.count() === 4) // way features of the fixture
  }

  test("dispatch: validateArgs runs for pbf too (bad srid rejected)") {
    assertThrows[GraftError.FailedValidation](
      SourceDispatch.read(spark, pbf, srid = 9999))
  }

  test("e2e: --schema creates the namespace and qualifies the table (K4)") {
    val ns = s"$tmp/myschema"
    Main.run(spark, geojson, "gj_t", schema = Some(ns))
    assert(TableLog.namespaceExists(ns))
    assert(TableLog.read(spark, s"$ns/gj_t").count() === 12)
  }

  test("readDir: many geojson files union on executors; mixed formats rejected") {
    val d = Files.createTempDirectory("graft-readdir")
    FileFixtures.writeGeoJson(s"$d/a.geojson")
    FileFixtures.writeGeoJson(s"$d/b.geojson")
    val df = SourceDispatch.readDir(spark, d.toString)
    assert(df.count() === 24) // 12 features x 2 files
    FileFixtures.writeShapefile(d.toString) // adds fix.shp
    assertThrows[GraftError.FailedValidation](SourceDispatch.readDir(spark, d.toString))
  }

  test("readDir: pbf files, per-blob parallel inside each file") {
    val d = Files.createTempDirectory("graft-readdir-pbf")
    FileFixtures.writePbf(s"$d/a.osm.pbf")
    FileFixtures.writePbf(s"$d/b.osm.pbf")
    val df = SourceDispatch.readDir(spark, d.toString)
    assert(df.columns.toSeq === Seq("tags", "geom"))
    assert(df.count() === 8) // 4 ways x 2 files
  }

  test("readDir: extensions match in any letter case") {
    val d = Files.createTempDirectory("graft-readdir-case")
    FileFixtures.writeGeoJson(s"$d/A.GEOJSON")
    assert(SourceDispatch.readDir(spark, d.toString).count() === 12)
    val s = Files.createTempDirectory("graft-readdir-case-shp")
    val shp = FileFixtures.writeShapefile(s.toString)
    for (ext <- Seq("shp", "shx", "dbf"))
      Files.move(java.nio.file.Paths.get(shp.dropRight(3) + ext),
        s.resolve("FIX." + ext.toUpperCase))
    assert(SourceDispatch.readDir(spark, s.toString).count() === 10)
  }

  test("e2e: shapefile through Main.run") {
    val table = s"$tmp/shp"
    val snap = Main.run(spark, shapefile, table, mode = "fail")
    assert(snap.srid === 4326)
    assert(TableLog.read(spark, table).count() === 10)
  }

  test("e2e: a bad mode or an existing fail-mode table throws before the input is read") {
    val table = s"$tmp/pbf_fast"
    Main.run(spark, pbf, table, mode = "fail")
    val onExisting = Probes.jobs(spark) {
      intercept[GraftError.TableExists](Main.run(spark, pbf, table, mode = "fail"))
    }
    assert(onExisting === 0, "jobs run before TableExists")
    val onBogus = Probes.jobs(spark) {
      intercept[GraftError.InvalidMode](Main.run(spark, pbf, s"$tmp/pbf_bogus", mode = "bogus"))
    }
    assert(onBogus === 0, "jobs run before InvalidMode")
    assert(!TableLog.exists(s"$tmp/pbf_bogus"))
  }
}
