package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{FileFixtures, GeoJsonReader, OsmPbfReader}

/** The GeoJSON FeatureCollection and OSM PBF DataSource V2 scans: parity
  * with the single-threaded codecs, partition planning, column pruning,
  * path resolution; for all four file sources, scan-option checks,
  * truncated shapefile parts and file handles closed at task end. */
class SourcesV2Spec extends AnyFunSuite with SparkTest {

  private val monaco = "/root/reference/examples/osmpbf/monaco-latest.osm.pbf"

  private lazy val gjDir = {
    val d = Files.createTempDirectory("graft-gj-v2")
    FileFixtures.writeGeoJson(s"$d/fix.geojson")
    d.toString
  }

  /** `GeoJsonReader.parseRowsStream` over one file, as a local DataFrame. */
  private def codec(path: String) = {
    def open() = Files.newInputStream(Paths.get(path))
    val schema = GeoJsonReader.inferSchemaStream(() => open())
    spark.createDataFrame(
      GeoJsonReader.parseRowsStream(() => open(), schema, 4326, None).toSeq.asJava, schema)
  }

  test("geojson DSV2: schema and rows match the streaming reader exactly") {
    val v2 = spark.read.format("geojson").load(s"$gjDir/fix.geojson")
    val v1 = codec(s"$gjDir/fix.geojson")
    assert(v2.schema === v1.schema)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.selectExpr("name", "val", "flag", "md5(geom) AS g")
        .collect().map(_.toSeq).sortBy(_.toString)
    assert(key(v2) === key(v1))
  }

  test("geojson DSV2: one partition per file; directory load unions files") {
    val d = Files.createTempDirectory("graft-gj-dir")
    FileFixtures.writeGeoJson(s"$d/a.geojson")
    FileFixtures.writeGeoJson(s"$d/b.geojson")
    val df = spark.read.format("geojson").load(d.toString)
    assert(df.rdd.getNumPartitions === 2)
    assert(df.count() ===
      codec(s"$d/a.geojson").count() * 2)
  }

  test("geojson DSV2: pruning `geom` reaches the scan (decode skipped)") {
    val pruned = spark.read.format("geojson").load(s"$gjDir/fix.geojson").select("name")
    val planned = pruned.queryExecution.executedPlan.toString()
    assert(planned.contains("readSchema=struct<name:string>"), planned)
    assert(pruned.count() > 0)
  }

  private lazy val pbfDir = {
    val d = Files.createTempDirectory("graft-pbf-v2")
    FileFixtures.writePbf(s"$d/fix.osm.pbf")
    FileFixtures.writePbfRel(s"$d/rel.osm.pbf")
    d.toString
  }

  /** `parsePrimitiveBlockFull` over every OSMData blob of one file. */
  private def codecBlocks(path: String) =
    OsmPbfReader.indexBlobs(path).filter(_.blobType == "OSMData")
      .map(b => OsmPbfReader.parsePrimitiveBlockFull(OsmPbfReader.blobData(path, b)))

  test("osmpbf DSV2: nodes/ways/relations match the codec on the PBF fixtures") {
    for (path <- Seq(s"$pbfDir/fix.osm.pbf", s"$pbfDir/rel.osm.pbf")) {
      def scan(el: String) = spark.read.format("osmpbf").option("element", el).load(path)
      val blocks = codecBlocks(path)
      val (nodes, ways, rels) =
        (blocks.flatMap(_._1), blocks.flatMap(_._2), blocks.flatMap(_._3))
      assert(scan("nodes").count() === nodes.size)
      assert(scan("ways").count() === ways.size)
      assert(scan("relations").count() === rels.size)
      assert(nodes.nonEmpty && ways.nonEmpty)
      // value parity: every column of every element
      assert(scan("nodes").collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getSeq[String](3))).sortBy(_._1).toSeq ===
        nodes.map(n => (n.id, n.lon, n.lat, n.tags.toSeq)).sortBy(_._1))
      assert(scan("ways").collect().map(r => (r.getLong(0), r.getSeq[Long](1),
        r.getSeq[String](2))).sortBy(_._1).toSeq ===
        ways.map(w => (w.id, w.refs.toSeq, w.tags.toSeq)).sortBy(_._1))
      assert(scan("relations").collect().map(r => (r.getLong(0), r.getSeq[Long](1),
        r.getSeq[Int](2), r.getSeq[String](3), r.getSeq[String](4))).sortBy(_._1).toSeq ===
        rels.map(x => (x.id, x.memberIds.toSeq, x.memberTypes.toSeq, x.roles.toSeq,
          x.tags.toSeq)).sortBy(_._1))
      // way ids + first tag, as the element scan projects them
      val v2 = scan("ways").select(col("way_id"), try_element_at(col("tags"), lit(1)).as("t"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(v2 === ways.map(w => (w.id, w.tags.headOption.orNull)).sortBy(_._1))
    }
  }

  test("osmpbf DSV2: blob-range splits give multiple partitions; splitBlobs=1 is finest") {
    assume(Files.exists(Paths.get(monaco)))
    val nBlobs = OsmPbfReader.indexBlobs(monaco).count(_.blobType == "OSMData")
    val fine = spark.read.format("osmpbf").option("element", "nodes")
      .option("splitBlobs", "1").load(monaco)
    assert(fine.rdd.getNumPartitions === nBlobs)
    val coarse = spark.read.format("osmpbf").option("element", "nodes").load(monaco)
    assert(coarse.rdd.getNumPartitions === (nBlobs + 3) / 4)
    assert(fine.count() === coarse.count())
  }

  test("osmpbf DSV2: pruning to way_id skips refs/tags materialization") {
    val path = s"$pbfDir/fix.osm.pbf"
    val pruned = spark.read.format("osmpbf").option("element", "ways")
      .load(path).select("way_id")
    val planned = pruned.queryExecution.executedPlan.toString()
    assert(planned.contains("readSchema=struct<way_id:bigint>"), planned)
    assert(pruned.count() === codecBlocks(path).map(_._2.size).sum)
  }

  test("DSV2 sources: a directory without matching files fails validation") {
    val d = Files.createTempDirectory("graft-v2-empty").toString
    Files.writeString(Paths.get(s"$d/notes.txt"), "no inputs here")
    for (fmt <- Seq("geojson", "geojsonl", "shapefile", "osmpbf")) {
      val e = intercept[GraftError.FailedValidation] {
        spark.read.format(fmt).load(d).count()
      }
      assert(e.getMessage.contains("files under"), fmt)
    }
  }

  test("DSV2 sources: directory extensions match in any letter case") {
    val d = Files.createTempDirectory("graft-v2-case")
    FileFixtures.writeGeoJson(s"$d/A.GEOJSON")
    FileFixtures.writePbf(s"$d/B.OSM.PBF")
    assert(spark.read.format("geojson").load(d.toString).count() === 12)
    assert(spark.read.format("osmpbf").option("element", "ways")
      .load(d.toString).count() === FileFixtures.pbfWays.size)
  }

  test("osmpbf DSV2: bad element option fails validation") {
    val e = intercept[Exception] {
      spark.read.format("osmpbf").option("element", "bogus").load(monaco).count()
    }
    assert(e.getMessage.contains("nodes|ways|relations"))
  }

  /** One small file per source under a fresh directory. */
  private def allSources(tag: String): (String, Seq[(String, String)]) = {
    val d = Files.createTempDirectory(tag).toRealPath().toString
    val point = """"geometry":{"type":"Point","coordinates":[1,2]}"""
    FileFixtures.writeGeoJson(s"$d/fix.geojson")
    Files.writeString(Paths.get(s"$d/fix.geojsonl"), (1 to 3).map(i =>
      s"""{"type":"Feature","properties":{"a":$i},$point}\n""").mkString)
    FileFixtures.writeShapefile(d)
    FileFixtures.writePbf(s"$d/fix.osm.pbf")
    (d, Seq("geojson" -> "fix.geojson", "geojsonl" -> "fix.geojsonl",
      "shapefile" -> "fix.shp", "osmpbf" -> "fix.osm.pbf"))
  }

  test("DSV2 sources: bad scan options fail validation when the scan is built") {
    val (d, files) = allSources("graft-v2-opts")
    val cases = Seq(
      ("geojsonl", "splitBytes", "-1"),
      ("geojsonl", "splitBytes", "0"),
      ("geojsonl", "splitBytes", "32MB"),
      ("shapefile", "splitBytes", "0"),
      ("osmpbf", "splitBlobs", "0"),
      ("osmpbf", "splitBlobs", "4294967296"),
      ("geojson", "reproject", "900913"),
      ("shapefile", "srid", "2154"),
      ("geojson", "srid", "x"))
    for ((fmt, key, value) <- cases) {
      val e = intercept[GraftError.FailedValidation] {
        spark.read.format(fmt).option(key, value).load(s"$d/${files.toMap.apply(fmt)}").count()
      }
      assert(e.getMessage.contains(s"$key must be"), s"$fmt $key=$value")
    }
  }

  test("truncated .shp or .dbf fails the load with GraftError.Format naming the file") {
    // bytes kept: all but the last record's tail; for the .dbf also a cut
    // inside its 32-byte prefix and one inside its first field descriptor
    val cuts: Seq[(String, Array[Byte] => Int)] =
      Seq(("shp", _.length - 3), ("dbf", _.length - 3), ("dbf", _ => 20), ("dbf", _ => 32 + 16))
    for ((ext, keep) <- cuts) {
      val d = Files.createTempDirectory(s"graft-shp-cut-$ext").toString
      val shp = FileFixtures.writeShapefile(d)
      val part = Paths.get(s"$d/fix.$ext")
      val bytes = Files.readAllBytes(part)
      Files.write(part, bytes.take(keep(bytes)))
      val e = intercept[GraftError.Format](Main.run(spark, shp, s"$d/t"))
      assert(e.getMessage.contains(s"fix.$ext"), e.getMessage)
    }
  }

  test("DSV2 sources close their files after limit(1) and after a full scan") {
    val (d, files) = allSources("graft-v2-fds")
    def openUnderDir(): List[String] = Probes.openFdsUnder(d)
    for ((fmt, file) <- files) {
      val df = spark.read.format(fmt).load(s"$d/$file")
      assert(df.limit(1).collect().length === 1, fmt)
      assert(openUnderDir() === Nil, s"$fmt after limit(1)")
      assert(df.count() > 0, fmt)
      assert(openUnderDir() === Nil, s"$fmt after count()")
    }
  }
}
