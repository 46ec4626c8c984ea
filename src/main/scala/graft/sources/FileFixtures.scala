package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import java.util.zip.Deflater

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.FixtureWriters

/** Oracle-checked file-source coverage (S1-S4, P1-P4, S5-S7): each query
  * synthesizes a deterministic fixture FILE from the closed-form
  * definitions below, reads it back through the REAL binary reader (the
  * DSV2 sources, via SourceDispatch / OsmPbfReader.read), and emits
  * BIGINT/VARCHAR columns. The DuckDB oracle is a VALUES literal generated
  * from the SAME closed-form definitions — never from the reader output —
  * so a decode bug on the Spark side cannot self-verify.
  *
  * Matches the reference's own file tests: `geojson.rs:187-201`,
  * `shapefile.rs:192-208`, `osmpbf.rs:155-166`.
  *
  * All expected numerics are exact in IEEE: coordinates are small integers,
  * values are quarters/halves, centroids of axis-aligned integer squares
  * are exact midpoints (correctly-rounded division of exactly-representable
  * operands with a representable true quotient).
  */
object FileFixtures {

  // ---------- SQL literal helpers ----------
  private def lit(s: String) = "'" + s.replace("'", "''") + "'"
  private def big(n: Long) = s"CAST($n AS BIGINT)"
  private def valuesSql(cols: Seq[String], rows: Seq[Seq[String]]): String =
    s"SELECT * FROM (VALUES ${rows.map(_.mkString("(", ", ", ")")).mkString(", ")}) " +
      s"AS t(${cols.mkString(", ")})"

  // ================= q40: GeoJSON =================
  /** 12 features alternating Point / axis-aligned integer square, with a
    * `geom` property key that the reader must SKIP (geojson.rs:34-36). */
  final case class GeoFeat(i: Int) {
    val name = s"f$i"
    val value: Double = (i * 3 + 1) / 4.0 // exact quarters
    val flag: Boolean = i % 3 == 0
    val isPoint: Boolean = i % 2 == 0
    val x: Int = -150 + i * 25
    val y: Int = -60 + i * 10
    val side: Int = 1 + i % 4
    def gtype: String = if (isPoint) "Point" else "Polygon"
    def npts: Long = if (isPoint) 1L else 5L
    def area2: Long = if (isPoint) 0L else 2L * side * side
    def x4: Long = if (isPoint) 4L * x else 4L * x + 2L * side
    def y4: Long = if (isPoint) 4L * y else 4L * y + 2L * side
    def valQ: Long = i * 3 + 1
    def flag01: Long = if (flag) 1L else 0L
    def geomJson: String =
      if (isPoint) s"""{"type":"Point","coordinates":[$x,$y]}"""
      else s"""{"type":"Polygon","coordinates":[[[$x,$y],[$x,${y + side}],""" +
        s"""[${x + side},${y + side}],[${x + side},$y],[$x,$y]]]}"""
  }
  val geoFeats: Seq[GeoFeat] = (0 until 12).map(GeoFeat)

  def writeGeoJson(path: String): Unit = {
    val feats = geoFeats.map { f =>
      s"""{"type":"Feature","properties":{"name":"${f.name}","val":${f.value},""" +
        s""""flag":${f.flag},"geom":${f.i}},"geometry":${f.geomJson}}"""
    }
    Files.writeString(Paths.get(path),
      s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}""")
  }

  // fixtures are deterministic, so each is synthesized ONCE per JVM into a
  // cached dir and removed on exit — Bench/Verify sample these queries
  // repeatedly and would otherwise accumulate abandoned temp dirs (with
  // java.io.tmpdir on tmpfs, that is RAM)
  private val fixtureDirs =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]
  private def fixtureDir(tag: String)(write: java.nio.file.Path => Unit): java.nio.file.Path =
    fixtureDirs.getOrElseUpdate(tag, {
      val d = Files.createTempDirectory(s"graft_$tag")
      write(d)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        try rm(d.toFile) catch { case _: Throwable => () }
      }))
      d
    })

  private def geoProjection(df: DataFrame): DataFrame =
    df.select(
      col("name"),
      round(col("val") * 4).cast("long").as("val_q"),
      when(col("flag"), 1L).otherwise(0L).as("flag01"),
      call_function("st_geometrytype", col("geom")).as("gtype"),
      call_function("st_npoints", col("geom")).as("npts"),
      round(call_function("st_area", col("geom")) * 2).cast("long").as("area2"),
      round(call_function("st_x", call_function("st_centroid", col("geom"))) * 4).cast("long").as("x4"),
      round(call_function("st_y", call_function("st_centroid", col("geom"))) * 4).cast("long").as("y4"))

  /** q40 and q78: the DSV2 scan (executor-side streaming parse, column
    * pruning) through [[SourceDispatch.read]]. */
  def geojsonScanQuery(spark: SparkSession): DataFrame = {
    val dir = fixtureDir("q40")(d => writeGeoJson(s"$d/fix.geojson"))
    graft.ops.GraftFunctions.register(spark)
    geoProjection(SourceDispatch.read(spark, s"$dir/fix.geojson"))
  }

  val geojsonOracle: String = valuesSql(
    Seq("name", "val_q", "flag01", "gtype", "npts", "area2", "x4", "y4"),
    geoFeats.map(f => Seq(lit(f.name), big(f.valQ), big(f.flag01), lit(f.gtype),
      big(f.npts), big(f.area2), big(f.x4), big(f.y4))))

  // ================= q75: GeoJSONL (ndjson) through byte-range splits =====
  /** 40k features (~7 MB), one per line, alternating Point / axis-aligned
    * integer square — the same shape family as q40 but big enough that the
    * DSV2 byte-range splitter cuts one file into many input partitions.
    * All values are closed-form in `i` so the DuckDB oracle derives from
    * `range(0, N)` instead of a VALUES literal. A `geom` PROPERTY key is
    * planted on every line (must be skipped, geojson.rs:34-36). */
  final case class JlFeat(i: Int) {
    val name = s"f$i"
    val value: Double = (i * 3 + 1) / 4.0 // exact quarters
    val flag: Boolean = i % 3 == 0
    val isPoint: Boolean = i % 2 == 0
    val x: Int = -170 + i % 340
    val y: Int = -80 + i % 160
    val side: Int = 1 + i % 4
    def geomJson: String =
      if (isPoint) s"""{"type":"Point","coordinates":[$x,$y]}"""
      else s"""{"type":"Polygon","coordinates":[[[$x,$y],[$x,${y + side}],""" +
        s"""[${x + side},${y + side}],[${x + side},$y],[$x,$y]]]}"""
    def line: String =
      s"""{"type":"Feature","properties":{"name":"$name","val":$value,""" +
        s""""flag":$flag,"geom":$i},"geometry":$geomJson}"""
  }
  val JlCount = 40000

  def writeGeoJsonl(path: String): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try (0 until JlCount).foreach { i => w.write(JlFeat(i).line); w.write("\n") }
    finally w.close()
  }

  private def jlProjection(spark: SparkSession, df: DataFrame): DataFrame = {
    graft.ops.GraftFunctions.register(spark)
    df.select(
      col("name"),
      round(col("val") * 4).cast("long").as("val_q"),
      when(col("flag"), 1L).otherwise(0L).as("flag01"),
      call_function("st_geometrytype", col("geom")).as("gtype"),
      call_function("st_npoints", col("geom")).as("npts"),
      round(call_function("st_area", col("geom")) * 2).cast("long").as("area2"),
      round(call_function("st_x", call_function("st_centroid", col("geom"))) * 4).cast("long").as("x4"),
      round(call_function("st_y", call_function("st_centroid", col("geom"))) * 4).cast("long").as("y4"))
  }

  def geojsonlScanQuery(spark: SparkSession): DataFrame = {
    val dir = fixtureDir("q75")(d => writeGeoJsonl(s"$d/fix.geojsonl"))
    // splitBytes 1 MB: the ~7 MB fixture fans out to ~8 byte-range input
    // partitions — the scan itself must reassemble the identical table
    // (straddling lines read by exactly one split)
    jlProjection(spark, spark.read.format("geojsonl")
      .option("splitBytes", (1L << 20).toString).load(s"$dir/fix.geojsonl"))
  }

  /** q92: the q75 fixture round-tripped THROUGH [[GeoJsonlSink]] — read
    * the fixture with the splitting DSV2, export it (executor-parallel
    * part files, WKB re-encoded to GeoJSON), re-read the export, and the
    * SAME closed-form oracle must still hash-match: any drift in the
    * encoder (coordinate digits, ring order, property typing) shows up as
    * a value or row mismatch. */
  def geojsonlRoundtripQuery(spark: SparkSession): DataFrame = {
    val dir = fixtureDir("q92") { d =>
      writeGeoJsonl(s"$d/fix.geojsonl")
      val src = spark.read.format("geojsonl")
        .option("splitBytes", (1L << 20).toString).load(s"$d/fix.geojsonl")
      GeoJsonlSink.write(src, s"$d/out")
    }
    jlProjection(spark, spark.read.format("geojsonl")
      .option("splitBytes", (1L << 20).toString).load(s"$dir/out"))
  }

  /** Oracle re-derives every column from the SAME closed forms over
    * range(0, N) — never from the reader. */
  val geojsonlOracle: String =
    s"""SELECT 'f' || CAST(i AS VARCHAR) AS name,
       | CAST(i*3+1 AS BIGINT) AS val_q,
       | CAST(CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS flag01,
       | CASE WHEN i % 2 = 0 THEN 'Point' ELSE 'Polygon' END AS gtype,
       | CAST(CASE WHEN i % 2 = 0 THEN 1 ELSE 5 END AS BIGINT) AS npts,
       | CAST(CASE WHEN i % 2 = 0 THEN 0 ELSE 2*(1 + i%4)*(1 + i%4) END AS BIGINT) AS area2,
       | CAST(CASE WHEN i % 2 = 0 THEN 4*(-170 + i%340)
       |      ELSE 4*(-170 + i%340) + 2*(1 + i%4) END AS BIGINT) AS x4,
       | CAST(CASE WHEN i % 2 = 0 THEN 4*(-80 + i%160)
       |      ELSE 4*(-80 + i%160) + 2*(1 + i%4) END AS BIGINT) AS y4
       | FROM range(0, $JlCount) t(i)""".stripMargin.replace("\n", " ")

  // ================= q41: Shapefile =================
  /** 10 square polygons; DBF covers all four supported field types,
    * including binary 'I' -> LongType (shapefile.rs:66-80) with a negative
    * value, and 'N'/'C'/'L'. */
  final case class ShpFeat(i: Int) {
    val x: Int = i * 3 - 15
    val y: Int = i * 2 - 10
    val side: Int = 1 + i % 3
    val cnt: Int = if (i == 3) -42 else 1000 + i * 7
    val nm = s"r$i"
    val ok: Boolean = i % 2 == 0
    val v: Double = i * 0.5 // exact halves
    def ring: Seq[(Double, Double)] = // clockwise (ESRI outer)
      Seq((x, y), (x, y + side), (x + side, y + side), (x + side, y), (x, y))
        .map { case (a, b) => (a.toDouble, b.toDouble) }
    def npts: Long = 5L
    def area2: Long = 2L * side * side
    def x4: Long = 4L * x + 2L * side
    def y4: Long = 4L * y + 2L * side
    def vq2: Long = i
    def ok01: Long = if (ok) 1L else 0L
  }
  val shpFeats: Seq[ShpFeat] = (0 until 10).map(ShpFeat)

  def writeShapefile(dir: String): String = {
    val shp = s"$dir/fix.shp"
    FixtureWriters.writePolygonShp(shp, shpFeats.map(_.ring))
    FixtureWriters.writeDbf(s"$dir/fix.dbf",
      Seq(("cnt", 'I', 4), ("nm", 'C', 8), ("ok", 'L', 1), ("v", 'N', 9)),
      shpFeats.map(f => Seq(f.cnt.toString, f.nm, if (f.ok) "T" else "F", f.v.toString)))
    shp
  }

  private def shpProjection(df: DataFrame): DataFrame =
    df.select(
      col("cnt"), // LongType straight from the binary 'I' field
      col("nm"),
      when(col("ok"), 1L).otherwise(0L).as("ok01"),
      round(col("v") * 2).cast("long").as("vq2"),
      call_function("st_npoints", col("geom")).as("npts"),
      round(call_function("st_area", col("geom")) * 2).cast("long").as("area2"),
      round(call_function("st_x", call_function("st_centroid", col("geom"))) * 4).cast("long").as("x4"),
      round(call_function("st_y", call_function("st_centroid", col("geom"))) * 4).cast("long").as("y4"))

  def shapefileScanQuery(spark: SparkSession): DataFrame = {
    val dir = fixtureDir("q41")(d => { writeShapefile(d.toString); () })
    val shp = s"$dir/fix.shp"
    graft.ops.GraftFunctions.register(spark)
    shpProjection(SourceDispatch.read(spark, shp))
  }

  /** Same fixture and oracle through the SPLIT DataSource V2 path (q43):
    * splitBytes tiny so the 10-record file fans out to multiple input
    * partitions — the scan itself must reassemble the identical table. */
  def shapefileScanQueryV2(spark: SparkSession): DataFrame = {
    val dir = fixtureDir("q43")(d => { writeShapefile(d.toString); () })
    val shp = s"$dir/fix.shp"
    graft.ops.GraftFunctions.register(spark)
    shpProjection(spark.read.format("shapefile").option("splitBytes", "256").load(shp))
  }

  val shapefileOracle: String = valuesSql(
    Seq("cnt", "nm", "ok01", "vq2", "npts", "area2", "x4", "y4"),
    shpFeats.map(f => Seq(big(f.cnt), lit(f.nm), big(f.ok01), big(f.vq2),
      big(f.npts), big(f.area2), big(f.x4), big(f.y4))))

  // ================= q42: OSM PBF =================
  // From-scratch encoder for the PUBLIC osmpbf format (mirror of
  // OsmPbfReader's wire parsing): fileblock framing, zlib blob, string
  // table, dense-node delta coding, plain Node messages, way ref deltas.
  final case class PbfNode(id: Long, rawLon: Long, rawLat: Long, tags: Seq[(String, String)])
  final case class PbfWay(id: Long, refs: Seq[Long], tags: Seq[(String, String)])

  val pbfNodes: Seq[PbfNode] = (1 to 8).map(i =>
    PbfNode(i, 70000000L + i * 1234567L, -30000000L + i * 2345678L, Seq("name" -> s"n$i")))
  val pbfWays: Seq[PbfWay] = Seq(
    PbfWay(10, Seq(1, 2, 3, 1), Seq("highway" -> "residential")), // closed, all resolve
    PbfWay(11, Seq(4, 5, 6), Seq("waterway" -> "river", "name" -> "r1")), // open
    PbfWay(12, Seq(6, 7, 99), Seq("highway" -> "path")), // ref 99 dangles -> dropped
    PbfWay(13, Seq(8, 1, 2, 8), Seq("building" -> "yes"))) // closed

  /** (way_id, kind, resolved npts, first tag) from the definition alone. */
  val pbfExpected: Seq[(Long, String, Long, String)] = pbfWays.map { w =>
    val nodeIds = pbfNodes.map(_.id).toSet
    (w.id,
      if (w.refs.head == w.refs.last) "Polygon" else "LineString",
      w.refs.count(nodeIds).toLong,
      w.tags.head._1 + "=" + w.tags.head._2)
  }

  /** Minimal protobuf wire writer. */
  private final class PbOut {
    private val bos = new ByteArrayOutputStream()
    def varint(vIn: Long): PbOut = {
      var v = vIn
      while ((v & ~0x7fL) != 0) { bos.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      bos.write(v.toInt); this
    }
    def key(field: Int, wt: Int): PbOut = varint((field.toLong << 3) | wt)
    def int(field: Int, v: Long): PbOut = { key(field, 0); varint(v) }
    def bytes(field: Int, b: Array[Byte]): PbOut = { key(field, 2); varint(b.length); bos.write(b); this }
    def str(field: Int, s: String): PbOut = bytes(field, s.getBytes("UTF-8"))
    def packed(field: Int, vs: Seq[Long]): PbOut = {
      val p = new PbOut; vs.foreach(p.varint); bytes(field, p.toBytes)
    }
    def packedZig(field: Int, vs: Seq[Long]): PbOut = packed(field, vs.map(zig))
    def toBytes: Array[Byte] = bos.toByteArray
  }
  private def zig(n: Long): Long = (n << 1) ^ (n >> 63)
  private def deltas(vs: Seq[Long]): Seq[Long] =
    vs.headOption.toSeq ++ vs.sliding(2).collect { case Seq(a, b) => b - a }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** One fileblock: [int32 BE header len][BlobHeader][Blob]. */
  private def fileBlock(blobType: String, blobBody: Array[Byte]): Array[Byte] = {
    val header = new PbOut().str(1, blobType).int(3, blobBody.length).toBytes
    val out = ByteBuffer.allocate(4 + header.length + blobBody.length)
    out.putInt(header.length).put(header).put(blobBody)
    out.array()
  }

  def writePbf(path: String): Unit = {
    // string table: index 0 must be the empty string
    val strings = ("" +: (pbfNodes.flatMap(_.tags) ++ pbfWays.flatMap(_.tags))
      .flatMap(t => Seq(t._1, t._2)).distinct).toIndexedSeq
    val sIdx = strings.zipWithIndex.toMap
    val st = new PbOut()
    strings.foreach(s => st.bytes(1, s.getBytes("UTF-8")))

    // group 1: DenseNodes for nodes 1-4 (delta-coded, keys_vals runs)
    val dn = pbfNodes.take(4)
    val dense = new PbOut()
      .packedZig(1, deltas(dn.map(_.id)))
      .packedZig(8, deltas(dn.map(_.rawLat)))
      .packedZig(9, deltas(dn.map(_.rawLon)))
      .packed(10, dn.flatMap(n =>
        n.tags.flatMap(t => Seq(sIdx(t._1).toLong, sIdx(t._2).toLong)) :+ 0L))
    val group1 = new PbOut().bytes(2, dense.toBytes)

    // group 2: plain Node messages for nodes 5-8
    val group2 = new PbOut()
    pbfNodes.drop(4).foreach { n =>
      val node = new PbOut()
        .int(1, zig(n.id)) // Node.id is sint64
        .packed(2, n.tags.map(t => sIdx(t._1).toLong))
        .packed(3, n.tags.map(t => sIdx(t._2).toLong))
        .int(8, zig(n.rawLat))
        .int(9, zig(n.rawLon))
      group2.bytes(1, node.toBytes)
    }

    // group 3: ways (refs delta-coded sint64)
    val group3 = new PbOut()
    pbfWays.foreach { w =>
      val way = new PbOut()
        .int(1, w.id) // Way.id is int64 (no zigzag)
        .packed(2, w.tags.map(t => sIdx(t._1).toLong))
        .packed(3, w.tags.map(t => sIdx(t._2).toLong))
        .packedZig(8, deltas(w.refs))
      group3.bytes(3, way.toBytes)
    }

    val block = new PbOut()
      .bytes(1, st.toBytes)
      .bytes(2, group1.toBytes)
      .bytes(2, group2.toBytes)
      .bytes(2, group3.toBytes)
      .int(17, 100) // granularity (default, explicit for clarity)
      .toBytes

    val dataBlob = new PbOut().int(2, block.length).bytes(3, deflate(block)).toBytes
    val headerBlob = new PbOut().bytes(1, Array.emptyByteArray).toBytes // raw, empty
    val out = new ByteArrayOutputStream()
    out.write(fileBlock("OSMHeader", headerBlob))
    out.write(fileBlock("OSMData", dataBlob))
    Files.write(Paths.get(path), out.toByteArray)
  }

  /** q42 and q79: the DSV2 blob-range scans (nodes + ways as
    * `format("osmpbf")` tables) and the way assembly, i.e.
    * [[OsmPbfReader.read]]. */
  def pbfScanQuery(spark: SparkSession): DataFrame = {
    val dir = fixtureDir("q42")(d => writePbf(s"$d/fix.osm.pbf"))
    OsmPbfReader.read(spark, s"$dir/fix.osm.pbf")
      .select(col("way_id"), col("kind"), col("npts").cast("long").as("npts"),
        element_at(col("tags"), 1).as("tag0"))
  }

  val pbfOracle: String = valuesSql(
    Seq("way_id", "kind", "npts", "tag0"),
    pbfExpected.map { case (id, kind, npts, tag0) =>
      Seq(big(id), lit(kind), big(npts), lit(tag0)) })

  // ====== q60: OSM multipolygon relations (superset of osmpbf.rs:102-109,
  // the reference's commented-out Relation branch) ======
  /** members: (member_id, type 0=node/1=way, role). */
  final case class PbfRel(id: Long, members: Seq[(Long, Int, String)],
                          tags: Seq[(String, String)])

  private def rawDeg(d: Double): Long = math.round(d * 1e7)
  /** EXACT mirror of OsmPbfReader's coord decode (granularity 100, no
    * offset): Long inner arithmetic, then the single double multiply. */
  private def decDeg(raw: Long): Double = 1e-9 * (100L * raw)

  val relNodeCoords: Seq[(Long, Double, Double)] = Seq(
    // outer square (rel 20)
    (101L, 0.0, 0.0), (102L, 1.0, 0.0), (103L, 1.0, 1.0), (104L, 0.0, 1.0),
    // inner hole square (rel 20)
    (111L, 0.25, 0.25), (112L, 0.75, 0.25), (113L, 0.75, 0.75), (114L, 0.25, 0.75),
    // hexagon split across two open ways (rel 21, stitch test)
    (121L, 3.0, 0.0), (122L, 3.5, -0.5), (123L, 4.0, 0.0), (124L, 4.0, 1.0),
    (125L, 3.5, 1.5), (126L, 3.0, 1.0),
    // disjoint second outer square (rel 21)
    (131L, 10.0, 10.0), (132L, 11.0, 10.0), (133L, 11.0, 11.0), (134L, 10.0, 11.0))

  val relWays: Seq[PbfWay] = Seq(
    PbfWay(30, Seq(101, 102, 103, 104, 101), Seq("area" -> "yes")), // closed outer
    PbfWay(31, Seq(111, 112, 113, 114, 111), Nil), // closed inner
    PbfWay(32, Seq(121, 122, 123, 124), Nil), // open half-hexagon
    PbfWay(33, Seq(124, 125, 126, 121), Nil), // open half-hexagon (closes 32)
    PbfWay(34, Seq(131, 132, 133, 134, 131), Nil), // closed outer
    PbfWay(35, Seq(101, 102), Nil)) // dangling open way (never closes)

  val relRels: Seq[PbfRel] = Seq(
    // 1 outer + 1 hole
    PbfRel(20, Seq((30L, 1, "outer"), (31L, 1, "inner")),
      Seq("type" -> "multipolygon", "natural" -> "water")),
    // 2 outers: one stitched from two open ways, one direct; node member
    // (admin_centre) must be ignored
    PbfRel(21, Seq((32L, 1, "outer"), (33L, 1, "outer"), (34L, 1, "outer"),
      (101L, 0, "admin_centre")), Seq("type" -> "multipolygon")),
    // not a multipolygon -> excluded entirely
    PbfRel(22, Seq((30L, 1, "outer")), Seq("type" -> "route")),
    // only an unclosable way -> no outer ring -> no output row
    PbfRel(23, Seq((35L, 1, "outer")), Seq("type" -> "multipolygon")))

  def writePbfRel(path: String): Unit = {
    val roleStrings = relRels.flatMap(_.members.map(_._3))
    val strings = ("" +: (relWays.flatMap(_.tags) ++ relRels.flatMap(_.tags))
      .flatMap(t => Seq(t._1, t._2)).++(roleStrings).distinct).toIndexedSeq
    val sIdx = strings.zipWithIndex.toMap
    val st = new PbOut()
    strings.foreach(s => st.bytes(1, s.getBytes("UTF-8")))

    val groupN = new PbOut()
    relNodeCoords.foreach { case (id, lon, lat) =>
      val node = new PbOut()
        .int(1, zig(id))
        .int(8, zig(rawDeg(lat)))
        .int(9, zig(rawDeg(lon)))
      groupN.bytes(1, node.toBytes)
    }
    val groupW = new PbOut()
    relWays.foreach { w =>
      val way = new PbOut()
        .int(1, w.id)
        .packed(2, w.tags.map(t => sIdx(t._1).toLong))
        .packed(3, w.tags.map(t => sIdx(t._2).toLong))
        .packedZig(8, deltas(w.refs))
      groupW.bytes(3, way.toBytes)
    }
    val groupR = new PbOut()
    relRels.foreach { r =>
      val rel = new PbOut()
        .int(1, r.id) // Relation.id is int64 (no zigzag), like Way.id
        .packed(2, r.tags.map(t => sIdx(t._1).toLong))
        .packed(3, r.tags.map(t => sIdx(t._2).toLong))
        .packed(8, r.members.map(m => sIdx(m._3).toLong)) // roles_sid
        .packedZig(9, deltas(r.members.map(_._1))) // memids, delta sint64
        .packed(10, r.members.map(_._2.toLong)) // types
      groupR.bytes(4, rel.toBytes)
    }

    val block = new PbOut()
      .bytes(1, st.toBytes)
      .bytes(2, groupN.toBytes)
      .bytes(2, groupW.toBytes)
      .bytes(2, groupR.toBytes)
      .int(17, 100)
      .toBytes
    val dataBlob = new PbOut().int(2, block.length).bytes(3, deflate(block)).toBytes
    val headerBlob = new PbOut().bytes(1, Array.emptyByteArray).toBytes
    val out = new ByteArrayOutputStream()
    out.write(fileBlock("OSMHeader", headerBlob))
    out.write(fileBlock("OSMData", dataBlob))
    Files.write(Paths.get(path), out.toByteArray)
  }

  /** Expected (rel_id, n_outer, n_inner, npts, wkb_md5) — WKB computed from
    * the closed-form ring definitions (decode-parity coords), NEVER from
    * the assembly op, so a stitching bug cannot self-verify. */
  val pbfRelExpected: Seq[(Long, Long, Long, Long, String)] = {
    val coord = relNodeCoords.map { case (id, lon, lat) =>
      id -> (decDeg(rawDeg(lon)), decDeg(rawDeg(lat))) }.toMap
    def ringOf(ids: Seq[Long]) = ids.map(coord)
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"$x%02x").mkString
    val rel20 = graft.geom.WkbCodec.write(graft.geom.WkbCodec.multiPolygon(Seq(
      graft.geom.WkbCodec.polygon(ringOf(Seq(101, 102, 103, 104, 101)),
        Seq(ringOf(Seq(111, 112, 113, 114, 111)))))))
    val rel21 = graft.geom.WkbCodec.write(graft.geom.WkbCodec.multiPolygon(Seq(
      graft.geom.WkbCodec.polygon(ringOf(Seq(121, 122, 123, 124, 125, 126, 121))),
      graft.geom.WkbCodec.polygon(ringOf(Seq(131, 132, 133, 134, 131))))))
    Seq(
      (20L, 1L, 1L, 10L, md5hex(rel20)),
      (21L, 2L, 0L, 12L, md5hex(rel21)))
  }

  def pbfRelQuery(spark: SparkSession): DataFrame = {
    val dir = fixtureDir("q60")(d => writePbfRel(s"$d/rel.osm.pbf"))
    def scan(element: String) = spark.read.format("osmpbf")
      .option("element", element).load(s"$dir/rel.osm.pbf")
    graft.ops.OsmRelationAssembly.assemble(spark,
        scan("relations"), scan("ways"), scan("nodes"))
      .select(col("rel_id"), col("n_outer"), col("n_inner"), col("npts"),
        md5(col("geom")).as("wkb_md5"))
  }

  val pbfRelOracle: String = valuesSql(
    Seq("rel_id", "n_outer", "n_inner", "npts", "wkb_md5"),
    pbfRelExpected.map { case (id, no, ni, np, h) =>
      Seq(big(id), big(no), big(ni), big(np), lit(h)) })
}
