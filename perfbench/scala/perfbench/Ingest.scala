package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Geometry, LineString, Polygon}
import org.locationtech.jts.io.WKBReader

import graft.sources.SourceDispatch
import graft.table.TableLog

/** Output checks for loaded tables, with the benchmark's own formulas. */
object IngestCheck {
  private val R = 6378137.0
  private val MaxLat = 85.05112877980659

  /** Spherical Web Mercator, EPSG:4326 -> EPSG:3857. */
  def mercator(lon: Double, lat: Double): (Double, Double) = {
    val clat = math.max(-MaxLat, math.min(MaxLat, lat))
    (R * lon * math.Pi / 180.0, R * math.log(math.tan(math.Pi / 4.0 + clat * math.Pi / 360.0)))
  }

  def coordsOf(wkb: Array[Byte]): (Boolean, Array[(Double, Double)]) = {
    val g: Geometry = new WKBReader().read(wkb)
    g match {
      case p: Polygon => (true, p.getExteriorRing.getCoordinates.map(c => (c.x, c.y)))
      case l: LineString => (false, l.getCoordinates.map(c => (c.x, c.y)))
      case o => (false, o.getCoordinates.map(c => (c.x, c.y)))
    }
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** Check one loaded row against the generator's feature. */
  def rowMatches(row: Row, f: Gen.Feat, reproject: Boolean): Option[String] = {
    val attrErr = f.attrs.collectFirst {
      case (k, v: Seq[_]) if row.getAs[Seq[String]](k) != v => s"$k=${row.getAs[Seq[String]](k)} expected $v"
      case (k, v) if !v.isInstanceOf[Seq[_]] && row.getAs[Any](k) != v => s"$k=${row.getAs[Any](k)} expected $v"
    }
    attrErr.orElse {
      val (poly, got) = coordsOf(row.getAs[Array[Byte]]("geom"))
      val want = if (reproject) f.coords.map { case (x, y) => mercator(x, y) } else f.coords
      if (poly != f.polygon) Some(s"geometry kind polygon=$poly expected ${f.polygon}")
      else if (got.length != want.length) Some(s"${got.length} vertices expected ${want.length}")
      else got.zip(want).collectFirst {
        case ((x, y), (wx, wy)) if !close(x, wx) || !close(y, wy) => s"vertex ($x,$y) expected ($wx,$wy)"
      }
    }
  }

  /** Read `table` back: srid in the manifest, row count, and a seeded
    * sample of rows against the generator. Returns the first problem. */
  def table(spark: SparkSession, table: String, files: Seq[Gen.GenFile], srid: Int,
            reproject: Boolean, seed: Long, sample: Int = 6): Option[String] = {
    val snap = TableLog.current(table)
    val rows = files.map(_.rows).sum
    if (snap.isEmpty) return Some(s"no snapshot committed for $table")
    if (snap.get.srid != srid) return Some(s"manifest srid ${snap.get.srid} expected $srid")
    val df = TableLog.read(spark, table)
    val n = df.count()
    if (n != rows) return Some(s"$n rows read back, expected $rows")
    val r = new java.util.SplittableRandom(seed)
    val all = files.flatMap(_.feats)
    val picks = Seq.fill(sample)(all(r.nextInt(all.size)))
    val pbf = files.head.format == "osmpbf"
    val filter =
      if (pbf) picks.map(f => array_contains(col("tags"), s"fid=${f.key}")).reduce(_ || _)
      else col(if (files.head.format == "shapefile") "FID" else "fid").isin(picks.map(_.key.toDouble): _*)
    val got = df.filter(filter).collect()
    picks.distinct.iterator.map { f =>
      val matching = got.filter { row =>
        if (pbf) row.getAs[Seq[String]]("tags").contains(s"fid=${f.key}")
        else row.getAs[Double](if (files.head.format == "shapefile") "FID" else "fid") == f.key.toDouble
      }
      if (matching.length != 1) Some(s"feature ${f.key}: ${matching.length} rows")
      else rowMatches(matching.head, f, reproject).map(e => s"feature ${f.key}: $e")
    }.collectFirst { case Some(e) => e }
  }

  /** (bytes, files) of the parquet data files the current snapshot holds. */
  def storedBytes(table: String): (Long, Int) =
    TableLog.current(table).toSeq.flatMap(_.buckets.values).map { b =>
      Run.dirBytes(new File(b.path), _.getName.endsWith(".parquet"))
    }.foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

/** Ingest workload: the product CLI path (`graft.Main.run`, one file at a
  * time, GeoJSON and Shapefile reprojected 4326 -> 3857, PBF kept in 4326)
  * and the executor-parallel directory path (`SourceDispatch.readDir` +
  * `TableLog.write`). One operation is one load into a fresh table. */
final class Ingest(ctx: Ctx) extends Workload {
  private val in = new File(ctx.work, "in")
  private val tables = new File(ctx.work, "tables")
  var geo: Gen.GenFile = _
  var shp: Gen.GenFile = _
  var pbf: Gen.GenFile = _
  var dir: Seq[Gen.GenFile] = Nil
  private var seq = 0

  def prepare(): Unit = {
    new File(in, "dir").mkdirs(); tables.mkdirs()
    geo = Gen.geojson(s"$in/one.geojson", ctx.seed, 0L, Sizes.geojsonFeatures)
    shp = Gen.shapefile(s"$in/one.shp", ctx.seed, 0L, Sizes.shapefileFeatures)
    pbf = Gen.osmPbf(s"$in/one.osm.pbf", ctx.seed, Sizes.pbfNodes, Sizes.pbfWays)
    dir = (0 until Sizes.dirFiles).map(k =>
      Gen.geojson(f"$in/dir/part-$k%02d.geojson", ctx.seed, 1000000L * (k + 1), Sizes.dirFeaturesPerFile))
  }

  val ops: Seq[String] = Seq("geojson_file", "shapefile_file", "osmpbf_file", "geojson_dir")

  def setupRound(spark: SparkSession): Unit = ops.foreach(op => ctx.record(this, spark, op))

  def run(spark: SparkSession, op: String): OpResult = {
    seq += 1
    val table = s"$tables/t$seq"
    op match {
      case "geojson_file" => load(spark, geo, table)
      case "shapefile_file" => load(spark, shp, table)
      case "osmpbf_file" => load(spark, pbf, table)
      case "geojson_dir" =>
        Trace.span("dir load", "cli") {
          val df = Trace.span("SourceDispatch.readDir", "sources") {
            SourceDispatch.readDir(spark, s"$in/dir", 4326, Some(3857))
          }
          Trace.span("TableLog.write", "table") { TableLog.write(df, table, "fail", srid = 3857) }
        }
        OpResult(op, dir.map(_.rows).sum, dir.map(_.bytes).sum, table)
    }
  }

  private def load(spark: SparkSession, f: Gen.GenFile, table: String): OpResult = {
    val reproject = if (f.format == "osmpbf") None else Some(3857)
    Trace.span(s"Main.run ${f.format}", "cli") {
      graft.Main.run(spark, f.path, table, 4326, reproject, "fail")
    }
    OpResult(s"${f.format}_file", f.rows, f.bytes, table)
  }

  def check(spark: SparkSession, op: String, r: OpResult): Option[String] = {
    val table = r.artifact
    val (files, srid) = op match {
      case "geojson_file" => (Seq(geo), 3857)
      case "shapefile_file" => (Seq(shp), 3857)
      case "osmpbf_file" => (Seq(pbf), 4326)
      case "geojson_dir" => (dir, 3857)
    }
    val err = Trace.span(s"check $op", "check") {
      IngestCheck.table(spark, table, files, srid, reproject = srid == 3857, ctx.seed + seq)
    }
    val (stored, _) = IngestCheck.storedBytes(table)
    storedBytes += stored; inputBytes += r.bytes
    Run.deleteTree(new File(table))
    err
  }

  var storedBytes = 0L
  var inputBytes = 0L

  override def headline(samples: Seq[Sample]): Map[String, Double] = {
    def mbPerS(ss: Seq[Sample]) = ss.map(_.bytes).sum / 1e6 / ss.map(_.seconds).sum
    val (dirLoads, fileLoads) = samples.partition(_.op == "geojson_dir")
    Map("ingest_file_mb_per_s" -> mbPerS(fileLoads), "ingest_dir_mb_per_s" -> mbPerS(dirLoads),
      "ingest_stored_bytes_per_input_byte" -> storedBytes.toDouble / inputBytes)
  }
}
