package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftError
import graft.sources.v2.ScanOptions

/** File-type dispatch (reference S8,
  * `src/format/common.rs:65-80`): extension -> DSV2 source
  * (`format("shapefile"|"geojson"|"osmpbf")`, parsed on executors);
  * unknown -> [[GraftError.UnsupportedFileExtension]]. OsmPBF inputs force
  * srid 4326 like the reference (`src/utils/cli.rs:64`). */
object SourceDispatch {

  sealed abstract class FileType(val format: String)
  case object Shapefile extends FileType("shapefile")
  case object GeoJson extends FileType("geojson")
  case object OsmPbf extends FileType("osmpbf")

  def determineFileType(path: String): FileType =
    path.toLowerCase match {
      case p if p.endsWith(".shp")     => Shapefile
      case p if p.endsWith(".geojson") => GeoJson
      case p if p.endsWith(".pbf")     => OsmPbf
      case _ => throw GraftError.UnsupportedFileExtension(path)
    }

  /** Arg validation per the reference (F4, `src/utils/validate.rs:6-34`):
    * input must exist, srid restricted to {4326, 3857}. */
  def validateArgs(input: String, srid: Int, reproject: Option[Int]): Unit = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(input)))
      throw GraftError.FailedValidation(s"input does not exist: $input")
    ScanOptions.checkSrid("srid", srid)
    reproject.foreach(ScanOptions.checkSrid("reproject", _))
  }

  def read(spark: SparkSession, path: String,
           srid: Int = 4326, reproject: Option[Int] = None): DataFrame = {
    validateArgs(path, srid, reproject)
    determineFileType(path) match {
      // reference parity (`src/utils/cli.rs:64-66`): pbf is always 4326 and
      // `read_osmpbf` never reprojects (reproject only touches shp/geojson,
      // `shapefile.rs:159`/`geojson.rs:147`); fixed schema tags[] + geom
      case OsmPbf => pbfFeatures(spark, path)
      case t      => load(spark, t, path, srid, reproject)
    }
  }

  /** Many files of ONE format under a directory -> one DataFrame, parsed
    * on executors (the 100 TB ingest shape: files are the parallel unit;
    * shapefiles also split on record ranges, PBF on blob ranges). PBF is a
    * union of per-file reads, so way->node resolution never crosses files.
    * Mixed formats in one dir are rejected — per-format schema rules
    * differ. */
  def readDir(spark: SparkSession, dir: String,
              srid: Int = 4326, reproject: Option[Int] = None): DataFrame = {
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
      throw GraftError.FailedValidation(s"not a directory: $dir")
    validateArgs(dir, srid, reproject)
    import scala.jdk.CollectionConverters._
    val kinds = scala.util.Using.resource(java.nio.file.Files.list(java.nio.file.Paths.get(dir)))(
      _.iterator().asScala.map(_.toString)
        .flatMap(p => scala.util.Try(determineFileType(p)).toOption.map(t => (t, p)))
        .toSeq).groupBy(_._1)
    kinds.keySet.toList match {
      case Nil => throw GraftError.FailedValidation(s"no supported files under $dir")
      case List(OsmPbf) =>
        kinds(OsmPbf).map(_._2).sorted.map(pbfFeatures(spark, _)).reduce(_ union _)
      case List(t) => load(spark, t, dir, srid, reproject)
      case many => throw GraftError.FailedValidation(
        s"mixed formats under $dir: ${many.mkString(", ")}")
    }
  }

  private def pbfFeatures(spark: SparkSession, path: String): DataFrame =
    OsmPbfReader.read(spark, path).select("tags", "geom")

  private def load(spark: SparkSession, t: FileType, path: String,
                   srid: Int, reproject: Option[Int]): DataFrame = {
    val reader = spark.read.format(t.format).option("srid", srid.toString)
    reproject.fold(reader)(to => reader.option("reproject", to.toString)).load(path)
  }
}
