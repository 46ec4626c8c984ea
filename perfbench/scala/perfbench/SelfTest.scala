package perfbench

import org.apache.spark.sql.Row

import graft.sources.SourceDispatch

/** The benchmark's own test of its input generators: every generated file
  * loads through `SourceDispatch.read` to the generator's row count and
  * vertex count, and every loaded row matches its generated feature (with
  * and without reprojection). Exits non-zero on the first mismatch.
  * Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Run.session(2, work)
    var failures = 0
    def keyOf(fmt: String, r: Row): Long = fmt match {
      case "osmpbf" => r.getAs[Seq[String]]("tags").find(_.startsWith("fid=")).get.drop(4).toLong
      case "shapefile" => r.getAs[Double]("FID").toLong
      case _ => r.getAs[Double]("fid").toLong
    }
    for (seed <- Seq(1L, 7L)) {
      val files = Seq(
        Gen.geojson(s"$work/t$seed.geojson", seed, 100L, 300),
        Gen.shapefile(s"$work/t$seed.shp", seed, 0L, 300),
        Gen.osmPbf(s"$work/t$seed.osm.pbf", seed, 20000, 3000))
      for (f <- files; reproject <- Seq(false, true) if !(reproject && f.format == "osmpbf")) {
        val rows = SourceDispatch.read(spark, f.path, 4326, if (reproject) Some(3857) else None).collect()
        val vertices = rows.map(r => IngestCheck.coordsOf(r.getAs[Array[Byte]]("geom"))._2.length.toLong).sum
        val byKey = f.feats.map(x => x.key -> x).toMap
        val rowErr = rows.iterator.map(r => IngestCheck.rowMatches(r, byKey(keyOf(f.format, r)), reproject))
          .collectFirst { case Some(e) => e }
        val err =
          if (rows.length != f.rows) Some(s"${rows.length} rows, generator says ${f.rows}")
          else if (vertices != f.vertices) Some(s"$vertices vertices, generator says ${f.vertices}")
          else rowErr
        val what = s"${f.format} seed=$seed reproject=$reproject rows=${f.rows} vertices=${f.vertices}"
        err match {
          case Some(e) => failures += 1; println(s"FAIL $what: $e")
          case None => println(s"PASS $what")
        }
      }
    }
    Run.stop(spark)
    if (failures > 0) sys.exit(1)
  }
}
