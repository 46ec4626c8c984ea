package graft

import org.apache.spark.sql.SparkSession
import graft.sources.SourceDispatch
import graft.table.TableLog

/** Pipeline driver CLI (reference O1, `/root/reference/src/utils/cli.rs:44-123`):
  * read a GeoJSON/Shapefile/OsmPBF input, decode + optionally reproject,
  * and bulk-write a table with a save mode. Mirrors the reference's args:
  *
  * {{{
  * spark-submit --class graft.Main popgisspark.jar \
  *   --input examples/spain.geojson --table /data/spain \
  *   [--srid 4326] [--reproject 3857] [--mode fail|overwrite|append]
  * }}}
  *
  * Defaults match the reference: srid 4326 (cli.rs:49-51), mode "fail"
  * (cli.rs:36 — the CLI default wins over the README claim), OsmPBF forces
  * srid 4326 (cli.rs:64). The sink is a [[TableLog]] snapshot table
  * (parquet + manifest) instead of a PostGIS COPY; geometry is the last
  * column, named `geom`, WKB, with the effective srid recorded as a table
  * property in the manifest (crud.rs:64 semantics).
  */
object Main {

  /** The whole pipeline minus session lifecycle (testable e2e).
    * Decoding runs inside Spark tasks, so a decode error reaches the driver
    * wrapped in a job failure; the first [[GraftError]] in the cause chain
    * is rethrown, keeping the reference's typed errors at the CLI.
    * @param schema optional namespace dir (reference `--schema`,
    *               `cli.rs:94-96` create_schema before create_table). */
  def run(spark: SparkSession, input: String, table: String,
          srid: Int = 4326, reproject: Option[Int] = None,
          mode: String = "fail", schema: Option[String] = None): graft.table.TableLog.Snapshot =
    try {
      val isPbf = input.toLowerCase.endsWith(".pbf")
      val effSrid = if (isPbf) 4326 else srid // reference forces 4326 for pbf
      val qualified = schema.fold(table)(ns => s"$ns/$table")
      // fail fast: a bad mode or an existing table in "fail" mode throws
      // before the read, which for a .pbf already runs a Spark job
      TableLog.checkWritable(qualified, mode)
      // all three formats flow through the dispatch (validateArgs included)
      val df = SourceDispatch.read(spark, input, effSrid, reproject)
      schema.foreach(TableLog.createNamespace)
      // srid property records what the GEOMETRY actually is: pbf never
      // reprojects (dispatch above), so --reproject must not relabel it.
      // (Deliberate deviation: reference `cli.rs:98-100` stamps the reproject
      // srid unconditionally, mislabeling pbf loads run with --reproject.)
      val outSrid = if (isPbf) effSrid else reproject.getOrElse(effSrid)
      TableLog.write(df, qualified, mode, srid = outSrid)
    } catch {
      case e: Exception =>
        throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case g: GraftError => g }.getOrElse(e)
    }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val input = opts.getOrElse("input", sys.error("--input required"))
    val table = opts.getOrElse("table", sys.error("--table required"))
    val srid = opts.get("srid").map(_.toInt).getOrElse(4326)
    val reproject = opts.get("reproject").map(_.toInt)
    val mode = opts.getOrElse("mode", "fail")

    val builder = SparkSession.builder()
      .appName("graft-load")
      .config("spark.sql.session.timeZone", "UTC")
    // under spark-submit the master comes from the launcher; default for
    // direct invocation
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .getOrCreate()
    try {
      val snap = run(spark, input, table, srid, reproject, mode, opts.get("schema"))
      println(s"[graft] wrote snapshot ${snap.snapshot} of $table: " +
        s"${snap.buckets.values.map(_.rows).sum} rows, mode=$mode, srid=${snap.srid}")
    } finally spark.stop()
  }
}
