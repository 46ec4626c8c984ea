package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.TableMemo
import graft.ops.Kernel

/** Deterministic Common-Crawl-style web-pages table (the north-rule
  * input_hint shape: url, warc_ts, html binary, text, lang), synthesized
  * from the driver's read-only `documents` parquet with pure integer
  * arithmetic — no RNG, no wall clock — so the DuckDB oracle can rebuild
  * the exact same table from the same parquet.
  *
  * Every numeric formula lives here ONCE, as a Spark `Column` builder and
  * as a DuckDB SQL fragment (and the marker formulas as the scalar methods
  * of the `pageText` kernel), to keep the sides bit-identical (all
  * coordinates are `<int>/20.0 - <offset>`, a single IEEE division both
  * engines perform identically).
  *
  * Geo-entity mentions are embedded into `text` as `GEO(<lonm>;<latm>)`
  * integer markers (milli-degree-ish 0.05-degree units); the pipeline's
  * extractor recovers them by regex. A slice of pages clusters into a
  * 1-degree "urban" square (lon 20..21, lat 0..1) and one hot domain
  * repeats, giving the skewed cells / hot domains the north rule requires.
  */
object WebPagesSynth {

  /** 2024-01-01T00:00:00Z */
  val Epoch0 = 1704067200L

  // ---- Spark Column formulas (d = doc_id, k = entity index) ----
  def nEnts(d: Column): Column = lit(1) + (d % 3)

  def isUrban(d: Column, k: Column): Column = ((d * 7 + k * 3) % 4) === 0

  def lonm(d: Column, k: Column): Column =
    when(isUrban(d, k), lit(4000) + ((d * 13 + k * 5) % 20))
      .otherwise((d * 131 + k * 2347) % 7200).cast("long")

  def latm(d: Column, k: Column): Column =
    when(isUrban(d, k), lit(1400) + ((d * 11 + k * 7) % 20))
      .otherwise((d * 197 + k * 1069) % 2800).cast("long")

  // ---- the same formulas on one document (the `pageText` kernel) ----
  private def isUrban(d: Long, k: Long): Boolean = (d * 7 + k * 3) % 4 == 0
  private def lonm(d: Long, k: Long): Long =
    if (isUrban(d, k)) 4000 + (d * 13 + k * 5) % 20 else (d * 131 + k * 2347) % 7200
  private def latm(d: Long, k: Long): Long =
    if (isUrban(d, k)) 1400 + (d * 11 + k * 7) % 20 else (d * 197 + k * 1069) % 2800

  /** `page_text` kernel: `text`, a space, and the document's
    * `GEO(<lonm>;<latm>)` markers joined by spaces, for k over
    * `sequence(0, nEnts - 1)`, which counts down when nEnts < 1 (a
    * negative doc_id). One call per row where a `transform` lambda over a
    * `sequence` kept its whole projection out of whole-stage codegen. */
  def pageText(text: UTF8String, d: Long): UTF8String = {
    val last = d % 3
    val step = if (last >= 0) 1 else -1
    val sb = new java.lang.StringBuilder(16 + 24 * (math.abs(last).toInt + 1))
    var k = 0L
    while (k != last + step) {
      sb.append(" GEO(").append(lonm(d, k)).append(';').append(latm(d, k)).append(')')
      k += step
    }
    UTF8String.concat(text, UTF8String.fromString(sb.toString))
  }

  def pageText(text: Column, d: Column): Column =
    Kernel.column("page_text", this, "pageText", StringType)(text -> StringType, d -> LongType)

  def lonOf(lonmCol: Column): Column = lonmCol / 20.0 - 180.0
  def latOf(latmCol: Column): Column = latmCol / 20.0 - 70.0

  def urlOf(d: Column): Column = concat(
    lit("https://"),
    when(d % 7 === 0, lit("hot.example.com"))
      .otherwise(concat(lit("d"), (d % 40).cast("string"), lit(".example.com"))),
    lit("/page/"), d.cast("string"))

  // ---- DuckDB SQL fragments over the `documents` table ----
  val nEntsSql = "(1 + doc_id % 3)"
  def isUrbanSql(k: String) = s"((doc_id * 7 + $k * 3) % 4 = 0)"
  def lonmSql(k: String) =
    s"(CASE WHEN ${isUrbanSql(k)} THEN 4000 + ((doc_id * 13 + $k * 5) % 20) ELSE (doc_id * 131 + $k * 2347) % 7200 END)"
  def latmSql(k: String) =
    s"(CASE WHEN ${isUrbanSql(k)} THEN 1400 + ((doc_id * 11 + $k * 7) % 20) ELSE (doc_id * 197 + $k * 1069) % 2800 END)"
  def lonSql(lonm: String) = s"($lonm / 20.0 - 180.0)"
  def latSql(latm: String) = s"($latm / 20.0 - 70.0)"
  val urlSql =
    "('https://' || CASE WHEN doc_id % 7 = 0 THEN 'hot.example.com' " +
      "ELSE 'd' || (doc_id % 40) || '.example.com' END || '/page/' || doc_id)"
  val markersSql =
    s"array_to_string(['GEO(' || ${lonmSql("k")} || ';' || ${latmSql("k")} || ')' FOR k IN range($nEntsSql)], ' ')"
  val pageTextSql = s"(text || ' ' || $markersSql)"
  /** html bytes, same concatenation as [[pages]]. */
  def htmlSql(url: String, pt: String): String =
    s"encode('<html><head><title>' || $url || '</title></head><body><p>' || $pt || '</p></body></html>')"

  /** The input_hint table: (url, warc_ts, html binary, text, lang).
    * `text` carries the GEO markers; `html` wraps text; both derived from
    * the read-only documents parquet. */
  def pages(spark: SparkSession, sfDir: String): DataFrame =
    pages(spark, sfDir, sample = None)

  /** Same table over a uniform document sample (seed fixed): sampling
    * BEFORE page synthesis means a sketch pass over 5% of pages costs 5%
    * of a scan, not a second full synthesis+extraction pass. */
  def pages(spark: SparkSession, sfDir: String, sample: Option[Double]): DataFrame = {
    val base = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    val docs = sample.map(f => base.sample(f, 42)).getOrElse(base)
    val d = col("doc_id")
    val text = pageText(col("text"), d)
    docs.select(
      urlOf(d).as("url"),
      timestamp_seconds(lit(Epoch0) + (d % 86400)).as("warc_ts"),
      encode(concat(lit("<html><head><title>"), urlOf(d), lit("</title></head><body><p>"),
        text, lit("</p></body></html>")), "UTF-8").as("html"),
      text.as("text"),
      col("lang"))
  }
}
