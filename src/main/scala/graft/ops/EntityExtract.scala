package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.WebPagesSynth

/** Web-page geo-entity extraction (north-rule operator, SURVEY.md §2b):
  * each page row yields 0..n entity points parsed from `GEO(<lonm>;<latm>)`
  * mentions in `text`. Deterministic, pure native-function plan (regex +
  * posexplode — whole-stage codegen, no UDF), and `text` is carried through
  * UNCHANGED (projection only) to preserve the byte-identical-text-per-url
  * invariant the north rule demands.
  *
  * Generalizes the reference's per-feature geometry decode
  * (`/root/reference/src/format/geojson.rs:141-158`) from files to
  * 10^12-row page tables.
  */
object EntityExtract {

  /** HTML -> text extraction over the raw `html` binary column: decode
    * UTF-8, take the <body> subtree, strip tags. Pure regex column plan
    * (codegen). The extraction contract is byte-identity: the result must
    * EQUAL the table's `text` column exactly — q68 hash-checks the
    * extracted strings against the oracle's closed-form page text, so any
    * re-encoding, entity mangling, or off-by-one in the extractor breaks
    * the hash, which is precisely the north-rule invariant made testable
    * from the binary side. */
  def htmlText(pages: DataFrame): DataFrame = {
    val extracted = regexp_replace(
      regexp_extract(decode(col("html"), "UTF-8"), "(?s)<body>(.*)</body>", 1),
      "<[^>]*>", "")
    pages.select(col("url"), extracted.as("extracted_text"),
      when(extracted === col("text"), 1L).otherwise(0L).as("matches_text"))
  }

  /** pages(url, warc_ts, html, text, lang) ->
    * (url, ent_idx int, lonm, latm long, lon, lat double, text, lang).
    * Marker order in text defines ent_idx.
    *
    * r6: the marker scan is the native [[GeoMentions]] — one
    * byte-level pass per page instead of three java.util.regex
    * evaluations and a mention string per match (extraction runs once per
    * page at 10^12 pages and inside the timed flagship pipeline).
    * [[entitiesRegex]] keeps the regex plan as the in-test
    * reimplementation-equality baseline (EntityExtractSpec). */
  def entities(pages: DataFrame): DataFrame = {
    pages
      .select(col("url"), col("text"), col("lang"),
        posexplode(GeoMentions.geoMentions(col("text"))).as(Seq("ent_idx", "m")))
      .withColumn("lonm", col("m.lonm"))
      .withColumn("latm", col("m.latm"))
      .withColumn("lon", WebPagesSynth.lonOf(col("lonm")))
      .withColumn("lat", WebPagesSynth.latOf(col("latm")))
      .drop("m")
  }

  /** The pre-r6 regex form of [[entities]] — kept ONLY as the independent
    * reimplementation EntityExtractSpec proves equal to the native
    * scanner (never on the query path). */
  private[graft] def entitiesRegex(pages: DataFrame): DataFrame = {
    pages
      .select(col("url"), col("text"), col("lang"),
        posexplode(regexp_extract_all(col("text"), lit("GEO\\(([0-9]+);([0-9]+)\\)"), lit(0)))
          .as(Seq("ent_idx", "mention")))
      .withColumn("lonm", regexp_extract(col("mention"), "GEO\\(([0-9]+);", 1).cast("long"))
      .withColumn("latm", regexp_extract(col("mention"), ";([0-9]+)\\)", 1).cast("long"))
      .withColumn("lon", WebPagesSynth.lonOf(col("lonm")))
      .withColumn("lat", WebPagesSynth.latOf(col("latm")))
      .drop("mention")
  }
}
