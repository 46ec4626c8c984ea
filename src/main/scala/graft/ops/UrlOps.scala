package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** URL canonicalization for web-corpus dedup: the same document is
  * typically crawled under many spellings of one address (case-variant
  * hosts, tracking params, fragments, trailing slashes), and URL-level
  * dedup runs BEFORE content dedup because it needs no text comparison at
  * all — a pure row-local normalization plus one groupBy on the canonical
  * key.
  *
  * Rules (each SQL-replicable, so the whole op is DuckDB-hash-checked):
  *   1. drop the fragment (`#...`),
  *   2. lowercase the scheme and authority (never the path/query),
  *   3. drop tracking params (`utm_*`, `gclid=`, `fbclid=`), keeping the
  *      remaining params in their original order,
  *   4. strip trailing slashes from the path.
  * Plain column functions end to end (codegen; the per-row param filter is
  * a tiny HOF over an already-split array).
  */
object UrlOps {

  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val base = regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    canonicalFrom(noFrag, base)
  }

  private def canonicalFrom(noFrag: Column, base: Column): Column = {
    val rest = noFrag.substr(length(base) + 1, lit(Int.MaxValue))
    val path0 = regexp_extract(rest, "^([^?]*)", 1)
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val kept = filter(split(query, "&"), p =>
      p =!= "" && !p.startsWith("utm_") && !p.startsWith("gclid=") && !p.startsWith("fbclid="))
    val path = regexp_replace(path0, "/+$", "")
    concat(lower(base), path,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&"))).otherwise(lit("")))
  }

  /** Same rules as [[canonicalizeUrl]], DuckDB dialect: a SELECT producing
    * one `canon_url` per row of `fromRelation` (which must expose `url`). */
  def canonicalizePipelineSql(fromRelation: String): String =
    s"""SELECT lower(b) || regexp_replace(regexp_extract(r, '^([^?]*)', 1), '/+$$', '')
       |   || CASE WHEN len(k) > 0 THEN '?' || array_to_string(k, '&') ELSE '' END AS canon_url
       | FROM (SELECT b, r, list_filter(string_split(regexp_extract(r, '\\?(.*)$$', 1), '&'),
       |         x -> x <> '' AND NOT starts_with(x, 'utm_') AND NOT starts_with(x, 'gclid=')
       |              AND NOT starts_with(x, 'fbclid=')) AS k
       |   FROM (SELECT b, substr(nf, length(b) + 1) AS r
       |     FROM (SELECT nf, regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1) AS b
       |       FROM (SELECT regexp_replace(url, '#.*', '') AS nf FROM $fromRelation v))))"""
      .stripMargin.replace("\n", " ")

  /** Deterministic variant corpus: every page's url, plus for doc_id % 5
    * == 0 three planted spellings of the same address (uppercased
    * authority, tracking params + fragment, trailing slash). */
  def urlVariants(spark: SparkSession, sfDir: String): DataFrame = {
    val base = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), graft.sources.WebPagesSynth.urlOf(col("doc_id")).as("url"))
    val planted = base.filter(col("doc_id") % 5 === 0)
    val head = regexp_extract(col("url"), "^(https://[^/]*)", 1)
    val tail = col("url").substr(length(head) + 1, lit(Int.MaxValue))
    base.select(col("url"))
      .unionAll(planted.select(concat(upper(head), tail).as("url")))
      .unionAll(planted.select(concat(col("url"), lit("?utm_source=feed&gclid=abc#top")).as("url")))
      .unionAll(planted.select(concat(col("url"), lit("/")).as("url")))
  }

  val urlVariantsSql: String = {
    val u = graft.sources.WebPagesSynth.urlSql
    val headUp =
      s"(upper(regexp_extract($u, '^(https://[^/]*)', 1)) || substr($u, length(regexp_extract($u, '^(https://[^/]*)', 1)) + 1))"
    s"""(SELECT $u AS url FROM documents
       | UNION ALL SELECT $headUp FROM documents WHERE doc_id % 5 = 0
       | UNION ALL SELECT $u || '?utm_source=feed&gclid=abc#top' FROM documents WHERE doc_id % 5 = 0
       | UNION ALL SELECT $u || '/' FROM documents WHERE doc_id % 5 = 0)"""
      .stripMargin.replace("\n", " ")
  }

  /** (canon_url, n_urls): url dedup groups over the variant corpus. */
  def urlDedup(urls: DataFrame): DataFrame =
    urls.groupBy(canonicalizeUrl(col("url")).as("canon_url"))
      .agg(count(lit(1)).as("n_urls"))
}
