package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Robots-rule URL filtering with LONGEST-MATCH semantics (the
  * Google/RFC 9309 rule: the most specific matching path prefix wins,
  * allow and disallow alike) — the compliance gate every crawl pipeline
  * runs before fetch scheduling. A plain "any disallow matches" filter
  * gets real robots files wrong: `Disallow: /page/` + `Allow: /page/3`
  * must let /page/3x through, which only longest-match delivers.
  *
  * The per-page verdict reduces to ONE integer aggregate: each matching
  * rule scores `2·len(prefix) + is_disallow`, so max(score) picks the
  * longest prefix and, on equal length, the CONSERVATIVE disallow; the
  * verdict is the parity of the max. No struct comparators, no window —
  * a plain map-side-combinable `max`.
  *
  * DOCUMENTED DEVIATION (ADVICE r5): on an exact length tie between an
  * allow and a disallow rule, RFC 9309 §2.2.2 / Google semantics pick the
  * LEAST restrictive rule (allow wins); this operator's `+ is_disallow`
  * tie bit picks disallow — the conservative crawl-side choice. The
  * synthetic rule set never produces a length tie, so outputs are
  * unaffected; an RFC-exact caller flips the tie bit to `+ is_allow` (and
  * reads the inverted parity).
  *
  * Scale shape: pages derive (host, path) ROW-LOCALLY; the rule table is
  * hosts×rules-bounded (never page-bounded) and BROADCASTS into the
  * match join (equi on host + a startswith residual); the longest-match
  * groupBy is per page with partial aggregation. The synthetic rule set
  * (3 rules/host: a digit disallow, a longer 2-digit allow carving an
  * exception out of it, and a dead /admin rule) exercises override,
  * plain-block, and no-match on every host. */
object Robots {

  /** Closed-form rule table over the 41 synthetic hosts: host index k
    * (40 = hot) gets Disallow "/page/<k%10>", Allow "/page/<k%10><(k+3)%10>",
    * Disallow "/admin". */
  def rules(spark: SparkSession): DataFrame =
    spark.range(41).select(
      when(col("id") === 40, "hot.example.com")
        .otherwise(concat(lit("d"), col("id").cast("string"), lit(".example.com")))
        .as("host"), col("id"))
      .select(col("host"), explode(array(
        struct(concat(lit("/page/"), (col("id") % 10).cast("string")).as("prefix"),
          lit(1L).as("dis")),
        struct(concat(lit("/page/"), (col("id") % 10).cast("string"),
          ((col("id") + 3) % 10).cast("string")).as("prefix"), lit(0L).as("dis")),
        struct(lit("/admin").as("prefix"), lit(1L).as("dis")))).as("r"))
      .select(col("host"), col("r.prefix").as("prefix"), col("r.dis").as("dis"))

  /** @return (doc_id, allowed, match_len): allowed = 1 unless the longest
    *         matching rule is a disallow; match_len = -1 when nothing
    *         matches. */
  def verdicts(pages: DataFrame, rules: DataFrame): DataFrame = {
    val scored = pages
      .join(broadcast(rules), pages("host") === rules("host")
        && col("path").startsWith(col("prefix")), "left")
      .select(col("doc_id"),
        when(col("prefix").isNotNull,
          length(col("prefix")) * 2 + col("dis")).as("score"))
    scored.groupBy("doc_id").agg(max("score").as("m"))
      .select(col("doc_id"),
        when(col("m").isNull || col("m") % 2 === 0, 1L).otherwise(0L).as("allowed"),
        coalesce(expr("m div 2"), lit(-1L)).as("match_len"))
  }

  /** q159 entry: robots verdicts for every synthetic page. */
  def docVerdicts(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), HostGraph.hostOf(col("doc_id")).as("host"),
        concat(lit("/page/"), col("doc_id").cast("string")).as("path"))
    verdicts(pages, rules(spark))
  }

  /** DuckDB replica of [[docVerdicts]]: same closed-form rules, same
    * 2·len + dis scoring. */
  def verdictsSql(): String =
    s"""WITH hosts AS (SELECT CASE WHEN id = 40 THEN 'hot.example.com'
       |     ELSE 'd' || id || '.example.com' END AS host, id
       |   FROM (SELECT unnest(range(41)) AS id)),
       | rules AS (
       |   SELECT host, '/page/' || (id % 10) AS prefix, 1 AS dis FROM hosts
       |   UNION ALL
       |   SELECT host, '/page/' || (id % 10) || ((id + 3) % 10), 0 FROM hosts
       |   UNION ALL
       |   SELECT host, '/admin', 1 FROM hosts),
       | pages AS (SELECT doc_id,
       |     CASE WHEN doc_id % 7 = 0 THEN 'hot.example.com'
       |       ELSE 'd' || (doc_id % 40) || '.example.com' END AS host,
       |     '/page/' || doc_id AS path FROM documents),
       | scored AS (SELECT p.doc_id,
       |     CASE WHEN r.prefix IS NOT NULL
       |       THEN length(r.prefix) * 2 + r.dis END AS score
       |   FROM pages p LEFT JOIN rules r
       |     ON r.host = p.host AND starts_with(p.path, r.prefix))
       | SELECT doc_id,
       |   CAST(CASE WHEN max(score) IS NULL OR max(score) % 2 = 0
       |     THEN 1 ELSE 0 END AS BIGINT) AS allowed,
       |   CAST(COALESCE(max(score) // 2, -1) AS BIGINT) AS match_len
       | FROM scored GROUP BY doc_id"""
      .stripMargin.replace("\n", " ")
}
