package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Host-graph contraction — the standard first reduction of a web crawl's
  * page-level link graph (the Common Crawl host/PLD graph pipeline):
  * collapse pages to their hosts and aggregate the page edges into
  * weighted host edges. Downstream link analysis (ranking, spam
  * detection) runs on the host graph because it is orders of magnitude
  * smaller and robust to per-page crawl noise; the intra-host diagonal
  * (self-edges after contraction) measures navigation-template density.
  *
  * Output per host pair: `n_links` (page-edge multiplicity) and
  * `n_src_pages` (distinct linking pages — the host-pair support,
  * robust against one template page emitting thousands of links).
  *
  * Scale shape: the host key is a ROW-LOCAL projection of the page id /
  * URL (no dim join anywhere), so the whole contraction is one
  * map-side-combinable groupBy over the edge list; the distinct-support
  * count is the standard two-level exact distinct (groupBy the pair+src
  * first). Output is host²-bounded, never page-bounded. The synthetic
  * URL scheme plants a hot host (1/7 of all pages) so the contracted
  * graph exhibits the hub skew the host graph exists to expose. */
object HostGraph {

  /** Row-local host of a page id — mirrors `WebPagesSynth.urlOf`. */
  def hostOf(d: Column): Column =
    when(d % 7 === 0, lit("hot.example.com"))
      .otherwise(concat(lit("d"), (d % 40).cast("string"), lit(".example.com")))

  /** @return (src_host, dst_host, n_links, n_src_pages). */
  def contract(edges: DataFrame): DataFrame =
    edges.select(hostOf(col("src")).as("src_host"),
        hostOf(col("dst")).as("dst_host"), col("src"))
      .groupBy("src_host", "dst_host", "src").agg(count(lit(1)).as("c"))
      .groupBy("src_host", "dst_host")
      .agg(sum("c").as("n_links"), count(lit(1)).as("n_src_pages"))

  /** q154 entry: host graph of the synthetic page-level link graph. */
  def docHostGraph(spark: SparkSession, sfDir: String): DataFrame =
    contract(LinkGraph.synthEdges(TableMemo.parquet(spark, s"$sfDir/documents.parquet")))

  /** DuckDB replica of [[docHostGraph]]. */
  def hostGraphSql(): String =
    s"""WITH nn AS (SELECT count(*) AS n_docs FROM documents),
       | e AS (SELECT DISTINCT src, dst FROM (
       |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
       | h AS (SELECT CASE WHEN src % 7 = 0 THEN 'hot.example.com'
       |     ELSE 'd' || (src % 40) || '.example.com' END AS src_host,
       |   CASE WHEN dst % 7 = 0 THEN 'hot.example.com'
       |     ELSE 'd' || (dst % 40) || '.example.com' END AS dst_host,
       |   src FROM e),
       | p AS (SELECT src_host, dst_host, src, count(*) AS c FROM h
       |   GROUP BY 1, 2, 3)
       | SELECT src_host, dst_host, CAST(sum(c) AS BIGINT) AS n_links,
       |   count(*) AS n_src_pages
       | FROM p GROUP BY 1, 2"""
      .stripMargin.replace("\n", " ")

  /** Crawl-to-crawl link delta — the graph-diff every recurring crawl
    * pipeline publishes (which links appeared/vanished between snapshots
    * drives recrawl scheduling and freshness ranking). Snapshot t2 is a
    * deterministic perturbation of t1: pages with doc_id % 17 == 0 are
    * DEAD in t2 (all their out-links vanish) and pages with
    * doc_id % 13 == 0 gain one NEW link to (src·37 + 11) % N — so all
    * three statuses are populated by construction.
    *
    * Scale shape: two edge builds + ONE full-outer equi-join on the
    * exact edge key (src, dst) + a row-local status CASE + one
    * map-side-combinable rollup to (src_host, status, n_edges) —
    * host-bounded output, never page-bounded. No window, nothing
    * driver-side. */
  def linkDelta(t1: DataFrame, t2: DataFrame): DataFrame = {
    val a = t1.select(col("src"), col("dst"), lit(1L).as("in1"))
    val b = t2.select(col("src"), col("dst"), lit(1L).as("in2"))
    a.join(b, Seq("src", "dst"), "full_outer")
      .select(hostOf(col("src")).as("src_host"),
        when(col("in1").isNotNull && col("in2").isNotNull, "kept")
          .when(col("in2").isNotNull, "added").otherwise("removed").as("status"))
      .groupBy("src_host", "status").agg(count(lit(1)).as("n_edges"))
  }

  /** The perturbed t2 snapshot derived from a (materialized) t1 edge
    * list — t1 is passed in so its synthesis runs once for both sides
    * of the delta join. */
  def edgesT2(docs: DataFrame, e1: DataFrame): DataFrame = {
    val alive = e1.filter(col("src") % 17 =!= 0)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val born = Scalars.join(
        docs.select(col("doc_id").as("src")).filter(col("src") % 13 === 0), n)
      .select(col("src"), ((col("src") * 37 + 11) % col("n_docs")).as("dst"))
      .filter(col("src") =!= col("dst") && col("src") % 17 =!= 0)
    alive.unionAll(born).distinct()
  }

  /** q158 entry: link delta between the synthetic crawl snapshots. */
  def docLinkDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    val e1 = LinkGraph.synthEdges(docs).localCheckpoint(false)
    linkDelta(e1, edgesT2(docs, e1))
  }

  /** DuckDB replica of [[docLinkDelta]]. */
  def linkDeltaSql(): String =
    s"""WITH nn AS (SELECT count(*) AS n_docs FROM documents),
       | e1 AS (SELECT DISTINCT src, dst FROM (
       |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
       | e2 AS (SELECT DISTINCT src, dst FROM (
       |   SELECT src, dst FROM e1 WHERE src % 17 <> 0
       |   UNION ALL
       |   SELECT d.doc_id AS src, (d.doc_id * 37 + 11) % nn.n_docs AS dst
       |   FROM documents d, nn WHERE d.doc_id % 13 = 0
       |     AND d.doc_id % 17 <> 0
       |     AND d.doc_id <> (d.doc_id * 37 + 11) % nn.n_docs)),
       | fo AS (SELECT COALESCE(e1.src, e2.src) AS src,
       |     CASE WHEN e1.src IS NOT NULL AND e2.src IS NOT NULL THEN 'kept'
       |       WHEN e2.src IS NOT NULL THEN 'added' ELSE 'removed' END AS status
       |   FROM e1 FULL OUTER JOIN e2 ON e1.src = e2.src AND e1.dst = e2.dst)
       | SELECT CASE WHEN src % 7 = 0 THEN 'hot.example.com'
       |     ELSE 'd' || (src % 40) || '.example.com' END AS src_host,
       |   status, count(*) AS n_edges
       | FROM fo GROUP BY 1, 2"""
      .stripMargin.replace("\n", " ")
}
