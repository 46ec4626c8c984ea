package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.CellGrid
import graft.sources.WebPagesSynth
import graft.TableMemo

/** Origin-destination flow aggregation (the flow-map / spatial-interaction
  * primitive): each link-graph edge becomes a (source cell -> destination
  * cell) flow on the 64x64 lattice, counted per cell pair — the OD matrix
  * gravity models and flow maps consume. A document's location is its
  * first extracted geo-entity (k = 0 exists for every page: nEnts >= 1).
  *
  * Scale shape: the location table is ONE row per document (a projection
  * of the scan — no exchange to build); edges equi-join it twice on
  * doc_id (plain shuffled hash joins — both sides are |V|- and |E|-sized,
  * nothing broadcastable at web scale, AQE handles skewed hubs), then ONE
  * map-side-combinable groupBy on the four cell keys, whose output is
  * bounded by the 4096^2 cell-pair space regardless of edge count. */
object FlowMap {

  /** q129 entry: OD flows of the synthetic link graph over 64x64 cells.
    * Output: (scx, scy, dcx, dcy, flows), all BIGINT. */
  def odFlows(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    val lon0 = WebPagesSynth.lonOf(WebPagesSynth.lonm(col("doc_id"), lit(0L)))
    val lat0 = WebPagesSynth.latOf(WebPagesSynth.latm(col("doc_id"), lit(0L)))
    val loc = docs.select(col("doc_id"),
      CellGrid.cellX(lon0, 6).as("cx"), CellGrid.cellY(lat0, 6).as("cy"))
    LinkGraph.synthEdges(docs)
      .join(loc.select(col("doc_id").as("src"), col("cx").as("scx"), col("cy").as("scy")), "src")
      .join(loc.select(col("doc_id").as("dst"), col("cx").as("dcx"), col("cy").as("dcy")), "dst")
      .groupBy("scx", "scy", "dcx", "dcy")
      .agg(count(lit(1)).as("flows"))
  }

  /** DuckDB replica: same closed-form edges, same k=0 location, same
    * clamped 64-cell math. */
  def odFlowsSql(): String = {
    val lon0 = s"(${WebPagesSynth.lonmSql("0")} / 20.0 - 180.0)"
    val lat0 = s"(${WebPagesSynth.latmSql("0")} / 20.0 - 70.0)"
    val cx = s"greatest(0, least(63, CAST(floor(($lon0 + 180.0) / 360.0 * 64.0) AS BIGINT)))"
    val cy = s"greatest(0, least(63, CAST(floor(($lat0 + 90.0) / 180.0 * 64.0) AS BIGINT)))"
    s"""WITH nn AS (SELECT count(*) AS n_docs FROM documents),
       | e AS (SELECT DISTINCT src, dst FROM (
       |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
       | loc AS (SELECT doc_id, $cx AS cx, $cy AS cy FROM documents),
       | j AS (SELECT a.cx AS scx, a.cy AS scy, b.cx AS dcx, b.cy AS dcy
       |   FROM e JOIN loc a ON a.doc_id = e.src JOIN loc b ON b.doc_id = e.dst)
       | SELECT scx, scy, dcx, dcy, count(*) AS flows
       | FROM j GROUP BY 1, 2, 3, 4"""
      .stripMargin.replace("\n", " ")
  }

  /** Gravity-model flow anomalies (the spatial-interaction residual,
    * Wilson 1971 shape): under the independence/gravity null, the
    * expected flow o->d is O_o * D_d / T (row x column marginals); the
    * exact BIGINT surplus `flow * T - O_o * D_d` flags corridors with
    * more (EXCESS) or less (DEFICIT) interaction than their endpoint
    * masses predict — the flow-map analogue of PMI ([[Collocations]]).
    *
    * Scale shape: everything downstream of [[odFlows]]' one bounded
    * groupBy runs on <= 4096^2 cell-pair rows: two marginal groupBys,
    * two lattice-keyed equi-joins, one scalar total. The flow table is
    * materialized once for its three consumers. */
  def gravityResiduals(spark: SparkSession, sfDir: String): DataFrame = {
    val f = odFlows(spark, sfDir).localCheckpoint(false)
    val o = f.groupBy("scx", "scy").agg(sum("flows").as("o_tot"))
    val d = f.groupBy("dcx", "dcy").agg(sum("flows").as("d_tot"))
    val t = f.agg(sum("flows").as("t_tot"))
    Scalars.join(f.join(o, Seq("scx", "scy")).join(d, Seq("dcx", "dcy")), t)
      .withColumn("surplus",
        col("flows") * col("t_tot") - col("o_tot") * col("d_tot"))
      .select(col("scx"), col("scy"), col("dcx"), col("dcy"), col("flows"),
        col("o_tot"), col("d_tot"), col("t_tot"), col("surplus"),
        when(col("surplus") > 0, "EXCESS").when(col("surplus") < 0, "DEFICIT")
          .otherwise("NEUTRAL").as("cls"))
  }

  /** DuckDB replica of [[gravityResiduals]]: the [[odFlowsSql]] chain plus
    * marginal CTEs. */
  def gravityResidualsSql(): String = {
    val lon0 = s"(${WebPagesSynth.lonmSql("0")} / 20.0 - 180.0)"
    val lat0 = s"(${WebPagesSynth.latmSql("0")} / 20.0 - 70.0)"
    val cx = s"greatest(0, least(63, CAST(floor(($lon0 + 180.0) / 360.0 * 64.0) AS BIGINT)))"
    val cy = s"greatest(0, least(63, CAST(floor(($lat0 + 90.0) / 180.0 * 64.0) AS BIGINT)))"
    s"""WITH nn AS (SELECT count(*) AS n_docs FROM documents),
       | e AS (SELECT DISTINCT src, dst FROM (
       |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
       | loc AS (SELECT doc_id, $cx AS cx, $cy AS cy FROM documents),
       | f AS (SELECT a.cx AS scx, a.cy AS scy, b.cx AS dcx, b.cy AS dcy,
       |     count(*) AS flows
       |   FROM e JOIN loc a ON a.doc_id = e.src JOIN loc b ON b.doc_id = e.dst
       |   GROUP BY 1, 2, 3, 4),
       | o AS (SELECT scx, scy, sum(flows) AS o_tot FROM f GROUP BY 1, 2),
       | d AS (SELECT dcx, dcy, sum(flows) AS d_tot FROM f GROUP BY 1, 2),
       | t AS (SELECT sum(flows) AS t_tot FROM f)
       | SELECT f.scx, f.scy, f.dcx, f.dcy, CAST(f.flows AS BIGINT) AS flows,
       |   CAST(o.o_tot AS BIGINT) AS o_tot, CAST(d.d_tot AS BIGINT) AS d_tot,
       |   CAST(t.t_tot AS BIGINT) AS t_tot,
       |   CAST(f.flows * t.t_tot - o.o_tot * d.d_tot AS BIGINT) AS surplus,
       |   CASE WHEN f.flows * t.t_tot - o.o_tot * d.d_tot > 0 THEN 'EXCESS'
       |        WHEN f.flows * t.t_tot - o.o_tot * d.d_tot < 0 THEN 'DEFICIT'
       |        ELSE 'NEUTRAL' END AS cls
       | FROM f JOIN o ON o.scx = f.scx AND o.scy = f.scy
       | JOIN d ON d.dcx = f.dcx AND d.dcy = f.dcy CROSS JOIN t"""
      .stripMargin.replace("\n", " ")
  }
}
