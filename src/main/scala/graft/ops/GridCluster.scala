package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.CellGrid

/** Grid-density spatial clustering — the distributed DBSCAN family
  * (grid-cell variant: STING / CLIQUE / GriT-DBSCAN shape). Points land in
  * fixed lon/lat grid cells; a cell with >= minPts points is DENSE; dense
  * cells that are 8-adjacent merge into one cluster (connected components
  * over the dense-cell adjacency graph); every point inherits its cell's
  * cluster label, points in sparse cells are NOISE (label -1).
  *
  * This is the clustering that works at 100 TB where point-pair DBSCAN
  * cannot: the eps-neighborhood test becomes cell adjacency, so the only
  * per-POINT work is one cell assignment (codegen arithmetic, no UDF) and
  * one map-side-combined groupBy — the pairwise stage runs over DENSE
  * CELLS, whose count is bounded by the grid (4^level) regardless of input
  * size. Shape per stage:
  *
  *   1. cell counts: one exchange on the cell key with partial aggregation
  *      (a billion points in one cell arrive as 32 partial counts);
  *   2. dense-cell adjacency: each dense cell emits its 8 neighbor keys
  *      (explode of a constant array) and equi-joins back against the
  *      dense-cell set — never a theta/range join;
  *   3. component labels: the O(log^2 n) large/small-star rounds of
  *      [[Dedup.components]] over cell-id edges (with its small-graph
  *      union-find finish);
  *   4. label application: points equi-join the (dense cell -> label) map —
  *      broadcast-hinted, since the label table is bounded by the dense-cell
  *      count (16 bytes/cell; level <= 12 caps it at ~256 MB even if EVERY
  *      cell were dense, and real corpora are far sparser).
  *
  * The cluster label is the component's minimum packed cell key — a stable,
  * data-derived id, so output is deterministic and oracle-hash-checkable.
  */
object GridCluster {

  /** q106 parameters: 256x256 world grid, 3-point density threshold. The
    * planted urban square (WebPagesSynth: lon [20,21), lat [0,1)) straddles
    * the level-8 lat cell boundary at 0.703125 — cells (142,128)/(142,129)
    * are both dense at every SF, so the component-merge path is exercised
    * by the driver query itself, not only by specs; the spread background
    * is mostly noise with occasional singleton clusters. Shared by the
    * Spark plan and the oracle SQL. */
  val DefaultLevel = 8
  val DefaultMinPts = 3L

  /** @param points any DataFrame exposing `lonCol`/`latCol` in degrees
    * @param level   grid level: 2^level x 2^level cells over the world
    * @param minPts  density threshold (cells with >= minPts points cluster)
    * @return input columns + `cluster` (BIGINT; -1 = noise) */
  def cluster(points: DataFrame, lonCol: String, latCol: String,
              level: Int, minPts: Long): DataFrame = {
    require(level >= 1 && level <= 29, s"level out of range: $level")
    val n = 1L << level
    val pts = points.withColumn("_gkey",
      CellGrid.cellX(col(lonCol), level) * n + CellGrid.cellY(col(latCol), level))

    val dense = pts.groupBy("_gkey").agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= minPts)
      // long `div`, not `/`: Column./ is double division and loses
      // exactness past 2^53 (keys reach 2^58 at level 29)
      .select(col("_gkey"), expr(s"_gkey div ${n}L").as("_cx"),
        pmod(col("_gkey"), lit(n)).as("_cy"))

    // 8-neighborhood as an equi-join: dense cells explode a constant offset
    // array into candidate neighbor keys, then semi-join the dense set.
    val offs = for { dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0 }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    val cand = dense
      .select(col("_gkey").as("u"), col("_cx"), col("_cy"),
        explode(array(offs: _*)).as("o"))
      .select(col("u"), (col("_cx") + col("o.dx")).as("nx"),
        (col("_cy") + col("o.dy")).as("ny"))
      .filter(col("nx") >= 0 && col("nx") < n && col("ny") >= 0 && col("ny") < n)
      .select(col("u"), (col("nx") * n + col("ny")).as("v"))
    val edges = cand
      .join(dense.select(col("_gkey").as("v")), Seq("v"), "left_semi")
      .filter(col("u") < col("v")) // each undirected edge once

    val comp = Dedup.components(
      edges.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("_gkey"), col("component"))
    // isolated dense cells (no dense neighbor) never enter the edge set:
    // they label themselves
    val labels = dense.select("_gkey")
      .join(comp, Seq("_gkey"), "left")
      .select(col("_gkey"),
        coalesce(col("component"), col("_gkey")).as("_lbl"))

    pts.join(broadcast(labels), Seq("_gkey"), "left")
      .withColumn("cluster", coalesce(col("_lbl"), lit(-1L)))
      .drop("_gkey", "_lbl")
  }

  // ---- DuckDB oracle fragments (same formulas, same key packing) ----
  def cellXSql(lon: String, level: Int): String = {
    val n = 1L << level
    s"greatest(0, least(${n - 1}, CAST(floor(($lon + 180.0) / 360.0 * $n.0) AS BIGINT)))"
  }
  def cellYSql(lat: String, level: Int): String = {
    val n = 1L << level
    s"greatest(0, least(${n - 1}, CAST(floor(($lat + 90.0) / 180.0 * $n.0) AS BIGINT)))"
  }

  /** Oracle CTE chain over a relation `pk(…, gkey)` already carrying the
    * packed cell key; yields `lbl(gkey, lbl)` — the dense-cell cluster
    * labels (recursive transitive closure; fine at oracle scale). The
    * caller's WITH must be RECURSIVE. */
  def labelCtesSql(level: Int, minPts: Long): String = {
    val n = 1L << level
    s"""dense AS (SELECT gkey FROM pk GROUP BY gkey HAVING count(*) >= $minPts),
       | dc AS (SELECT gkey, gkey // $n AS cx, gkey % $n AS cy FROM dense),
       | gedges AS (SELECT a.gkey AS u, b.gkey AS v FROM dc a JOIN dc b
       |   ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.gkey <> b.gkey),
       | greach AS (SELECT u, v FROM gedges
       |   UNION SELECT r.u, e.v FROM greach r JOIN gedges e ON r.v = e.u),
       | gcomp AS (SELECT u AS gkey, least(u, min(v)) AS component FROM greach GROUP BY u),
       | lbl AS (SELECT d.gkey, coalesce(c.component, d.gkey) AS lbl
       |   FROM dense d LEFT JOIN gcomp c USING (gkey))""".stripMargin.replace("\n", " ")
  }
}
