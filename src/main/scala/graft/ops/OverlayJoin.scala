package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftShim

/** Polygon–polygon `intersects` join (overlay): the geometry↔geometry
  * generalization of the reference's per-feature pipeline, shaped for
  * 10^12-row tables.
  *
  * Plan shape:
  *  1. each side computes its envelope once per row and EXPLODES to the
  *     grid cells the envelope covers at `level` (bbox cover — deliberately
  *     not the exact-refined cover, see the dedup rule);
  *  2. candidates equi-join on the cell key — a plain shuffle-on-key hash
  *     join (prunable, AQE-skew-splittable, salt-able like [[PipJoin]]);
  *  3. a candidate pair surviving in several shared cells is kept by
  *     exactly ONE task via the REPORTING-CELL rule: emit only from the
  *     cell containing the min corner of the two envelopes' intersection
  *     (`(max(axmin,bxmin), max(aymin,bymin))`). That corner lies in both
  *     bbox covers whenever the bboxes overlap, so every intersecting pair
  *     is emitted exactly once and the per-pair `distinct` shuffle — the
  *     usual cost of cover-join dedup — disappears into a per-row
  *     predicate;
  *  4. exact JTS `intersects` refines last (candidate order: cheap
  *     codegen'd cell equality first, geometry test only on survivors).
  */
object OverlayJoin {
  private def ex(c: Column) = GraftShim.expression(c)
  private def co(e: org.apache.spark.sql.catalyst.expressions.Expression) = GraftShim.column(e)

  private def xmin(g: Column) = SqlFunctions.call("st_xmin", g)
  private def ymin(g: Column) = SqlFunctions.call("st_ymin", g)
  private def bboxCells(g: Column, level: Int) = SqlFunctions.call("st_bbox_cells", g, lit(level))
  private def cellAt(x: Column, y: Column, level: Int) = co(SqlFunctions.cellId(ex(x), ex(y), level))
  private def intersects(a: Column, b: Column) = SqlFunctions.call("st_intersects", a, b)

  // ---- ST_Intersection + ST_Area for the diamond layers, closed form ----
  // Under the 45-degree map (u, v) = (x + y, x - y) an L1 ball |x-cx|+|y-cy|
  // <= r is the axis-aligned square [cu-r, cu+r] x [cv-r, cv+r] (cu = cx+cy,
  // cv = cx-cy), and the map scales areas by exactly 2 — so the xy
  // intersection area of two diamonds is overlap_u * overlap_v / 2, a pure
  // rectangle-overlap product. At scale factor 80 every center and radius
  // of [[graft.sources.Layers]] is an exact integer (urban r = 0.1125 ->
  // 9), so the area numerator is exact Long arithmetic end to end — no
  // geometry library, no doubles, hash-comparable cross-engine.
  //
  // Integer forms derived from the key arithmetic (cited: Layers.polyCx/
  // polyCy/polyR and polyBCx/polyBCy/polyBR; OverlaySpec pins 80x parity):
  //   A (part):    urban  cu80 = 1604 + 4*((p/10*7)%20) + 4*((p/10*13)%20)
  //                       cv80 = 1600 + 4*((p/10*7)%20) - 4*((p/10*13)%20)
  //                       r80  = 9
  //                non-u  cu80 = 80*((p*131)%360 + (p*37)%140) - 19920
  //                       cv80 = 80*((p*131)%360 - (p*37)%140) - 8800
  //                       r80  = 30 + 4*(p%3)
  //   B (customer):       cu80 = 80*((c*97)%360 + (c*41)%140) - 19920
  //                       cv80 = 80*((c*97)%360 - (c*41)%140) - 8800
  //                       r80  = 128 + 4*(c%3)

  /** u-v cell edge for the candidate grid (80x lattice units). */
  val AreaCellU = 2048

  private def aCols(pk: Column): (Column, Column, Column) = {
    val urban = pk % 10 === 0
    val q = (pk / 10).cast("long")
    val cu = when(urban, lit(1604) + ((q * 7) % 20) * 4 + ((q * 13) % 20) * 4)
      .otherwise(((pk * 131) % 360 + (pk * 37) % 140) * 80 - 19920)
    val cv = when(urban, lit(1600) + ((q * 7) % 20) * 4 - ((q * 13) % 20) * 4)
      .otherwise(((pk * 131) % 360 - (pk * 37) % 140) * 80 - 8800)
    val r = when(urban, 9L).otherwise(lit(30) + (pk % 3) * 4)
    (cu, cv, r)
  }
  private def bCols(ck: Column): (Column, Column, Column) = (
    ((ck * 97) % 360 + (ck * 41) % 140) * 80 - 19920,
    ((ck * 97) % 360 - (ck * 41) % 140) * 80 - 8800,
    lit(128) + (ck % 3) * 4)

  private val aSqlU = "(p_partkey % 10 = 0)"
  private val aCuSql = s"CASE WHEN $aSqlU THEN 1604 + ((p_partkey // 10 * 7) % 20) * 4 + ((p_partkey // 10 * 13) % 20) * 4 ELSE ((p_partkey * 131) % 360 + (p_partkey * 37) % 140) * 80 - 19920 END"
  private val aCvSql = s"CASE WHEN $aSqlU THEN 1600 + ((p_partkey // 10 * 7) % 20) * 4 - ((p_partkey // 10 * 13) % 20) * 4 ELSE ((p_partkey * 131) % 360 - (p_partkey * 37) % 140) * 80 - 8800 END"
  private val aRSql = s"CASE WHEN $aSqlU THEN 9 ELSE 30 + (p_partkey % 3) * 4 END"
  private val bCuSql = "((c_custkey * 97) % 360 + (c_custkey * 41) % 140) * 80 - 19920"
  private val bCvSql = "((c_custkey * 97) % 360 - (c_custkey * 41) % 140) * 80 - 8800"
  private val bRSql = "128 + (c_custkey % 3) * 4"

  /** The A-layer diamonds as axis-aligned (u,v) squares at 80x scale:
    * (a_id, u0, u1, v0, v1) integer corners — the exact-rectangle input
    * [[Dissolve.unionArea]] consumes. */
  def squaresA(part: DataFrame): DataFrame = {
    val (cu, cv, r) = aCols(col("p_partkey"))
    part.select(col("p_partkey").as("a_id"),
      (cu - r).as("u0"), (cu + r).as("u1"), (cv - r).as("v0"), (cv + r).as("v1"))
  }

  /** DuckDB fragment for [[squaresA]] (parenthesized subquery). */
  val squaresASql: String =
    s"(SELECT p_partkey AS a_id, $aCuSql - ($aRSql) AS u0, $aCuSql + ($aRSql) AS u1," +
      s" $aCvSql - ($aRSql) AS v0, $aCvSql + ($aRSql) AS v1 FROM part)"

  /** (a_id, b_id, ia) for every diamond pair with positive-area overlap:
    * `ia = overlap_u * overlap_v` in squared 80x units (xy area =
    * ia / 12800). Grid candidates + reference-point dedup (exactly-once,
    * no distinct), closed-form refine — one cell-key shuffle, all codegen,
    * all integer. */
  def intersectionArea(part: DataFrame, customer: DataFrame): DataFrame = {
    val cell = AreaCellU.toDouble
    def prep(df: DataFrame, id: Column, cuv: (Column, Column, Column), p: String) = {
      val (cu, cv, r) = cuv
      df.select(id.as(s"${p}_id"), (cu - r).as(s"${p}u0"), (cu + r).as(s"${p}u1"),
          (cv - r).as(s"${p}v0"), (cv + r).as(s"${p}v1"))
        .withColumn(s"${p}gu0", floor(col(s"${p}u0") / cell).cast("long"))
        .withColumn(s"${p}gu1", floor(col(s"${p}u1") / cell).cast("long"))
        .withColumn(s"${p}gv0", floor(col(s"${p}v0") / cell).cast("long"))
        .withColumn(s"${p}gv1", floor(col(s"${p}v1") / cell).cast("long"))
        .withColumn("gu", explode(sequence(col(s"${p}gu0"), col(s"${p}gu1"))))
        .withColumn("gv", explode(sequence(col(s"${p}gv0"), col(s"${p}gv1"))))
    }
    val ac = prep(part, col("p_partkey"), aCols(col("p_partkey")), "a")
    val bc = prep(customer, col("c_custkey"), bCols(col("c_custkey")), "b")
    val ou = least(col("au1"), col("bu1")) - greatest(col("au0"), col("bu0"))
    val ov = least(col("av1"), col("bv1")) - greatest(col("av0"), col("bv0"))
    ac.join(bc, Seq("gu", "gv"))
      .where(col("gu") === greatest(col("agu0"), col("bgu0")) &&
        col("gv") === greatest(col("agv0"), col("bgv0")))
      .where(ou > 0 && ov > 0)
      .select(col("a_id"), col("b_id"), (ou * ov).as("ia"))
  }

  /** DuckDB replica: quadratic scan, identical integer rectangle overlap. */
  def intersectionAreaSql: String =
    s"""WITH sa AS (SELECT p_partkey AS a_id, $aCuSql AS cu, $aCvSql AS cv, $aRSql AS r FROM part),
       | sb AS (SELECT c_custkey AS b_id, $bCuSql AS cu, $bCvSql AS cv, $bRSql AS r FROM customer),
       | pairs AS (SELECT a_id, b_id,
       |   least(a.cu + a.r, b.cu + b.r) - greatest(a.cu - a.r, b.cu - b.r) AS ou,
       |   least(a.cv + a.r, b.cv + b.r) - greatest(a.cv - a.r, b.cv - b.r) AS ov
       |   FROM sa a CROSS JOIN sb b)
       | SELECT a_id, b_id, CAST(ou * ov AS BIGINT) AS ia FROM pairs
       | WHERE ou > 0 AND ov > 0""".stripMargin.replace("\n", " ")

  /** `a` and `b` are (idCol, `geom` WKB) frames; result is one row per
    * intersecting pair: (a_id, b_id). */
  def intersectsJoin(a: DataFrame, aIdCol: String, b: DataFrame, bIdCol: String,
                     level: Int): DataFrame = {
    def prep(df: DataFrame, idCol: String, p: String) =
      df.select(col(idCol).as(s"${p}_id"), col("geom").as(s"${p}_geom"),
        xmin(col("geom")).as(s"${p}_xmin"), ymin(col("geom")).as(s"${p}_ymin"),
        explode(bboxCells(col("geom"), level)).as(s"${p}_cell"))
    val ac = prep(a, aIdCol, "a")
    val bc = prep(b, bIdCol, "b")
    ac.join(bc, col("a_cell") === col("b_cell"))
      .filter(col("a_cell") ===
        cellAt(greatest(col("a_xmin"), col("b_xmin")),
               greatest(col("a_ymin"), col("b_ymin")), level))
      .filter(intersects(col("a_geom"), col("b_geom")))
      .select(col("a_id"), col("b_id"))
  }
}
