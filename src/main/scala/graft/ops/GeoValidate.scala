package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Geometry (ring) validation — the ingest-side ST_IsValid gate the
  * reference applies implicitly by trusting its decoders (popgis
  * `src/utils/geo.rs` builds geometries straight from file bytes; a
  * 10^12-row web-extraction pipeline cannot: rings arrive unclosed,
  * degenerate, or self-intersecting and must be classified BEFORE the
  * spatial joins that assume validity). One row-local pass per ring emits
  * a status code, the signed doubled shoelace area, and the winding.
  *
  * Status precedence (first failing check wins, fixed order so both
  * engines agree): TOO_FEW_POINTS (n < 4 incl. the closure vertex, the
  * WKB/OGC ring minimum) -> UNCLOSED (last != first) -> DUPLICATE_POINT
  * (consecutive repeat) -> ZERO_AREA (shoelace == 0, catches collinear
  * rings before the segment test can trip on their collinear overlaps) ->
  * SELF_INTERSECTION (any non-adjacent segment pair properly crossing OR
  * improperly touching) -> OK. `winding` is +1 (CCW) / -1 (CW) for OK
  * rings, else 0 — OGC treats exterior orientation as convention, not
  * validity, so a CW ring is OK with winding -1.
  *
  * Exactness: coordinates are integer lattice units, so orientation tests
  * (cross products < 2^40) and the shoelace sum are exact Long arithmetic —
  * the whole output is hash-comparable against a DuckDB replica that
  * recomputes every verdict independently (segment self-join + sign()
  * tests; it does NOT read the planted defect class).
  *
  * Scale shape: validation is pure row-local math — no join, no shuffle,
  * no UDF boxing (one kernel over one primitive Long array); at
  * 10^12 rings it rides the scan. The O(n_seg^2) segment test is the right
  * default for web-extracted rings (tens of vertices); a Bentley-Ottmann
  * sweep only pays past ~10^3 vertices per ring.
  */
object GeoValidate {

  // ---- deterministic planted-defect ring corpus (from `part` ids) ----
  // Base shape: convex hexagon around (cx, cy), scaled by s. Defect class
  // m = id % 7 plants exactly one failure mode per class (m=0 valid CCW,
  // m=6 valid CW). Every vertex is (cx + a*s + c, cy + b*s): the (a, b, c)
  // triples below are THE single source both the Spark array builder and
  // the DuckDB vertex CASE are generated from.
  private val Hex = Vector((2, 0), (1, 2), (-1, 2), (-2, 0), (-1, -2), (1, -2))
  private def hx(k: Int): (Int, Int, Int) = (Hex(k)._1, Hex(k)._2, 0)

  /** m -> vertex triples (a, b, c); x = cx + a*s + c, y = cy + b*s. */
  val ringSpec: Map[Int, Vector[(Int, Int, Int)]] = Map(
    0 -> Vector(0, 1, 2, 3, 4, 5, 0).map(hx),             // valid, CCW
    1 -> (Vector(0, 1, 2, 3, 4, 5).map(hx) :+ ((2, 0, 1))), // closure off by (1,0)
    2 -> Vector(0, 1, 0).map(hx),                          // 3 points < 4
    3 -> Vector(0, 2, 1, 3, 4, 5, 0).map(hx),              // bowtie (v1<->v2 swap)
    4 -> Vector(0, 1, 1, 2, 3, 4, 5, 0).map(hx),           // consecutive duplicate
    5 -> Vector(0, 1, 2, 3, 0).map(t => (t, 2 * t, 0)),    // collinear, zero area
    6 -> Vector(0, 5, 4, 3, 2, 1, 0).map(hx)               // valid, CW (reversed)
  )

  /** (poly_id, ring array<bigint> interleaved [x0,y0,x1,y1,...]) from the
    * `part` table — all-column math, codegen end to end. */
  def ringCorpus(part: DataFrame): DataFrame = {
    val pk = col("p_partkey")
    val m = pk % 7
    val s = (pk % 3) + 1
    val cx = (pk * 131) % 3600
    val cy = (pk * 37) % 1400
    def arr(mm: Int): Column = array(ringSpec(mm).flatMap { case (a, b, c) =>
      Seq((cx + lit(a) * s + c).cast("long"), (cy + lit(b) * s).cast("long"))
    }: _*)
    val ring = (0 to 5).foldLeft(null: Column) { (acc, mm) =>
      if (acc == null) when(m === mm, arr(mm)) else acc.when(m === mm, arr(mm))
    }.otherwise(arr(6))
    part.select(pk.as("poly_id"), ring.as("ring"))
  }

  /** (poly_id, status, area2, winding) — one native pass per ring. */
  def validate(rings: DataFrame): DataFrame = {
    val v = ringValidate(col("ring"))
    rings.select(col("poly_id"), v.as("v"))
      .select(col("poly_id"), col("v.status").as("status"),
        col("v.area2").as("area2"), col("v.winding").as("winding"))
  }

  private val VerdictType = StructType(Seq(
    StructField("status", StringType, nullable = false),
    StructField("area2", LongType, nullable = false),
    StructField("winding", LongType, nullable = false)))

  /** ring array<bigint> -> struct(status, area2, winding). */
  def ringValidate(ring: Column): Column =
    Kernel.column("ring_validate", this, "ringValidate", VerdictType)(ring -> ArrayType(LongType))

  /** Ring validator over one interleaved coordinate array [x0,y0,x1,y1,...]
    * (integer lattice units): (status, area2, winding) under the precedence
    * contract above, in one primitive-array pass. */
  def ringValidate(ring: ArrayData): InternalRow = {
    val a = ring.toLongArray()
    val n = a.length / 2
    @inline def X(i: Int): Long = a(2 * i)
    @inline def Y(i: Int): Long = a(2 * i + 1)

    // signed doubled shoelace area over consecutive pairs as stored (the
    // oracle mirrors this exactly; for unclosed rings the wrap segment is
    // deliberately NOT imputed)
    var area2 = 0L
    var j = 0
    while (j < n - 1) { area2 += X(j) * Y(j + 1) - X(j + 1) * Y(j); j += 1 }

    var hasDup = false
    j = 0
    while (j < n - 1 && !hasDup) {
      hasDup = X(j) == X(j + 1) && Y(j) == Y(j + 1); j += 1
    }

    def orient(ax: Long, ay: Long, bx: Long, by: Long, px: Long, py: Long): Long =
      java.lang.Long.signum((bx - ax) * (py - ay) - (by - ay) * (px - ax))
    def onSeg(ax: Long, ay: Long, bx: Long, by: Long, px: Long, py: Long): Boolean =
      math.min(ax, bx) <= px && px <= math.max(ax, bx) &&
        math.min(ay, by) <= py && py <= math.max(ay, by)

    def selfIntersects: Boolean = {
      val nSeg = n - 1 // closed ring: segment i runs vertex i -> i+1
      var i = 0
      while (i < nSeg) {
        var k = i + 2
        while (k < nSeg) {
          if (!(i == 0 && k == nSeg - 1)) { // those two share the closure vertex
            val d1 = orient(X(i), Y(i), X(i + 1), Y(i + 1), X(k), Y(k))
            val d2 = orient(X(i), Y(i), X(i + 1), Y(i + 1), X(k + 1), Y(k + 1))
            val d3 = orient(X(k), Y(k), X(k + 1), Y(k + 1), X(i), Y(i))
            val d4 = orient(X(k), Y(k), X(k + 1), Y(k + 1), X(i + 1), Y(i + 1))
            val proper = d1 * d2 < 0 && d3 * d4 < 0
            val touch =
              (d1 == 0 && onSeg(X(i), Y(i), X(i + 1), Y(i + 1), X(k), Y(k))) ||
              (d2 == 0 && onSeg(X(i), Y(i), X(i + 1), Y(i + 1), X(k + 1), Y(k + 1))) ||
              (d3 == 0 && onSeg(X(k), Y(k), X(k + 1), Y(k + 1), X(i), Y(i))) ||
              (d4 == 0 && onSeg(X(k), Y(k), X(k + 1), Y(k + 1), X(i + 1), Y(i + 1)))
            if (proper || touch) return true
          }
          k += 1
        }
        i += 1
      }
      false
    }

    val status: String =
      if (n < 4) "TOO_FEW_POINTS"
      else if (X(n - 1) != X(0) || Y(n - 1) != Y(0)) "UNCLOSED"
      else if (hasDup) "DUPLICATE_POINT"
      else if (area2 == 0L) "ZERO_AREA"
      else if (selfIntersects) "SELF_INTERSECTION"
      else "OK"
    val winding = if (status == "OK") { if (area2 > 0) 1L else -1L } else 0L
    new GenericInternalRow(Array[Any](UTF8String.fromString(status), area2, winding))
  }

  // ---- DuckDB replica: independent verdicts from the same vertex table ----
  private def vertSql(sel: ((Int, Int, Int)) => String): String = {
    val arms = for {
      m <- 0 to 6
      (v, j) <- ringSpec(m).zipWithIndex
    } yield s"WHEN m = $m AND j = $j THEN ${sel(v)}"
    s"CASE ${arms.mkString(" ")} END"
  }

  /** Full-query SQL over `part`: vertex CASE generated from [[ringSpec]],
    * then shoelace + closure + duplicate + proper-crossing tests in plain
    * integer SQL with the same precedence. */
  def validateSql: String = {
    val xCase = vertSql { case (a, b @ _, c) => s"cx + ($a) * s + ($c)" }
    val yCase = vertSql { case (a @ _, b, c @ _) => s"cy + ($b) * s" }
    val nCase = "CASE p_partkey % 7 WHEN 2 THEN 3 WHEN 4 THEN 8 WHEN 5 THEN 5 ELSE 7 END"
    s"""WITH rp AS (SELECT p_partkey AS id, p_partkey % 7 AS m, 1 + p_partkey % 3 AS s,
       |   (p_partkey * 131) % 3600 AS cx, (p_partkey * 37) % 1400 AS cy, $nCase AS n FROM part),
       | js AS (SELECT unnest(range(8)) AS j),
       | verts AS (SELECT id, n, j, $xCase AS x, $yCase AS y FROM rp CROSS JOIN js WHERE j < n),
       | segs AS (SELECT a.id, a.n, a.j, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
       |   FROM verts a JOIN verts b ON a.id = b.id AND b.j = a.j + 1),
       | agg AS (SELECT id, SUM(x1 * y2 - x2 * y1) AS area2,
       |   bool_or(x1 = x2 AND y1 = y2) AS has_dup FROM segs GROUP BY 1),
       | ends AS (SELECT v0.id, (v0.x = vl.x AND v0.y = vl.y) AS is_closed
       |   FROM verts v0 JOIN verts vl ON v0.id = vl.id AND vl.j = vl.n - 1 WHERE v0.j = 0),
       | xs AS (SELECT s1.id, bool_or(
       |     sign((s1.x2 - s1.x1) * (s2.y1 - s1.y1) - (s1.y2 - s1.y1) * (s2.x1 - s1.x1)) *
       |     sign((s1.x2 - s1.x1) * (s2.y2 - s1.y1) - (s1.y2 - s1.y1) * (s2.x2 - s1.x1)) < 0
       |   AND
       |     sign((s2.x2 - s2.x1) * (s1.y1 - s2.y1) - (s2.y2 - s2.y1) * (s1.x1 - s2.x1)) *
       |     sign((s2.x2 - s2.x1) * (s1.y2 - s2.y1) - (s2.y2 - s2.y1) * (s1.x2 - s2.x1)) < 0) AS has_cross
       |   FROM segs s1 JOIN segs s2 ON s1.id = s2.id AND s2.j > s1.j + 1
       |     AND NOT (s1.j = 0 AND s2.j = s1.n - 2)
       |   GROUP BY 1),
       | res AS (SELECT r.id AS poly_id,
       |   CASE WHEN r.n < 4 THEN 'TOO_FEW_POINTS'
       |        WHEN NOT e.is_closed THEN 'UNCLOSED'
       |        WHEN a.has_dup THEN 'DUPLICATE_POINT'
       |        WHEN a.area2 = 0 THEN 'ZERO_AREA'
       |        WHEN coalesce(x.has_cross, false) THEN 'SELF_INTERSECTION'
       |        ELSE 'OK' END AS status,
       |   a.area2 AS area2
       |   FROM rp r JOIN ends e ON e.id = r.id JOIN agg a ON a.id = r.id
       |   LEFT JOIN xs x ON x.id = r.id)
       | SELECT poly_id, status, CAST(area2 AS BIGINT) AS area2,
       |   CAST(CASE WHEN status = 'OK' THEN (CASE WHEN area2 > 0 THEN 1 ELSE -1 END)
       |        ELSE 0 END AS BIGINT) AS winding
       | FROM res""".stripMargin.replace("\n", " ")
  }
}
