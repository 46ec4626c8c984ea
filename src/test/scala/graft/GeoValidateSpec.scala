package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.GeoValidate

class GeoValidateSpec extends AnyFunSuite with SparkTest {

  private def validateOne(pts: Seq[(Long, Long)]): (String, Long, Long) = {
    import spark.implicits._
    val flat = pts.flatMap { case (x, y) => Seq(x, y) }
    val df = Seq(Tuple1(flat)).toDF("ring")
    val v = GeoValidate.ringValidate(col("ring"))
    val r = df.select(v.as("v")).select("v.status", "v.area2", "v.winding")
      .as[(String, Long, Long)].head()
    r
  }

  test("planted defect classes map to their statuses, area/winding exact") {
    import spark.implicits._
    val part = (0L until 700L).map(Tuple1(_)).toDF("p_partkey")
    val out = GeoValidate.validate(GeoValidate.ringCorpus(part))
      .select("poly_id", "status", "area2", "winding")
      .as[(Long, String, Long, Long)].collect()
    assert(out.length == 700)
    val expected = Map(
      0 -> "OK", 1 -> "UNCLOSED", 2 -> "TOO_FEW_POINTS", 3 -> "SELF_INTERSECTION",
      4 -> "DUPLICATE_POINT", 5 -> "ZERO_AREA", 6 -> "OK")
    out.foreach { case (id, status, area2, winding) =>
      val m = (id % 7).toInt
      val s = 1 + (id % 3)
      assert(status == expected(m), s"id=$id m=$m")
      m match {
        case 0 => assert(area2 == 24 * s * s && winding == 1L, s"id=$id")
        case 6 => assert(area2 == -24 * s * s && winding == -1L, s"id=$id")
        case 3 => assert(area2 == 16 * s * s && winding == 0L, s"id=$id") // bowtie shoelace
        case 5 => assert(area2 == 0L && winding == 0L)
        case _ => assert(winding == 0L)
      }
    }
  }

  test("hand cases: square CCW/CW, vertex-on-edge touch, proper cross, unclosed") {
    // unit square CCW: doubled area 2, winding 1
    assert(validateOne(Seq((0L, 0L), (1L, 0L), (1L, 1L), (0L, 1L), (0L, 0L))) == ("OK", 2L, 1L))
    // same square CW
    assert(validateOne(Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L), (0L, 0L))) == ("OK", -2L, -1L))
    // symmetric bowtie: shoelace cancels exactly, so ZERO_AREA wins by
    // the documented precedence (zero-area check runs before the segment
    // test so collinear rings don't trip on their own overlaps)
    assert(validateOne(Seq((0L, 0L), (2L, 2L), (2L, 0L), (0L, 2L), (0L, 0L)))._1 == "ZERO_AREA")
    // asymmetric bowtie: nonzero area, proper crossing flags
    val bow = validateOne(Seq((0L, 0L), (2L, 2L), (2L, 0L), (0L, 3L), (0L, 0L)))
    assert(bow._1 == "SELF_INTERSECTION")
    // improper touch: vertex (2,1) of the dent lies ON segment (4,0)->(4,2)?
    // no — plant a spike whose tip touches a non-adjacent edge: ring
    // (0,0)->(4,0)->(4,4)->(2,0)->(0,4)->(0,0): vertex (2,0) sits on the
    // base segment (0,0)->(4,0), a non-adjacent touch (d-zero branch)
    val touch = validateOne(Seq((0L, 0L), (4L, 0L), (4L, 4L), (2L, 0L), (0L, 4L), (0L, 0L)))
    assert(touch._1 == "SELF_INTERSECTION")
    // unclosed pentagon
    assert(validateOne(Seq((0L, 0L), (4L, 0L), (4L, 4L), (0L, 4L), (1L, 0L)))._1 == "UNCLOSED")
    // consecutive duplicate
    assert(validateOne(
      Seq((0L, 0L), (4L, 0L), (4L, 0L), (4L, 4L), (0L, 4L), (0L, 0L)))._1 == "DUPLICATE_POINT")
    // collinear zero-area
    assert(validateOne(Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L), (0L, 0L)))._1 == "ZERO_AREA")
    // 3 points (closed degenerate segment)
    assert(validateOne(Seq((0L, 0L), (1L, 0L), (0L, 0L)))._1 == "TOO_FEW_POINTS")
  }

  test("adjacent segments sharing a vertex (incl. through closure) never flag") {
    // convex hexagon from the corpus spec at s=1: strictly valid
    val hex = Seq((2L, 0L), (1L, 2L), (-1L, 2L), (-2L, 0L), (-1L, -2L), (1L, -2L), (2L, 0L))
    assert(validateOne(hex) == ("OK", 24L, 1L))
    // concave but simple ring: reflex vertex, no crossing
    val concave = Seq((0L, 0L), (4L, 0L), (4L, 4L), (2L, 1L), (0L, 4L), (0L, 0L))
    assert(validateOne(concave)._1 == "OK")
  }
}
