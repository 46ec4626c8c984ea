package graft

import org.locationtech.jts.geom.{Coordinate, Geometry}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.geom.WkbCodec
import graft.index.CoverIndex

/** Parity of the flat ray-crossing refine ([[CoverIndex.Rings]]) with JTS
  * `PreparedGeometry.contains`, which it replaces on the PIP probe paths
  * and in `st_contains` of a polygon and a point, and, for valid
  * geometries, with the unprepared `Geometry.contains`, that function's
  * old answer (on a self-crossing ring or overlapping components the two
  * JTS answers differ, or the unprepared one throws). JTS's two answers
  * also differ on some points within rounding distance of an edge (its
  * unprepared ring scan runs each segment backwards, and the double-double
  * orientation is not exactly antisymmetric), and there the kernel gives
  * the prepared answer. Shapes are [[LatticeShapes]]. */
class PipKernelSpec extends AnyFunSuite {

  import LatticeShapes._

  /** The first probe point where the kernel and JTS disagree, if any. */
  private def mismatch(g: Geometry): Option[String] = {
    val rings = CoverIndex.Rings(Array(1L), Array(g))
    val prepared = PreparedGeometryFactory.prepare(g)
    val valid = g.isValid
    probes(g).iterator.map { case (x, y) =>
      val p = gf.createPoint(new Coordinate(x, y))
      val got = rings.contains(0, x, y)
      (x, y, got, prepared.contains(p),
        !valid || got == g.contains(p) || g.getBoundary.distance(p) < 1e-12)
    }.collectFirst {
      case (x, y, got, prep, plainAgrees) if got != prep || !plainAgrees =>
        s"($x, $y) in $g: kernel $got, prepared $prep, unprepared agrees $plainAgrees"
    }
  }

  private def check(gen: Gen[Geometry]): Unit = {
    var valid = 0
    val prop = Prop.forAll(gen) { g =>
      if (g.isValid) valid += 1
      mismatch(g).fold(Prop.passed)(m => Prop.falsified :| m)
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(150).withInitialSeed(Seed(20261020L)), prop)
    assert(result.passed, Pretty.pretty(result))
    assert(valid >= 20, s"only $valid valid samples compared with unprepared contains")
  }

  test("axis-aligned rectangles (JTS's RectangleContains path) match JTS contains") {
    assert((0L until 20L).forall(i => genRectangle.pureApply(Gen.Parameters.default, Seed(i)).isRectangle))
    check(genRectangle)
  }

  test("concave rings, with and without repeated vertices, match JTS contains") {
    check(genConcave)
  }

  test("polygons with holes match JTS contains, on hole boundaries too") {
    check(genHoles)
  }

  test("multipolygons match JTS contains") {
    check(genMulti)
  }

  test("an empty polygon contains nothing, alone or as a component") {
    val empty = gf.createPolygon()
    assert(!CoverIndex.Rings(Array(1L), Array[Geometry](empty)).contains(0, 0.0, 0.0))
    val multi = gf.createMultiPolygon(Array(empty, polygon(Seq((0, 0), (40, 0), (40, 40), (0, 40)))))
    assert(mismatch(multi).isEmpty)
    assert(CoverIndex.build(Array(1L, 2L), Array(empty, multi).map(WkbCodec.write), 6)
      .containing(1.0, 1.0).toSeq === Seq(2L))
  }

  test("CoverIndex.containing equals brute-force JTS contains over a layer, dense cells too") {
    val shapes = Gen.listOfN(60, Gen.oneOf(genRectangle, genConcave, genHoles, genMulti))
      .pureApply(Gen.Parameters.default, Seed(7L))
    // 20 rectangles over one point: a root cell with more boundary
    // polygons than the cover's split threshold
    val stacked = (1 to 20).map(i => polygon(Seq((-i, -i), (i, -i), (i, i), (-i, i))))
    val geoms = (shapes ++ stacked).toArray
    val ids = geoms.indices.map(i => 100L + i).toArray
    val index = CoverIndex.build(ids, geoms.map(WkbCodec.write), level = 6)
    val prepared = geoms.map(PreparedGeometryFactory.prepare)
    val pts = (for (kx <- -1300 to 1000 by 13; ky <- -900 to 700 by 9) yield (at(kx), at(ky))) ++
      geoms.toSeq.flatMap(_.getCoordinates.toSeq.map(c => (c.x, c.y)))
    for ((x, y) <- pts) {
      val p = gf.createPoint(new Coordinate(x, y))
      val want = ids.indices.filter(i => prepared(i).contains(p)).map(ids).sorted
      assert(index.containing(x, y).toSeq === want, s"point ($x, $y)")
    }
    assert(index.containing(at(1) / 2, at(1) / 3).length >= 20, "the dense cell is not probed")
  }

  test("the shuffle refine's cache tells apart same-length, hash-colliding WKBs under one poly_id") {
    val a = WkbCodec.write(WkbCodec.polygon(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))))
    // raising one byte by 1 and lowering the next by 31 keeps
    // Arrays.hashCode: in the little-endian bytes of vertex 2's x (10.0
    // at offset 45) the exponent drops by 2, so the shell's third vertex
    // moves from (10, 10) to (2.6254..., 10)
    val b = a.clone()
    b(50) = (b(50) + 1).toByte
    b(51) = (b(51) - 31).toByte
    assert(java.util.Arrays.hashCode(a) === java.util.Arrays.hashCode(b) && a.length === b.length)
    assert(WkbCodec.read(b).getCoordinates()(2).x === 2.62548828125)
    for (_ <- 1 to 3) {
      assert(graft.ops.GeoExpressions.polygonContains(7L, a, 8.0, 8.0))
      assert(!graft.ops.GeoExpressions.polygonContains(7L, b, 8.0, 8.0))
    }
  }

  test("a geometry that is not a Polygon or MultiPolygon fails the build with its poly_id") {
    val bad = Seq[Geometry](gf.createPoint(new Coordinate(1, 2)),
      gf.createLineString(Array(new Coordinate(0, 0), new Coordinate(1, 1))),
      gf.createGeometryCollection(Array[Geometry](polygon(Seq((0, 0), (4, 0), (4, 4))))))
    for (g <- bad) {
      val wkbs = Array(WkbCodec.write(polygon(Seq((0, 0), (4, 0), (4, 4)))), WkbCodec.write(g))
      val e = intercept[GraftError.FailedValidation](CoverIndex.build(Array(1L, 4242L), wkbs, 6))
      assert(e.getMessage.contains("4242") && e.getMessage.contains(g.getGeometryType), e.getMessage)
      intercept[GraftError.FailedValidation](CoverIndex.Rings(Array(4242L), Array(g)))
    }
  }
}
