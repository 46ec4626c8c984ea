package graft

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, Polygon}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.geom.WkbCodec
import graft.index.CoverIndex

/** Parity of the flat ray-crossing refine ([[CoverIndex.Rings]]) with JTS
  * `PreparedGeometry.contains`, which it replaces on the PIP probe path.
  * Shapes live on the 0.05° lattice, so edges are exactly horizontal or
  * vertical, vertices repeat, and probe points land exactly on vertices,
  * edges and hole boundaries — the cases where a ray-crossing rule can
  * disagree with JTS's. */
class PipKernelSpec extends AnyFunSuite {

  private val gf = new GeometryFactory()
  private val step = 0.05
  private def at(k: Int): Double = k * step

  private type Ring = Seq[(Int, Int)]

  private def ring(r: Ring) = {
    val cs = (r :+ r.head).map { case (x, y) => new Coordinate(at(x), at(y)) }
    gf.createLinearRing(cs.toArray)
  }
  private def polygon(shell: Ring, holes: Seq[Ring] = Nil): Polygon =
    gf.createPolygon(ring(shell), holes.map(ring).toArray)

  private val genRect: Gen[Ring] = for {
    x0 <- Gen.choose(-60, 40); y0 <- Gen.choose(-40, 30)
    w <- Gen.choose(1, 30); h <- Gen.choose(1, 30)
  } yield Seq((x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h))

  /** Star-shaped and mostly concave: vertices at even angles around a
    * center with random radii, snapped to the lattice (which can repeat a
    * vertex or fold the ring — JTS locates points the same way on those). */
  private def genStar(cx: Int, cy: Int, maxR: Int, maxM: Int): Gen[Ring] = for {
    m <- Gen.choose(3, maxM)
    radii <- Gen.listOfN(m, Gen.choose(2, maxR))
  } yield radii.zipWithIndex.map { case (r, j) =>
    val a = 2 * math.Pi * j / m
    (cx + math.round(r * math.cos(a)).toInt, cy + math.round(r * math.sin(a)).toInt)
  }

  private def withRepeat(r: Ring): Gen[Ring] =
    Gen.choose(0, r.size - 1).map(i => r.patch(i, Seq(r(i)), 0))

  private val genRectangle: Gen[Geometry] = genRect.map(polygon(_))

  private val genConcave: Gen[Geometry] = for {
    cx <- Gen.choose(-40, 40); cy <- Gen.choose(-30, 30)
    star <- genStar(cx, cy, 30, 64) // up to 16 y-bands
    repeated <- Gen.oneOf(false, true)
    shell <- if (repeated) withRepeat(star) else Gen.const(star)
  } yield polygon(shell)

  /** A rectangle shell with one rectangular hole in each half. */
  private val genHoles: Gen[Geometry] = for {
    x0 <- Gen.choose(-60, 20); y0 <- Gen.choose(-40, 10)
    w <- Gen.choose(8, 40); h <- Gen.choose(6, 30)
    hw <- Gen.choose(1, w / 2 - 2); hh <- Gen.choose(1, h - 3)
    hx <- Gen.choose(1, w / 2 - 1 - hw); hy <- Gen.choose(1, h - 1 - hh)
  } yield {
    def hole(x: Int) = Seq((x, y0 + hy), (x + hw, y0 + hy), (x + hw, y0 + hy + hh), (x, y0 + hy + hh))
    polygon(Seq((x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)),
      Seq(hole(x0 + hx), hole(x0 + w / 2 + hx)))
  }

  /** Two components (they may overlap) — one with a hole around its center. */
  private val genMulti: Gen[Geometry] = for {
    cx <- Gen.choose(-40, 40); cy <- Gen.choose(-30, 30)
    star <- genStar(cx, cy, 20, 14)
    rect <- genRect
  } yield gf.createMultiPolygon(Array(
    polygon(star, Seq(Seq((cx - 1, cy - 1), (cx + 1, cy - 1), (cx + 1, cy + 1), (cx - 1, cy + 1)))),
    polygon(rect)))

  /** Every vertex, every edge midpoint, the lattice over the envelope plus
    * a margin, and points off the lattice. */
  private def probes(g: Geometry): Seq[(Double, Double)] = {
    val cs = g.getCoordinates.toSeq
    val mids = cs.zip(cs.drop(1)).map { case (a, b) => ((a.x + b.x) / 2, (a.y + b.y) / 2) }
    val env = g.getEnvelopeInternal
    val (kx0, kx1) = (math.round(env.getMinX / step).toInt - 2, math.round(env.getMaxX / step).toInt + 2)
    val (ky0, ky1) = (math.round(env.getMinY / step).toInt - 2, math.round(env.getMaxY / step).toInt + 2)
    val lattice = for (kx <- kx0 to kx1; ky <- ky0 to ky1) yield (at(kx), at(ky))
    val off = lattice.take(200).map { case (x, y) => (x + step / 3, y + step / 7) }
    cs.map(c => (c.x, c.y)) ++ mids ++ lattice ++ off
  }

  /** The first probe point where the kernel and JTS disagree, if any. */
  private def mismatch(g: Geometry): Option[String] = {
    val rings = CoverIndex.Rings(Array(1L), Array(g))
    val prepared = PreparedGeometryFactory.prepare(g)
    probes(g).collectFirst {
      case (x, y) if rings.contains(0, x, y) != prepared.contains(gf.createPoint(new Coordinate(x, y))) =>
        s"($x, $y) in $g: kernel ${rings.contains(0, x, y)}"
    }
  }

  private def check(gen: Gen[Geometry]): Unit = {
    val prop = Prop.forAll(gen) { g => mismatch(g).fold(Prop.passed)(m => Prop.falsified :| m) }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(150).withInitialSeed(Seed(20261020L)), prop)
    assert(result.passed, Pretty.pretty(result))
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
    // 20 rectangles over one point: a cell with more candidates than the
    // dense threshold, which probes through its STRtree
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
