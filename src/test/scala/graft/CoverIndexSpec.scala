package graft

import org.locationtech.jts.geom.{Coordinate, Geometry}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.geom.util.AffineTransformation
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.geom.WkbCodec
import graft.index.{CellGrid, CoverIndex}

/** The quadtree cover of [[CoverIndex]] answers every probe as brute-force
  * JTS `PreparedGeometry.contains` over the whole layer does: interior
  * leaves must hold only polygons that strictly contain every point the
  * grid formulas send there, and boundary leaves every polygon whose
  * boundary comes near. Layers mix [[LatticeShapes]] with shared edges and
  * stacks of identical polygons (more than the split threshold, so leaves
  * go down to the cover's deepest level), at several root levels and at
  * the grid's edges, where the clamp sends points from beyond the grid. */
class CoverIndexSpec extends AnyFunSuite {

  import LatticeShapes._

  private def bruteForce(ids: Array[Long], geoms: Seq[Geometry]): (Double, Double) => Seq[Long] = {
    val prepared = geoms.map(PreparedGeometryFactory.prepare)
    (x, y) => {
      val p = gf.createPoint(new Coordinate(x, y))
      ids.indices.filter(i => prepared(i).contains(p)).map(ids).sorted
    }
  }

  /** The first point where the cover and brute force disagree, if any. */
  private def mismatch(geoms: Seq[Geometry], level: Int, pts: Seq[(Double, Double)]): Option[String] = {
    // ids out of input order: the probe's merge relies on sorted ids
    val ids = geoms.indices.map(i => 5000L - 7L * i).toArray
    val index = CoverIndex.build(ids, geoms.map(WkbCodec.write).toArray, level)
    val want = bruteForce(ids, geoms)
    pts.iterator.map { case (x, y) => (x, y, index.containing(x, y).toSeq, want(x, y)) }
      .collectFirst { case (x, y, got, w) if got != w => s"level $level ($x, $y): cover $got, JTS $w" }
  }

  private val genShape: Gen[Geometry] = Gen.oneOf(genRectangle, genConcave, genHoles, genMulti)

  /** Two rectangles sharing an edge. */
  private val genSharedEdge: Gen[Seq[Geometry]] = for {
    x0 <- Gen.choose(-50, 30); y0 <- Gen.choose(-30, 20)
    w <- Gen.choose(1, 20); h <- Gen.choose(1, 20); w2 <- Gen.choose(1, 20)
  } yield Seq(polygon(Seq((x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h))),
    polygon(Seq((x0 + w, y0), (x0 + w + w2, y0), (x0 + w + w2, y0 + h), (x0 + w, y0 + h))))

  private val genLayer: Gen[(Seq[Geometry], Int, (Double, Double))] = for {
    shapes <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, genShape))
    shared <- Gen.listOfN(2, genSharedEdge)
    stacked <- genShape
    copies <- Gen.choose(2, 12)
    level <- Gen.oneOf(0, 4, 6, 10)
    shift <- Gen.oneOf((0.0, 0.0), (177.5, 87.5), (-178.0, -88.5))
  } yield (shapes ++ shared.flatten ++ Seq.fill(copies)(stacked), level, shift)

  test("the cover equals brute-force JTS contains over random layers") {
    var deep = 0
    val prop = Prop.forAll(genLayer) { case (shapes, level, (dx, dy)) =>
      val move = AffineTransformation.translationInstance(dx, dy)
      val geoms = shapes.map(move.transform)
      // every vertex and edge midpoint, and a thinned lattice with its
      // off-lattice twins, moved as the shapes were
      val pts = shapes.flatMap { g =>
        val all = probes(g)
        val n = g.getCoordinates.length
        all.take(2 * n) ++ all.drop(2 * n).zipWithIndex.collect { case (p, i) if i % 5 == 0 => p }
      }.map { case (x, y) => (x + dx, y + dy) }
      if (shapes.size - shapes.distinct.size > CoverIndex.SplitAbove) deep += 1
      mismatch(geoms, level, pts).fold(Prop.passed)(m => Prop.falsified :| m)
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(60).withInitialSeed(Seed(20261021L)), prop)
    assert(result.passed, Pretty.pretty(result))
    assert(deep >= 10, s"only $deep layers stack more polygons than the split threshold")
  }

  test("points on and one ulp either side of a deepest-level cell border") {
    val level = CoverIndex.MaxLevel
    val w = 360.0 / (1L << level)
    // cell x starts at lon w: near 0, where lon + 180 rounds away the
    // low bits, so points a little below the border land in cell x
    val x = (1L << (level - 1)) + 1
    val border = -180.0 + x * w
    assert(border === w)
    val below = Iterator.iterate(math.nextDown(border))(math.nextDown).take(4096)
      .filter(CellGrid.cellX(_, level) == x).toSeq
    assert(below.nonEmpty, "no point below the border lands in its cell")
    val far = below.last
    // an edge between such a point and the border: the cell's exact
    // rectangle misses it, so without the rounding margin the cell would
    // be interior and the point a false hit
    val edge = (far + border) / 2
    assert(far < edge && edge < border)
    def rect(x0: Double, x1: Double, y0: Double, y1: Double) =
      WkbCodec.polygon(Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1)))
    val layers = Seq(
      Seq(rect(edge, border + 40 * w, 1.0, 1.5)),
      Seq(rect(border, border + 40 * w, 1.0, 1.5), rect(border - 40 * w, border, 1.0, 1.5)),
      // stacked past the split threshold, so a level-6 cover splits to
      // the deepest level along the border too
      Seq.fill(CoverIndex.SplitAbove + 1)(rect(edge, border + 40 * w, 1.0, 1.5)))
    val xs = Seq(far, edge, math.nextDown(border), border, math.nextUp(border),
      math.nextDown(edge), math.nextUp(edge), border + w / 2)
    val pts = for (px <- xs; py <- Seq(1.0, math.nextUp(1.0), 1.25, math.nextDown(1.5), 1.5)) yield (px, py)
    for (geoms <- layers; lvl <- Seq(level, 6)) {
      val m = mismatch(geoms, lvl, pts)
      assert(m.isEmpty, m.getOrElse(""))
    }
    val index = CoverIndex.build(Array(1L), Array(WkbCodec.write(layers.head.head)), level)
    assert(index.containing(far, 1.25).isEmpty && index.containing(border + w / 2, 1.25).toSeq === Seq(1L))
  }

  test("points on polygon vertices and edges, and polygons holding whole root cells") {
    // a 100 x 60 degree square holds whole level-6 cells (5.6 degrees);
    // a diamond, a holed square and a square sharing the big one's edge
    val big = WkbCodec.polygon(Seq((-50.0, -30.0), (50.0, -30.0), (50.0, 30.0), (-50.0, 30.0)))
    val diamond = WkbCodec.diamond(10.0, 5.0, 3.0)
    val holed = polygon(Seq((-400, -200), (-200, -200), (-200, 0), (-400, 0)),
      Seq(Seq((-350, -150), (-250, -150), (-250, -50), (-350, -50))))
    val neighbour = WkbCodec.polygon(Seq((50.0, 0.0), (60.0, 0.0), (60.0, 10.0), (50.0, 10.0)))
    val geoms = Seq(big, diamond, holed, neighbour)
    val onShapes = geoms.flatMap { g =>
      val cs = g.getCoordinates.toSeq
      cs.map(c => (c.x, c.y)) ++ cs.zip(cs.drop(1)).map { case (a, b) => ((a.x + b.x) / 2, (a.y + b.y) / 2) }
    }
    val grid = for (kx <- -60 to 70 by 3; ky <- -40 to 40 by 3) yield (kx + 0.5, ky + 0.25)
    for (level <- Seq(0, 2, 6)) {
      val m = mismatch(geoms, level, onShapes ++ grid)
      assert(m.isEmpty, m.getOrElse(""))
    }
    // a probe inside a cell the big square contains makes no refine: its
    // hit needs no candidate, so hits per candidate can exceed 1
    val index = CoverIndex.build(Array(7L), Array(WkbCodec.write(big)), 6)
    assert(index.containing(-20.0, -10.0).toSeq === Seq(7L))
    assert(index.candidateCount(-20.0, -10.0) === 0)
    assert(index.candidateCount(49.9, 0.0) === 1)
    // 20 nested squares: the level-6 root holds 20 boundary polygons, so
    // the cover splits until the point's leaf refines at most 8
    val nested = (1 to 20).map(i => polygon(Seq((-i, -i), (i, -i), (i, i), (-i, i))))
    val deep = CoverIndex.build(nested.indices.map(_.toLong).toArray, nested.map(WkbCodec.write).toArray, 6)
    assert(deep.containing(at(1) / 2, at(1) / 3).length === 20)
    assert(deep.candidateCount(at(1) / 2, at(1) / 3) <= CoverIndex.SplitAbove)
  }
}
