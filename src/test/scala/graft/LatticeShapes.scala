package graft

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, Polygon}
import org.scalacheck.Gen

/** Polygon shapes on the 0.05° lattice, so edges are exactly horizontal or
  * vertical, vertices repeat, and probe points land exactly on vertices,
  * edges and hole boundaries — the cases where a ray-crossing rule can
  * disagree with JTS's. */
object LatticeShapes {

  val gf = new GeometryFactory()
  val step = 0.05
  def at(k: Int): Double = k * step

  type Ring = Seq[(Int, Int)]

  def ring(r: Ring) = {
    val cs = (r :+ r.head).map { case (x, y) => new Coordinate(at(x), at(y)) }
    gf.createLinearRing(cs.toArray)
  }
  def polygon(shell: Ring, holes: Seq[Ring] = Nil): Polygon =
    gf.createPolygon(ring(shell), holes.map(ring).toArray)

  val genRect: Gen[Ring] = for {
    x0 <- Gen.choose(-60, 40); y0 <- Gen.choose(-40, 30)
    w <- Gen.choose(1, 30); h <- Gen.choose(1, 30)
  } yield Seq((x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h))

  /** Star-shaped and mostly concave: vertices at even angles around a
    * center with random radii, snapped to the lattice (which can repeat a
    * vertex or fold the ring — JTS locates points the same way on those). */
  def genStar(cx: Int, cy: Int, maxR: Int, maxM: Int): Gen[Ring] = for {
    m <- Gen.choose(3, maxM)
    radii <- Gen.listOfN(m, Gen.choose(2, maxR))
  } yield radii.zipWithIndex.map { case (r, j) =>
    val a = 2 * math.Pi * j / m
    (cx + math.round(r * math.cos(a)).toInt, cy + math.round(r * math.sin(a)).toInt)
  }

  def withRepeat(r: Ring): Gen[Ring] =
    Gen.choose(0, r.size - 1).map(i => r.patch(i, Seq(r(i)), 0))

  val genRectangle: Gen[Geometry] = genRect.map(polygon(_))

  val genConcave: Gen[Geometry] = for {
    cx <- Gen.choose(-40, 40); cy <- Gen.choose(-30, 30)
    star <- genStar(cx, cy, 30, 64) // up to 16 y-bands
    repeated <- Gen.oneOf(false, true)
    shell <- if (repeated) withRepeat(star) else Gen.const(star)
  } yield polygon(shell)

  /** A rectangle shell with one rectangular hole in each half. */
  val genHoles: Gen[Geometry] = for {
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
  val genMulti: Gen[Geometry] = for {
    cx <- Gen.choose(-40, 40); cy <- Gen.choose(-30, 30)
    star <- genStar(cx, cy, 20, 14)
    rect <- genRect
  } yield gf.createMultiPolygon(Array(
    polygon(star, Seq(Seq((cx - 1, cy - 1), (cx + 1, cy - 1), (cx + 1, cy + 1), (cx - 1, cy + 1)))),
    polygon(rect)))

  /** Every vertex, every edge midpoint, the lattice over the envelope plus
    * a margin, and points off the lattice. */
  def probes(g: Geometry): Seq[(Double, Double)] = {
    val cs = g.getCoordinates.toSeq
    val mids = cs.zip(cs.drop(1)).map { case (a, b) => ((a.x + b.x) / 2, (a.y + b.y) / 2) }
    val env = g.getEnvelopeInternal
    val (kx0, kx1) = (math.round(env.getMinX / step).toInt - 2, math.round(env.getMaxX / step).toInt + 2)
    val (ky0, ky1) = (math.round(env.getMinY / step).toInt - 2, math.round(env.getMaxY / step).toInt + 2)
    val lattice = for (kx <- kx0 to kx1; ky <- ky0 to ky1) yield (at(kx), at(ky))
    val off = lattice.take(200).map { case (x, y) => (x + step / 3, y + step / 7) }
    cs.map(c => (c.x, c.y)) ++ mids ++ lattice ++ off
  }

}
