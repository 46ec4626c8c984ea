package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.{ClipRect, WkbCodec}
import graft.ops.TileClip

class TileClipSpec extends AnyFunSuite with SparkTest {

  private def ring(pts: (Double, Double)*): Array[Double] =
    pts.flatMap(p => Seq(p._1, p._2)).toArray

  test("ClipRect goldens: identity, half cut, corner cut, disjoint") {
    val unitSq = ring((0, 0), (2, 0), (2, 2), (0, 2))
    // fully inside: identity
    assert(ClipRect.clip(unitSq, -1, -1, 3, 3).toSeq === unitSq.toSeq)
    assert(ClipRect.area2x(unitSq) === 8.0)
    // right half: x >= 1
    val half = ClipRect.clip(unitSq, 1, -1, 3, 3)
    assert(ClipRect.area2x(half) === 4.0)
    assert(half.grouped(2).map(p => (p(0), p(1))).toSet ===
      Set((1.0, 0.0), (2.0, 0.0), (2.0, 2.0), (1.0, 2.0)))
    // diamond corner cut: |x|+|y| <= 2 clipped to the first quadrant
    val diamond = ring((2, 0), (0, 2), (-2, 0), (0, -2))
    val quad = ClipRect.clip(diamond, 0, 0, 5, 5)
    assert(ClipRect.area2x(diamond) === 16.0)
    assert(math.abs(ClipRect.area2x(quad)) === 4.0) // one quarter
    // disjoint: empty
    assert(ClipRect.clip(unitSq, 10, 10, 12, 12).isEmpty)
  }

  test("x80-lattice clip is exact: intersections land on integer coordinates") {
    // diamond r=0.375 centered at a half-integer, scaled x80, clipped by a
    // lattice boundary through its interior — every output coord integer
    val d = ring((0.5 + 0.375, 0.5), (0.5, 0.875), (0.125, 0.5), (0.5, 0.125))
      .map(_ * 80.0).map(math.rint)
    val cut = ClipRect.clip(d, 40, -100, 200, 200) // x >= 40 (= 0.5 deg)
    assert(cut.nonEmpty)
    cut.foreach(c => assert(c === math.rint(c), s"non-integer coord $c"))
    val rest = ClipRect.clip(d, -100, -100, 40, 200)
    // exact partition of the doubled area
    assert(math.abs(ClipRect.area2x(cut)) + math.abs(ClipRect.area2x(rest)) ===
      math.abs(ClipRect.area2x(d)))
  }

  test("area partition on the sf polygon layer: pieces sum to 25600*r^2 exactly") {
    import spark.implicits._
    val out = SparkEntry.queries("q64_tile_clip")(spark, Sf)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (polyId, nCells, area2x) =>
      val urban = polyId % 10 == 0
      val r = if (urban) 0.1125 else 0.375 + (polyId % 3) * 0.05
      assert(area2x === math.round(25600.0 * r * r), s"poly $polyId")
      assert(nCells >= 1 && nCells <= 4, s"poly $polyId covers $nCells cells")
    }
  }

  test("clipped piece WKB: valid polygons, inside their cell, JTS-area parity") {
    import spark.implicits._
    val pieces = TileClip.clipToCells(sources.Layers.polygons(spark, Sf), SparkEntry.TileClipLevel)
      .select("poly_id", "cell_x", "cell_y", "area2x", "geom")
      .as[(Long, Long, Long, Long, Array[Byte])].collect()
    assert(pieces.nonEmpty)
    pieces.foreach { case (polyId, cx, cy, area2x, wkb) =>
      val g = WkbCodec.read(wkb)
      assert(g.isValid, s"poly $polyId cell ($cx,$cy)")
      val (bx0, by0, bx1, by1) = graft.index.CellGrid.bounds(
        graft.index.CellGrid.pack(cx, cy, SparkEntry.TileClipLevel))
      val env = g.getEnvelopeInternal
      assert(env.getMinX >= bx0 - 1e-9 && env.getMaxX <= bx1 + 1e-9)
      assert(env.getMinY >= by0 - 1e-9 && env.getMaxY <= by1 + 1e-9)
      // doubled scaled area matches the JTS area of the emitted piece
      assert(math.abs(2.0 * 6400.0 * g.getArea - area2x) < 1e-6, s"poly $polyId")
    }
  }

  test("q65 plan: cover + clip are row-local (no exchange up to the scan)") {
    val df = SparkEntry.queries("q65_tile_cells")(spark, Sf)
    val exchanges = Probes.shuffleKeys(df)
    assert(exchanges.isEmpty, s"tile clip shuffles on: $exchanges")
  }

  test("st_simplify: spike removal, identity at tol 0, deviation bound, ring closure") {
    import spark.implicits._
    import graft.geom.Simplify
    graft.ops.GraftFunctions.register(spark)
    // goldens: near-collinear middles vanish; a spike splits the chord and
    // is kept
    val flat = Array[Double](0, 0, 1, 0.01, 2, -0.01, 3, 0.005, 4, 0)
    assert(Simplify.rdp(flat, 0.1).grouped(2).map(p => (p(0), p(1))).toSeq ===
      Seq((0.0, 0.0), (4.0, 0.0)))
    val line = Array[Double](0, 0, 2, 5, 4, 0)
    val s = Simplify.rdp(line, 0.1)
    assert(s.grouped(2).map(p => (p(0), p(1))).toSeq ===
      Seq((0.0, 0.0), (2.0, 5.0), (4.0, 0.0)))
    // tol 0: identity
    assert(Simplify.rdp(line, 0.0).toSeq === line.toSeq)
    // property: every dropped vertex is within tol of the simplified line
    val rnd = new scala.util.Random(7)
    val wiggly = Array.tabulate(60)(i =>
      if (i % 2 == 0) i / 2.0 else rnd.nextDouble() * 2 - 1)
    val simp = Simplify.rdp(wiggly, 0.4)
    val simpLine = WkbCodec.lineString(simp.grouped(2).map(p => (p(0), p(1))).toSeq)
    wiggly.grouped(2).foreach { p =>
      assert(simpLine.distance(WkbCodec.point(p(0), p(1))) <= 0.4 + 1e-12)
    }
    // SQL surface: polygon rings stay closed and valid; a diamond with a
    // redundant mid-edge vertex loses it
    val noisy = WkbCodec.write(WkbCodec.polygon(
      Seq((2.0, 0.0), (1.0, 1.0), (0.0, 2.0), (-2.0, 0.0), (0.0, -2.0))))
    val got = Seq(Tuple1(noisy)).toDF("geom")
      .selectExpr("st_simplify(geom, 0.1) AS s").as[Array[Byte]].head()
    val g = WkbCodec.read(got)
    assert(g.isValid && g.getGeometryType === "Polygon")
    assert(g.getCoordinates.length === 5) // 4 distinct + closing dup
  }

  test("st_clip_bbox: topologically equal to the JTS intersection") {
    import spark.implicits._
    graft.ops.GraftFunctions.register(spark)
    val d = WkbCodec.write(WkbCodec.diamond(0.0, 0.0, 2.0))
    val got = Seq(Tuple1(d)).toDF("geom")
      .selectExpr("st_clip_bbox(geom, 0.0, -1.0, 5.0, 5.0) AS c")
      .as[Array[Byte]].head()
    val expected = WkbCodec.read(d).intersection(
      WkbCodec.polygon(Seq((0.0, -1.0), (5.0, -1.0), (5.0, 5.0), (0.0, 5.0))))
    assert(WkbCodec.read(got).equalsTopo(expected))
    // zero-area intersection -> NULL
    val nil = Seq(Tuple1(d)).toDF("geom")
      .selectExpr("st_clip_bbox(geom, 2.0, 2.0, 5.0, 5.0) AS c").head()
    assert(nil.isNullAt(0))
  }
}
