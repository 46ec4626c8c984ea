package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.PoiGrid

/** The dense cell table behind [[PoiGrid.knn]]: exact against brute force
  * at every level it allows, with POIs at the grid's edges and corners. */
class PoiGridSpec extends AnyFunSuite {

  private def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val sdLat = math.sin(math.toRadians(lat1 - lat2) / 2)
    val sdLon = math.sin(math.toRadians(lon1 - lon2) / 2)
    sdLat * sdLat +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * sdLon * sdLon
  }

  private def brute(ids: Array[Long], xs: Array[Double], ys: Array[Double], geodesic: Boolean,
                    px: Double, py: Double, k: Int): Seq[Long] =
    ids.indices.map { i =>
      val d = if (geodesic) hav(py, px, ys(i), xs(i))
              else { val dx = px - xs(i); val dy = py - ys(i); dx * dx + dy * dy }
      (d, ids(i))
    }.sorted.take(k).map(_._2)

  /** The world's corners and edge midpoints, points on the cell edges of
    * levels 1..9 (multiples of 360/512 and 180/512 degrees), and a spread. */
  private val pois: Array[(Double, Double)] = {
    val rnd = new scala.util.Random(99)
    val corners = for (x <- Seq(-180.0, 0.0, 180.0); y <- Seq(-90.0, 0.0, 90.0)) yield (x, y)
    val edges = (0 until 60).map(_ =>
      (-180.0 + rnd.nextInt(513) * (360.0 / 512), -90.0 + rnd.nextInt(513) * (180.0 / 512)))
    val spread = (0 until 80).map(_ => (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
    (corners ++ edges ++ spread).toArray
  }

  private val probes: Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(5)
    Seq((-180.0, -90.0), (180.0, 90.0), (-180.0, 90.0), (180.0, 0.0), (0.0, -90.0),
      (179.99, 45.0), (-179.99, 45.0), (360.0 / 512, 180.0 / 512)) ++
      (0 until 60).map(_ => (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
  }

  for (level <- Seq(0, 1, 4, 6, 9); geodesic <- Seq(false, true)) {
    test(s"level $level ${if (geodesic) "geodesic" else "planar"} kNN == brute force, incl. k > n") {
      val ids = pois.indices.map(i => 1000L - i).toArray // id order differs from index order
      val xs = pois.map(_._1); val ys = pois.map(_._2)
      val grid = new PoiGrid(level, ids, xs, ys, geodesic)
      for ((px, py) <- probes; k <- Seq(1, 3, 10, ids.length + 5)) {
        assert(grid.knn(px, py, k).toSeq === brute(ids, xs, ys, geodesic, px, py, k),
          s"probe ($px, $py) k=$k")
      }
    }
  }

  test("an empty layer answers nothing; k <= 0 answers nothing") {
    val empty = new PoiGrid(6, Array.empty, Array.empty, Array.empty)
    assert(empty.knn(10.0, 10.0, 3).isEmpty)
    val one = new PoiGrid(4, Array(7L), Array(180.0), Array(-90.0), geodesic = true)
    assert(one.knn(-180.0, 90.0, 3).toSeq === Seq(7L))
    assert(one.knn(0.0, 0.0, 0).isEmpty)
  }

  test("a level above the table's bound fails with FailedValidation") {
    new PoiGrid(PoiGrid.MaxLevel, Array(1L), Array(0.0), Array(0.0))
    for (level <- Seq(PoiGrid.MaxLevel + 1, 29, -1)) {
      val e = intercept[GraftError.FailedValidation](new PoiGrid(level, Array(1L), Array(0.0), Array(0.0)))
      assert(e.getMessage.contains(level.toString), e.getMessage)
    }
  }
}
