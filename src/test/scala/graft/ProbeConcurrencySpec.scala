package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.WkbCodec
import graft.index.CoverIndex
import graft.ops.PoiGrid

/** An executor's task threads share one deserialized [[CoverIndex]] and one
  * [[PoiGrid]] and race to build their lazy probe structures (the ring
  * arrays and the quadtree cover, the cell table). Four threads probing a
  * cold pair at once must answer exactly what one thread does. */
class ProbeConcurrencySpec extends AnyFunSuite {

  private val threads = 4

  private def roundTrip[T](x: T): T = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(x); out.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[T]
  }

  test("4 threads on one cold CoverIndex and PoiGrid answer as one thread does") {
    val rnd = new scala.util.Random(11)
    // diamonds, many stacked near (20, 10) so the cover splits deep there
    val polys = (0 until 300).map { i =>
      val (cx, cy) = if (i % 3 == 0) (20.0 + rnd.nextDouble(), 10.0 + rnd.nextDouble())
                     else (rnd.nextDouble() * 300 - 150, rnd.nextDouble() * 120 - 60)
      WkbCodec.write(WkbCodec.diamond(cx, cy, 0.2 + rnd.nextDouble() * 2))
    }.toArray
    val polyIds = polys.indices.map(_.toLong + 1).toArray
    val poiIds = (1 to 500).map(_.toLong).toArray
    val xs = poiIds.map(_ => rnd.nextDouble() * 360 - 180)
    val ys = poiIds.map(_ => rnd.nextDouble() * 180 - 90)
    val pts = Array.tabulate(4000) { j =>
      if (j % 2 == 0) (20.0 + rnd.nextDouble() * 1.5, 10.0 + rnd.nextDouble() * 1.5)
      else (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 140 - 70)
    }
    val index = CoverIndex.build(polyIds, polys, level = 6)
    def answers(cover: CoverIndex, grid: PoiGrid): Seq[(Seq[Long], Seq[Long])] =
      pts.toSeq.map { case (x, y) => (cover.containing(x, y).toSeq, grid.knn(x, y, 3).toSeq) }
    val want = answers(index, new PoiGrid(6, poiIds, xs, ys))
    assert(want.count(_._1.nonEmpty) > 500, "vacuous fixture")

    val pool = Executors.newFixedThreadPool(threads)
    try {
      for (round <- 0 until 5) {
        // a deserialized copy: every transient lazy structure is unbuilt
        val cover = roundTrip(index)
        val grid = roundTrip(new PoiGrid(6, poiIds, xs, ys, geodesic = round % 2 == 1))
        val single = if (round % 2 == 1) answers(index, roundTrip(grid)) else want
        val barrier = new CyclicBarrier(threads)
        val futures = (0 until threads).map { _ =>
          pool.submit(() => { barrier.await(); answers(cover, grid) })
        }
        futures.zipWithIndex.foreach { case (f, t) =>
          assert(f.get(120, TimeUnit.SECONDS) === single, s"round $round thread $t")
        }
      }
    } finally pool.shutdownNow()
  }
}
