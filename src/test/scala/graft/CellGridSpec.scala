package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import graft.index.{CellGrid, Tiles}
import graft.ops.TileAssign

/** Property-style tests with a seeded generator (scalatestplus bridge is
  * not on the offline classpath, so sampling is hand-rolled). */
class CellGridSpec extends AnyFunSuite with SparkTest {

  private val rnd = new scala.util.Random(42)
  private def lon() = rnd.nextDouble() * 360.0 - 180.0
  private def lat() = rnd.nextDouble() * 180.0 - 90.0
  private def level() = 1 + rnd.nextInt(20)
  private val N = 500

  test("pack/unpack round-trip") {
    for (_ <- 0 until N) {
      val l = level()
      val x = math.abs(rnd.nextLong()) % (1L << l)
      val y = math.abs(rnd.nextLong()) % (1L << l)
      val id = CellGrid.pack(x, y, l)
      assert(CellGrid.unpackLevel(id) === l)
      assert(CellGrid.unpackX(id) === x)
      assert(CellGrid.unpackY(id) === y)
    }
  }

  test("parent-child containment: cellId at level l-1 == parent of cellId at l") {
    for (_ <- 0 until N) {
      val (lo, la, l) = (lon(), lat(), level())
      val child = CellGrid.cellId(lo, la, l)
      assert(CellGrid.parent(child) === CellGrid.cellId(lo, la, l - 1))
    }
  }

  test("children of parent include the child; siblings are distinct") {
    for (_ <- 0 until N) {
      val (lo, la, l) = (lon(), lat(), level())
      val child = CellGrid.cellId(lo, la, l)
      val kids = CellGrid.children(CellGrid.parent(child))
      assert(kids.contains(child))
      assert(kids.distinct.length === 4)
    }
  }

  test("bounds contain the generating point; width halves per level") {
    for (_ <- 0 until N) {
      val (lo, la, l) = (lon(), lat(), level())
      val (x0, y0, x1, y1) = CellGrid.bounds(CellGrid.cellId(lo, la, l))
      assert(lo >= x0 - 1e-9 && lo < x1 + 1e-9)
      assert(la >= y0 - 1e-9 && la < y1 + 1e-9)
      assert(math.abs((x1 - x0) * (1L << l) - 360.0) < 1e-6)
    }
  }

  test("morton round-trip and quad ordering") {
    for (_ <- 0 until N) {
      val x = math.abs(rnd.nextLong()) % (1L << 29)
      val y = math.abs(rnd.nextLong()) % (1L << 29)
      assert(CellGrid.unmorton(CellGrid.morton(x, y)) === ((x, y)))
    }
    assert(CellGrid.morton(0, 0) === 0L)
    assert(CellGrid.morton(1, 0) === 1L)
    assert(CellGrid.morton(0, 1) === 2L)
    assert(CellGrid.morton(1, 1) === 3L)
  }

  test("coverBBox covers the generating cell") {
    for (_ <- 0 until N) {
      val (lo, la) = (lon() min 179.9, lat() min 89.9)
      val l = 1 + rnd.nextInt(10)
      val cells = CellGrid.coverBBox(lo, la, lo + 0.001, la + 0.001, l)
      assert(cells.contains((CellGrid.cellX(lo, l), CellGrid.cellY(la, l))))
    }
  }

  test("tile golden values and bounds containment") {
    assert(Tiles.tile(0.0, 0.0, 0) === ((0L, 0L)))
    // OSM wiki example: lat 41.85, lon -87.65 @ z13 -> (2101, 3045)
    assert(Tiles.tile(-87.65, 41.85, 13) === ((2101L, 3045L)))
    for (_ <- 0 until N) {
      val lo = lon(); val la = rnd.nextDouble() * 169.8 - 84.9; val z = rnd.nextInt(17)
      val (tx, ty) = Tiles.tile(lo, la, z)
      val (x0, y0, x1, y1) = Tiles.bounds(z, tx, ty)
      assert(lo >= x0 - 1e-9 && lo <= x1 + 1e-9, s"($lo,$la,$z)")
      assert(la >= y0 - 1e-9 && la <= y1 + 1e-9, s"($lo,$la,$z)")
    }
  }

  test("Column cellX/cellY and TileAssign tile x/y equal the scalar forms") {
    import spark.implicits._
    val lons = Seq(-200.0, -180.0, -0.0, 0.0, math.nextDown(180.0), 180.0, 200.0)
    val lats = Seq(-100.0, -90.0, 0.0, math.nextDown(90.0), 90.0, 100.0)
    val tileLats = Seq(-89.9, -85.0511, 0.0, 85.0511, 89.9)
    val levels = Seq(0, 1, 6, 8, 10, 15, 29, 30) // 30: a 12-char geohash axis
    val zooms = Seq(0, 8, 13)
    // (Column form, scalar form, the inputs it is checked on)
    val forms: Seq[(Column, Double => Long, Seq[Double])] =
      levels.flatMap(l => Seq((CellGrid.cellX(col("v"), l), CellGrid.cellX(_: Double, l), lons),
        (CellGrid.cellY(col("v"), l), CellGrid.cellY(_: Double, l), lats))) ++
      zooms.flatMap(z => Seq((TileAssign.tileX(col("v"), z), Tiles.tileX(_: Double, z), lons),
        (TileAssign.tileY(col("v"), z), Tiles.tileY(_: Double, z), tileLats)))
    val rows = (lons ++ lats ++ tileLats).toDF("v").select(col("v") +: forms.map(_._1): _*).collect()
    for (r <- rows; ((_, scalar, inputs), i) <- forms.zipWithIndex; v = r.getDouble(0) if inputs.contains(v))
      assert(r.getLong(i + 1) === scalar(v), s"v=$v form $i")
  }

  test("tile y past Web Mercator's latitude limit is the edge row in both forms") {
    import spark.implicits._
    val lats = Seq(200.0, 90.0, -90.0, -200.0)
    val zooms = Seq(0, 8, 20)
    val rows = lats.toDF("lat").select(col("lat") +: zooms.map(z => TileAssign.tileY(col("lat"), z)): _*)
      .collect()
    for (r <- rows; (z, i) <- zooms.zipWithIndex) {
      val lat = r.getDouble(0)
      val want = if (lat > 0) 0L else (1L << z) - 1
      assert(Tiles.tileY(lat, z) === want, s"scalar lat=$lat z=$z")
      assert(r.getLong(i + 1) === want, s"Column lat=$lat z=$z")
    }
  }

  test("a NULL coordinate gets a NULL cell, tile and cell key, not the last cell") {
    import spark.implicits._
    val df = Seq[(Option[Double], Option[Double])]((None, None), (None, Some(0.5)), (Some(20.5), None))
      .toDF("lon", "lat")
    val r = df.select(CellGrid.cellX(col("lon"), 6), CellGrid.cellY(col("lat"), 6),
      TileAssign.tileY(col("lat"), 8), graft.ops.PipJoin.pointCellKey(col("lon"), col("lat"), 6)).collect()
    assert(r(0).toSeq === Seq(null, null, null, null))
    assert(r(1).isNullAt(0) && r(1).getLong(1) === CellGrid.cellY(0.5, 6) && r(1).isNullAt(3))
    assert(r(2).getLong(0) === CellGrid.cellX(20.5, 6) && r(2).isNullAt(1) && r(2).isNullAt(2))
    assert(r(2).isNullAt(3))
  }
}
