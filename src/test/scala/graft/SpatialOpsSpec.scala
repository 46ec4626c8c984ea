package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import graft.geom.WkbCodec
import graft.index.{CellPyramid, CoverIndex}
import graft.ops.{KnnJoin, PipJoin, PoiGrid, StrPartition}
import graft.sources.Layers

class SpatialOpsSpec extends AnyFunSuite with SparkTest {

  private def deterministic(i: Int, m: Int): Double = ((i * 7919) % m).toDouble / 20.0

  test("Raster.coveredPixels == brute-force JTS diamond containment; rollups consistent") {
    import spark.implicits._
    val polys = Layers.polygons(spark, Sf).limit(40).cache()
    val covered = graft.ops.Raster.coveredPixels(polys)
      .as[(Long, Long, Long)].collect().toSet
    val layer = polys.select("poly_id", "cx", "cy", "r")
      .as[(Long, Double, Double, Double)].collect()
    var checked = 0
    for ((id, cx, cy, r) <- layer) {
      val g = WkbCodec.read(WkbCodec.write(WkbCodec.diamond(cx, cy, r)))
      val ixs = math.ceil((cx - r) * 20).toLong to math.floor((cx + r) * 20).toLong
      val iys = math.ceil((cy - r) * 20).toLong to math.floor((cy + r) * 20).toLong
      for (ix <- ixs; iy <- iys) {
        val inside = g.contains(WkbCodec.point(ix / 20.0, iy / 20.0))
        assert(covered.contains((id, ix, iy)) === inside, s"poly $id pixel ($ix,$iy)")
        checked += 1
      }
    }
    assert(checked > 1000)
    // zonal pixel counts agree with the covered set; band stats exact
    val zonal = graft.ops.Raster.zonalStats(polys)
      .as[(Long, Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    for ((id, grp) <- covered.groupBy(_._1)) {
      val (_, n, s, mn, mx) = zonal(id)
      assert(n === grp.size.toLong)
      val vals = grp.toSeq.map { case (_, ix, iy) => ix * 31L + iy * 17L }
      assert(s === vals.sum); assert(mn === vals.min); assert(mx === vals.max)
    }
    // rasterize conserves total pixel count across tiles
    val rastTotal = graft.ops.Raster.rasterize(polys, 8)
      .agg(sum("n_pixels")).head().getLong(0)
    assert(rastTotal === covered.size.toLong)
    polys.unpersist()
  }

  test("quadkey: matches the reference bit-interleave; prefix property holds") {
    import spark.implicits._
    // reference implementation straight from the Bing tile-system spec
    def ref(x: Long, y: Long, z: Int): String =
      (1 to z).map { i =>
        val mask = 1L << (z - i)
        (if ((x & mask) != 0) 1 else 0) + (if ((y & mask) != 0) 2 else 0)
      }.mkString
    val z = 8
    val tiles = (0 until 300).map { i =>
      (((i * 7919) % 256).toLong, ((i * 104729) % 256).toLong)
    } ++ Seq((0L, 0L), (255L, 255L), (0L, 255L), (255L, 0L))
    val got = tiles.toDF("tile_x", "tile_y")
      .select(col("tile_x"), col("tile_y"),
        graft.ops.TileAssign.quadkey(col("tile_x"), col("tile_y"), z).as("qk"))
      .as[(Long, Long, String)].collect()
    got.foreach { case (x, y, qk) =>
      assert(qk === ref(x, y, z), s"tile ($x, $y)")
      assert(qk.length === z)
    }
    // containment-as-prefix: the parent tile's key prefixes the child's
    val parent = graft.ops.TileAssign.quadkey(col("tile_x"), col("tile_y"), z - 1)
    val children = tiles.toDF("cx0", "cy0")
      .select((col("cx0") * 2 + 1).as("tile_x"), (col("cy0") * 2).as("tile_y"),
        graft.ops.TileAssign.quadkey(col("cx0"), col("cy0"), z - 1).as("pqk"))
      .filter(col("tile_x") < 256 && col("tile_y") < 256)
      .select(col("pqk"),
        graft.ops.TileAssign.quadkey(col("tile_x"), col("tile_y"), z).as("cqk"))
      .as[(String, String)].collect()
    assert(children.nonEmpty)
    children.foreach { case (pqk, cqk) => assert(cqk.startsWith(pqk)) }
  }

  test("focalSum == dense brute-force window sum (sparse cells, grid edges)") {
    import spark.implicits._
    val gridMax = 15L
    val cells = Seq((0L, 0L, 3L), (0L, 1L, 2L), (1L, 0L, 5L), (5L, 5L, 7L),
      (6L, 6L, 1L), (15L, 15L, 4L), (14L, 15L, 2L), (10L, 3L, 9L))
    val got = graft.ops.Raster.focalSum(
      cells.toDF("cx", "cy", "n"), radius = 1, gridMax = gridMax)
      .as[(Long, Long, Long)].collect().map { case (x, y, s) => ((x, y), s) }.toMap
    val dense = cells.map { case (x, y, n) => ((x, y), n) }.toMap
    for (fx <- 0L to gridMax; fy <- 0L to gridMax) {
      val want = (for (dx <- -1L to 1L; dy <- -1L to 1L)
        yield dense.getOrElse((fx + dx, fy + dy), 0L)).sum
      val touches = (for (dx <- -1L to 1L; dy <- -1L to 1L)
        yield dense.contains((fx + dx, fy + dy))).exists(identity)
      if (touches) assert(got((fx, fy)) === want, s"cell ($fx, $fy)")
      else assert(!got.contains((fx, fy)), s"cell ($fx, $fy) should be absent (sparse)")
    }
  }

  test("CoverIndex.containing == brute-force JTS contains") {
    val polys = (1 to 50).map { i =>
      val cx = deterministic(i, 3600) - 90.0
      val cy = deterministic(i * 3 + 1, 1600) - 40.0
      (i.toLong, WkbCodec.write(WkbCodec.diamond(cx, cy, 0.3 + (i % 5) * 0.2)))
    }
    val idx = CoverIndex.build(polys.map(_._1).toArray, polys.map(_._2).toArray, level = 6)
    val geoms = polys.map { case (id, wkb) => (id, WkbCodec.read(wkb)) }
    for (j <- 0 until 500) {
      val lon = deterministic(j + 11, 7200) - 180.0
      val lat = deterministic(j * 13 + 5, 2800) - 70.0
      val pt = WkbCodec.point(lon, lat)
      val expected = geoms.filter(_._2.contains(pt)).map(_._1).sorted
      assert(idx.containing(lon, lat).toSeq === expected, s"point ($lon,$lat)")
    }
  }

  /** The (url, ent_idx, poly_id) matches of the broadcast PIP join, after
    * checking that the salted shuffle join and the STR join give the same. */
  private def pipJoins(pts: DataFrame, polys: DataFrame): Set[(String, Int, Long)] = {
    import spark.implicits._
    val bounds = StrPartition.fitFromSample(pts, "lon", "lat", targetPartitions = 16)
    val Seq(byBroadcast, bySalt, byStr) = Seq(PipJoin.broadcastJoin(spark, pts, polys, 6),
      PipJoin.shuffleJoin(spark, pts, polys, 6), StrPartition.pipJoin(spark, pts, polys, bounds))
      .map(_.select("url", "ent_idx", "poly_id").as[(String, Int, Long)].collect().toSet)
    assert(byBroadcast === bySalt, "salted shuffle join")
    assert(byBroadcast === byStr, "STR join")
    byBroadcast
  }

  test("broadcast PIP join == salted shuffle PIP join == oracle arithmetic") {
    import spark.implicits._
    val ents = Pipeline.entities(spark, Sf)
    val polys = Layers.polygons(spark, Sf)
    val a = pipJoins(ents, polys)
    // arithmetic oracle on the diamond definition
    val pts = ents.select("url", "ent_idx", "lon", "lat").as[(String, Int, Double, Double)].collect()
    val ps = polys.select("poly_id", "cx", "cy", "r").as[(Long, Double, Double, Double)].collect()
    val expected = (for {
      (url, k, lon, lat) <- pts
      (pid, cx, cy, r) <- ps
      if math.abs(lon - cx) + math.abs(lat - cy) < r
    } yield (url, k, pid)).toSet
    assert(a === expected)
    // a layer with holes and multipolygons, probed on its vertices, edges
    // and hole boundaries: against JTS prepared contains
    val shapes = Seq(LatticeShapes.genHoles, LatticeShapes.genMulti)
      .flatMap(g => Gen.listOfN(4, g).pureApply(Gen.Parameters.default, Seed(11L)))
    val layer = shapes.zipWithIndex.map { case (g, i) => (i + 1L, g) }
    val probes = shapes.flatMap(LatticeShapes.probes).distinct.zipWithIndex
      .map { case ((x, y), i) => (s"p$i", 0, x, y) }
    val prepared = layer.map { case (id, g) => (id, PreparedGeometryFactory.prepare(g)) }
    val want = (for {
      (url, k, x, y) <- probes
      (id, g) <- prepared
      if g.contains(WkbCodec.point(x, y))
    } yield (url, k, id)).toSet
    assert(want.nonEmpty)
    assert(pipJoins(probes.toDF("url", "ent_idx", "lon", "lat"),
      layer.map { case (id, g) => (id, WkbCodec.write(g)) }.toDF("poly_id", "geom")) === want)
  }

  test("a non-polygonal row fails every PIP path with FailedValidation naming its poly_id") {
    import spark.implicits._
    val polys = Seq((1L, WkbCodec.write(WkbCodec.diamond(0.5, 0.5, 0.5))),
      (4242L, WkbCodec.write(WkbCodec.lineString(Seq((0.0, 0.0), (1.0, 1.0)))))).toDF("poly_id", "geom")
    val pts = (0 until 100).map(i => (s"p$i", 0, (i % 10) / 10.0 + 0.05, (i / 10) / 10.0 + 0.05))
      .toDF("url", "ent_idx", "lon", "lat")
    val bounds = StrPartition.fitFromSample(pts, "lon", "lat", targetPartitions = 4, fraction = 1.0)
    val pyramid = CellPyramid.build(pts, "lon", "lat", finest = 10, depth = 3)
    def pyramidCounts(limit: Long) = CellPyramid.polygonCounts(spark, pyramid, pts, "lon", "lat",
      polys, finest = 10, depth = 3, broadcastPairLimit = limit)
    for ((path, run) <- Seq[(String, () => DataFrame)](
        "broadcast" -> (() => PipJoin.broadcastJoin(spark, pts, polys, 6)),
        "salted shuffle" -> (() => PipJoin.shuffleJoin(spark, pts, polys, 6)),
        "STR" -> (() => StrPartition.pipJoin(spark, pts, polys, bounds)),
        "pyramid broadcast" -> (() => pyramidCounts(CellPyramid.BroadcastPairLimit)),
        "pyramid scale" -> (() => pyramidCounts(0)))) {
      val e = intercept[Exception](run().collect())
      val typed = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case v: GraftError.FailedValidation => v }
      assert(typed.exists(_.getMessage.contains("4242")), s"$path: $e")
    }
  }

  test("PoiGrid ring-expansion kNN == brute force, all ks, incl. k > n") {
    val n = 40
    val ids = (1 to n).map(_.toLong).toArray
    val xs = ids.map(i => deterministic(i.toInt * 17, 7200) - 180.0)
    val ys = ids.map(i => deterministic(i.toInt * 29 + 3, 2800) - 70.0)
    val grid = new PoiGrid(6, ids, xs, ys)
    for (j <- 0 until 300; k <- Seq(1, 3, 7, 50)) {
      val px = deterministic(j * 31 + 7, 7200) - 180.0
      val py = deterministic(j * 37 + 1, 2800) - 70.0
      val brute = ids.indices.map { i =>
        val dx = px - xs(i); val dy = py - ys(i)
        (dx * dx + dy * dy, ids(i))
      }.sorted.take(k).map(_._2)
      assert(grid.knn(px, py, k).toSeq === brute, s"point $j k=$k")
    }
  }

  test("geodesic PoiGrid kNN == brute-force haversine (high lat, antimeridian wrap)") {
    def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val sdLat = math.sin(math.toRadians(lat1 - lat2) / 2)
      val sdLon = math.sin(math.toRadians(lon1 - lon2) / 2)
      sdLat * sdLat +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * sdLon * sdLon
    }
    // POIs deliberately hugging the antimeridian and high latitudes, plus a
    // spread set — the cases where wrap + cos(lat) shrinkage matter
    val special = Array((-179.9, 80.0), (179.8, 80.1), (-179.5, -75.0), (179.6, -74.8),
      (0.0, 89.2), (120.0, 89.4), (-120.0, 89.1))
    val spread = (1 to 60).map(i =>
      (deterministic(i * 17, 7200) - 180.0, deterministic(i * 29 + 3, 3200) - 80.0))
    val pts = special ++ spread
    val ids = pts.indices.map(i => (i + 1).toLong).toArray
    val xs = pts.map(_._1).toArray
    val ys = pts.map(_._2).toArray
    val grid = new PoiGrid(6, ids, xs, ys, geodesic = true)
    val probes = Seq((-179.95, 79.9), (179.9, -74.9), (60.0, 89.0), (-0.05, 0.05),
      (170.0, 85.0), (-170.0, -78.0)) ++
      (0 until 100).map(j => (deterministic(j * 31 + 7, 7200) - 180.0,
        deterministic(j * 37 + 1, 3200) - 80.0))
    for ((px, py) <- probes; k <- Seq(1, 3, 8)) {
      val brute = ids.indices.map(i => (hav(py, px, ys(i), xs(i)), ids(i)))
        .sorted.take(k).map(_._2)
      assert(grid.knn(px, py, k).toSeq === brute, s"probe ($px,$py) k=$k")
    }
    // and the metric genuinely differs from planar somewhere on this data
    val planar = new PoiGrid(6, ids, xs, ys)
    val differs = probes.exists { case (px, py) =>
      planar.knn(px, py, 3).toSeq != grid.knn(px, py, 3).toSeq }
    assert(differs, "expected planar and geodesic neighbor sets to differ")
  }

  test("geodesic kNN at the pole: lat in [85, 90) x lon wrap, exact vs brute force") {
    // pins the termination bound where cos(lat) -> 0 (KnnJoin.scala lonAng
    // cross-track term): at lat 89.99 the lon-edge bound collapses toward 0
    // so rings must keep expanding in x (often wrapping the full circle)
    // before the lat-edge bound alone can justify stopping. 400 POIs + 200
    // probes, ALL poleward of 85 deg, many hugging +-180.
    def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val sdLat = math.sin(math.toRadians(lat1 - lat2) / 2)
      val sdLon = math.sin(math.toRadians(lon1 - lon2) / 2)
      sdLat * sdLat +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * sdLon * sdLon
    }
    val rnd = new scala.util.Random(1234)
    def polarLat() = 85.0 + rnd.nextDouble() * 4.999999 // [85, 90)
    def anyLon() = rnd.nextDouble() * 360.0 - 180.0
    def wrapLon() = { val d = rnd.nextDouble() * 0.4 - 0.2 // hugging +-180
      if (d < 0) -180.0 - d else 180.0 - d }
    val pts = Array.tabulate(400) { i =>
      val lon = if (i % 3 == 0) wrapLon() else anyLon()
      (lon, polarLat())
    } ++ Array((0.0, 89.9999), (180.0 - 1e-7, 89.999), (-179.999999, 89.99))
    val ids = pts.indices.map(i => (i + 1).toLong).toArray
    val xs = pts.map(_._1); val ys = pts.map(_._2)
    for (level <- Seq(4, 6, 9)) {
      val grid = new PoiGrid(level, ids, xs, ys, geodesic = true)
      val probes = (0 until 200).map { j =>
        (if (j % 2 == 0) wrapLon() else anyLon(), polarLat())
      } ++ Seq((179.9999, 89.999999), (-180.0, 89.95), (0.0, 89.999999))
      for ((px, py) <- probes; k <- Seq(1, 4, 9)) {
        val brute = ids.indices.map(i => (hav(py, px, ys(i), xs(i)), ids(i)))
          .sorted.take(k).map(_._2)
        assert(grid.knn(px, py, k).toSeq === brute,
          s"level=$level probe ($px,$py) k=$k")
      }
    }
  }

  test("broadcastKnn DataFrame op matches PoiGrid") {
    import spark.implicits._
    val ents = Pipeline.entities(spark, Sf).limit(50)
    val pois = Layers.pois(spark, Sf)
    val out = KnnJoin.broadcastKnn(spark, ents, pois, 3, 6)
      .select("url", "ent_idx", "knn_rank", "poi_id")
      .as[(String, Int, Int, Long)].collect()
    assert(out.length === 150)
    assert(out.groupBy(r => (r._1, r._2)).forall(_._2.map(_._3).sorted.sameElements(Seq(1, 2, 3))))
  }

  test("domain skew profile: hot domain gets a proportional salt, cold domains salt 1") {
    import spark.implicits._
    val urls = ((1 to 200).map(i => s"https://hot.example.com/page/$i") ++
      (1 to 30).map(i => s"https://d$i.example.com/page/$i")).toDF("url")
    val prof = graft.ops.SkewProfile.domainProfile(urls, cap = 50)
      .as[(String, Long, Long)].collect().map { case (d, n, s) => d -> ((n, s)) }.toMap
    assert(prof("hot.example.com") === ((200L, 4L))) // ceil(200/50)
    assert(prof("d1.example.com") === ((1L, 1L)))
    assert(prof.size === 31)
  }

  test("hot cells detected and salting preserves results exactly") {
    import spark.implicits._
    val ents = Pipeline.entities(spark, Sf)
    val withCell = ents.withColumn("cell", PipJoin.pointCellKey(col("lon"), col("lat"), 6))
    val hot = PipJoin.hotCellsOf(withCell, threshold = 50)
    // the synthetic urban square (lon 20..21, lat 0..1) must be hot
    val urbanCell = (graft.index.CellGrid.cellX(20.5, 6) << 32) | graft.index.CellGrid.cellY(0.5, 6)
    assert(hot.contains(urbanCell))
  }
}
