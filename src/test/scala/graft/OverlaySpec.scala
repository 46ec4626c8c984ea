package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.OverlayJoin
import graft.geom.WkbCodec

class OverlaySpec extends AnyFunSuite with SparkTest {

  /** Deterministic diamond layers (same shape as Layers.polygons/B). */
  private def diamonds(n: Int, seed: Long, rBase: Double) = {
    import spark.implicits._
    val mk = udf((cx: Double, cy: Double, r: Double) =>
      WkbCodec.write(WkbCodec.diamond(cx, cy, r)))
    (1 to n).map { i =>
      val cx = ((i * seed) % 80).toDouble - 39.5
      val cy = ((i * (seed + 12)) % 60).toDouble - 29.5
      (i.toLong, cx, cy, rBase + (i % 3) * 0.05)
    }.toDF("id", "cx", "cy", "r").withColumn("geom", mk($"cx", $"cy", $"r"))
  }

  test("overlay intersects join == brute-force JTS cross join, each pair exactly once") {
    // one partition per side, fewer than the session's cores
    val a = diamonds(120, 13L, 0.8).coalesce(1)
    val b = diamonds(90, 29L, 0.7).coalesce(1)
    for (level <- Seq(4, 6, 8)) {
      val joined = OverlayJoin.intersectsJoin(a, "id", b, "id", level)
      // each side's envelope + cover runs in its input's own partition:
      // the cell join is the only thing that may shuffle
      val keys = Probes.shuffleKeys(joined)
      assert(keys.flatten.forall(Set("a_cell", "b_cell")), s"level=$level shuffles on: $keys")
      val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // no pair emitted twice (reporting-cell dedup)
      assert(got.size === got.distinct.size, s"level=$level dup pairs")
      val arows = a.select("id", "geom").collect()
        .map(r => (r.getLong(0), WkbCodec.read(r.getAs[Array[Byte]](1))))
      val brows = b.select("id", "geom").collect()
        .map(r => (r.getLong(0), WkbCodec.read(r.getAs[Array[Byte]](1))))
      val want = for {
        (ai, ag) <- arows; (bi, bg) <- brows if ag.intersects(bg)
      } yield (ai, bi)
      assert(got.sorted === want.sorted.toSeq, s"level=$level")
      assert(want.nonEmpty) // non-vacuous
    }
  }

  test("overlay join matches the closed-form L1 diamond test on Layers polygons") {
    // sf0.01: sparse layers at sf0.001 yield zero intersecting pairs (vacuous)
    val sfDir = "/root/testdata/sf0.01"
    val a = graft.sources.Layers.polygons(spark, sfDir)
    val b = graft.sources.Layers.polygonsB(spark, sfDir)
    val got = OverlayJoin.intersectsJoin(a, "poly_id", b, "polyb_id", level = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val arows = a.select("poly_id", "cx", "cy", "r").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val brows = b.select("polyb_id", "cx", "cy", "r").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val want = (for {
      (ai, ax, ay, ar) <- arows
      (bi, bx, by, br) <- brows
      if math.abs(ax - bx) + math.abs(ay - by) <= ar + br
    } yield (ai, bi)).sorted.toSeq
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("intersectionArea: integer forms == 80x Layers doubles; ia == closed form; exactly once") {
    val sfDir = "/root/testdata/sf0.01"
    val a = graft.sources.Layers.polygons(spark, sfDir)
      .select("poly_id", "cx", "cy", "r").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val b = graft.sources.Layers.polygonsB(spark, sfDir)
      .select("polyb_id", "cx", "cy", "r").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // closed-form expected areas from the double lattice (u-v rectangle
    // overlap x 80, rounded — the true values are exact integers)
    def i80(v: Double): Long = math.round(v * 80)
    val want = (for {
      (ai, ax, ay, ar) <- a
      (bi, bx, by, br) <- b
      ou = math.min(i80(ax + ay + ar), i80(bx + by + br)) -
        math.max(i80(ax + ay - ar), i80(bx + by - br))
      ov = math.min(i80(ax - ay + ar), i80(bx - by + br)) -
        math.max(i80(ax - ay - ar), i80(bx - by - br))
      if ou > 0 && ov > 0
    } yield ((ai, bi), ou * ov)).toMap
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val rows = OverlayJoin.intersectionArea(part, cust)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(rows.length == rows.map(_._1).distinct.length, "pair emitted twice")
    assert(rows.toMap == want)
    assert(want.nonEmpty)
    // JTS ground truth on a sample: geometric intersection area x 12800 == ia
    val aG = a.map { case (id, cx, cy, r) => id -> WkbCodec.diamond(cx, cy, r) }.toMap
    val bG = b.map { case (id, cx, cy, r) => id -> WkbCodec.diamond(cx, cy, r) }.toMap
    rows.take(40).foreach { case ((ai, bi), ia) =>
      val jts = aG(ai).intersection(bG(bi)).getArea
      assert(math.abs(jts * 12800.0 - ia) < 1e-4, s"pair ($ai,$bi)")
    }
  }
}
