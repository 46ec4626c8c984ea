package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{PipJoin, StrPartition}
import graft.sources.Layers

class StrPartitionSpec extends AnyFunSuite with SparkTest {

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  test("fit balances a heavily skewed sample; grid does not") {
    // 90% of points in a 0.5x0.5 hot box, 10% uniform over [0,100)^2
    val r = lcg(7).map(l => ((l >>> 11).toDouble / (1L << 53).toDouble))
    val n = 20000
    val pts = Array.tabulate(n) { _ =>
      val (a, b, c) = (r.next(), r.next(), r.next())
      if (a < 0.9) (10.0 + b * 0.5, 10.0 + c * 0.5) else (b * 100.0, c * 100.0)
    }
    val p = 16
    val bounds = StrPartition.fit(pts.map(_._1), pts.map(_._2), p)
    assert(bounds.numPartitions >= p)
    val counts = pts.groupBy { case (x, y) => bounds.partitionOf(x, y) }
      .map(_._2.length)
    val ideal = n.toDouble / bounds.numPartitions
    // equal-count cuts: no partition beyond ~2x ideal even with 90% of
    // mass in a box covering 0.0025% of the area
    assert(counts.max <= 2.5 * ideal,
      s"max ${counts.max} vs ideal $ideal")
    // the fixed grid at a comparable resolution (4x4 over the extent)
    // concentrates ~90% in one cell — the skew STR removes by construction
    val gridMax = pts.groupBy { case (x, y) =>
      (math.min(3, (x / 25).toInt), math.min(3, (y / 25).toInt))
    }.map(_._2.length).max
    assert(gridMax > 0.85 * n)
  }

  test("point in closed envelope => its partition is in overlapping(envelope)") {
    val r = lcg(99).map(l => ((l >>> 11).toDouble / (1L << 53).toDouble))
    // sample with duplicate coordinates to exercise collapsed cuts
    val sample = Array.tabulate(5000) { _ =>
      (math.floor(r.next() * 40) / 2.0, math.floor(r.next() * 40) / 2.0)
    }
    val bounds = StrPartition.fit(sample.map(_._1), sample.map(_._2), 13)
    for (_ <- 1 to 2000) {
      val (x0, x1) = { val a = r.next() * 20; val b = r.next() * 20
        (math.min(a, b), math.max(a, b)) }
      val (y0, y1) = { val a = r.next() * 20; val b = r.next() * 20
        (math.min(a, b), math.max(a, b)) }
      val parts = bounds.overlapping(x0, y0, x1, y1).toSet
      // interior, boundary, and corner points all land inside the cover
      val probes = Seq(
        (x0, y0), (x1, y1), (x0, y1), (x1, y0),
        (x0 + (x1 - x0) * r.next(), y0 + (y1 - y0) * r.next()))
      for ((px, py) <- probes)
        assert(parts.contains(bounds.partitionOf(px, py)),
          s"point ($px,$py) of envelope [$x0,$x1]x[$y0,$y1] outside cover $parts")
    }
  }

  test("pipJoin output == broadcastJoin output for any fitted bounds") {
    val ents = Pipeline.entities(spark, Sf)
      .select(col("url"), col("ent_idx"), col("lon"), col("lat")).cache()
    val polys = Layers.polygons(spark, Sf)
    val expected = PipJoin.broadcastJoin(spark, ents, polys, Pipeline.CellLevel)
      .select("url", "ent_idx", "poly_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    // two different fits (coarse and fine) must both reproduce it exactly
    for (p <- Seq(4, 32)) {
      val bounds = StrPartition.fitFromSample(ents, "lon", "lat", p, fraction = 0.2)
      val got = StrPartition.pipJoin(spark, ents, polys, bounds)
        .select("url", "ent_idx", "poly_id").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(got === expected, s"p=$p")
    }
    assert(expected.nonEmpty)
    ents.unpersist()
  }

  test("pipJoin plan: shuffle-hash join on _part, native partition expr, no point-side ScalaUDF") {
    val ents = Pipeline.entities(spark, Sf)
      .select(col("url"), col("ent_idx"), col("lon"), col("lat"))
    val bounds = StrPartition.fitFromSample(ents, "lon", "lat", 8, fraction = 0.2)
    val df = StrPartition.pipJoin(spark, ents, Layers.polygons(spark, Sf), bounds)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(800))
    // the partition id is the partitionOf kernel (plans print the
    // StaticInvoke the optimizer leaves of its `str_partition` call)
    assert(df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(Probes.callsKernel(_, "partitionOf"))), plan.take(800))
    // the only ScalaUDF is the polygon-side envelope cover (dim side);
    // the point side must stay native end to end
    val pointSide = df.queryExecution.optimizedPlan.collectLeaves().head.toString
    assert(!pointSide.contains("UDF"))
  }
}
