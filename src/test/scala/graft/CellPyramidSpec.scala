package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.index.{CellGrid, CellPyramid}
import graft.geom.WkbCodec

class CellPyramidSpec extends AnyFunSuite with SparkTest {

  private def pts(n: Int) = {
    import spark.implicits._
    (1 to n).map { i =>
      (i.toLong, ((i * 131) % 700) / 2.0 - 174.7, ((i * 37) % 330) / 2.0 - 82.4)
    }.toDF("id", "lon", "lat")
  }

  test("build: every rollup level preserves the total; parents sum their children") {
    val p = pts(2000)
    val pyr = CellPyramid.build(p, "lon", "lat", finest = 10, depth = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byLevel = pyr.groupBy { case (cell, _) => CellGrid.unpackLevel(cell) }
    (7 to 10).foreach { l =>
      assert(byLevel(l).map(_._2).sum === 2000L, s"level $l total")
    }
    val counts = pyr.toMap
    byLevel(10).foreach { case (cell, cnt) =>
      assert(counts(CellGrid.parent(cell)) >= cnt)
    }
    byLevel(8).foreach { case (cell, cnt) =>
      assert(CellGrid.children(cell).map(counts.getOrElse(_, 0L)).sum === cnt)
    }
  }

  test("build: the one rollup equals a level-by-level union of point histograms") {
    import spark.implicits._
    // the grid's edges: lon ±180 and lat ±90 clamp into the last cells
    val corners = Seq((-180.0, -90.0), (180.0, 90.0), (180.0, -90.0), (-180.0, 90.0),
      (0.0, 90.0), (180.0, 0.0), (-180.0, 0.0), (0.0, -90.0), (180.0, 90.0))
      .zipWithIndex.map { case ((x, y), i) => (100000L + i, x, y) }.toDF("id", "lon", "lat")
    val p = pts(2000).unionAll(corners)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for (depth <- Seq(0, 3)) {
      val reference = (10 - depth to 10)
        .map(l => p.groupBy(CellPyramid.cellCol(col("lon"), col("lat"), l).as("cell"))
          .agg(count(lit(1)).as("cnt")))
        .reduce(_ unionAll _)
      val got = rows(CellPyramid.build(p, "lon", "lat", finest = 10, depth = depth))
      assert(got === rows(reference), s"depth $depth")
      assert(got.map(r => CellGrid.unpackLevel(r._1)).distinct.sorted === (10 - depth to 10))
      // (180, 90) twice: the last cell of every level holds both
      (10 - depth to 10).foreach { l =>
        val last = CellGrid.pack((1L << l) - 1, (1L << l) - 1, l)
        assert(got.toMap.get(last) === Some(2L), s"level $l corner cell")
      }
    }
  }

  test("classify: interior + boundary tile the polygon's cover, big diamond has interior") {
    val wkb = WkbCodec.write(WkbCodec.diamond(10.0, 20.0, 2.0))
    val (interior, boundary) = CellPyramid.classify(wkb, finest = 10, depth = 3)
    assert(interior.nonEmpty, "a 2-degree diamond must cover whole cells at level 10")
    assert(boundary.nonEmpty)
    // boundary cells are finest-level; interior cells may be coarser
    boundary.foreach(c => assert(CellGrid.unpackLevel(c) === 10))
    assert(interior.exists(c => CellGrid.unpackLevel(c) < 10),
      "greedy descent should take at least one coarse fully-inside cell")
    // no finest-level cell is claimed by both an interior ancestor and boundary
    def leaves(c: Long): Seq[Long] =
      if (CellGrid.unpackLevel(c) == 10) Seq(c) else CellGrid.children(c).flatMap(leaves)
    val interiorLeaves = interior.flatMap(leaves).toSet
    assert(boundary.toSet.intersect(interiorLeaves).isEmpty)
  }

  test("pairRowsFor: deep boundary shell carries the polygon WKB exactly once") {
    // a thin sliver diamond (2 degrees wide, 0.02 tall) at level 12 has a
    // long boundary shell and little interior — the shape that amplified
    // the old per-cell-WKB pair table
    val wkb = WkbCodec.write(WkbCodec.diamond(10.0, 20.0, 1.0))
    val rows = CellPyramid.pairRowsFor(7L, wkb, finest = 12, depth = 3).toSeq
    val boundaryRows = rows.filter(!_._3)
    assert(boundaryRows.length > 100, s"want a deep shell, got ${boundaryRows.length}")
    val carried = rows.flatMap(r => Option(r._4))
    assert(carried.length === 1, "WKB must ride along exactly once per polygon")
    assert(carried.head.sameElements(wkb))
    assert(rows.filter(_._3).forall(_._4 == null), "interior rows never carry WKB")
    // pair set identical to classify's
    val (in, bd) = CellPyramid.classify(wkb, finest = 12, depth = 3)
    assert(rows.filter(_._3).map(_._2) === in)
    assert(boundaryRows.map(_._2) === bd)
  }

  test("updateWith: incremental fold of an appended batch == full rebuild") {
    val all = pts(2400)
    val base = all.filter(col("id") % 3 =!= 0)
    val delta = all.filter(col("id") % 3 === 0)
    val inc = CellPyramid.updateWith(
      CellPyramid.build(base, "lon", "lat", 10, 3), delta, "lon", "lat", 10, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val full = CellPyramid.build(all, "lon", "lat", 10, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(inc.toSeq === full.toSeq)
  }

  test("maintain: folds appends, rebuilds after a rewrite — always == full rebuild") {
    import graft.table.TableLog
    val dir = java.nio.file.Files.createTempDirectory("pyr_maintain")
    val table = dir.toString + "/t"
    val all = pts(1800)
    def pyrOf(df: org.apache.spark.sql.DataFrame) =
      CellPyramid.build(df, "lon", "lat", 10, 2)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    try {
      // v1: base
      TableLog.write(all.filter(col("id") % 3 === 1).select("lon", "lat"), table, "fail")
      val (p1, v1) = CellPyramid.maintain(spark, table, spark.emptyDataFrame,
        0L, "lon", "lat", 10, 2)
      assert(v1 === 1L)
      // v2: append -> additive fold (and the fold really was incremental:
      // the old bucket set survives, so appendOnly held)
      TableLog.write(all.filter(col("id") % 3 === 2).select("lon", "lat"), table, "append")
      val (p2, v2) = CellPyramid.maintain(spark, table, p1, v1, "lon", "lat", 10, 2)
      assert(v2 === 2L)
      assert(sortedRows(p2) ===
        sortedRows(pyrOf(TableLog.read(spark, table))))
      // same version: no-op, same frame back
      val (p2b, v2b) = CellPyramid.maintain(spark, table, p2, v2, "lon", "lat", 10, 2)
      assert(v2b === v2 && (p2b eq p2))
      // v3: OVERWRITE (rewrite — old buckets gone) -> must rebuild, not fold
      TableLog.write(all.filter(col("id") % 3 === 0).select("lon", "lat"),
        table, "overwrite")
      val (p3, v3) = CellPyramid.maintain(spark, table, p2, v2, "lon", "lat", 10, 2)
      assert(v3 === 3L)
      assert(sortedRows(p3) ===
        sortedRows(pyrOf(all.filter(col("id") % 3 === 0).select("lon", "lat"))))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("polygonCounts == brute-force pip count (inner-join semantics)") {
    import spark.implicits._
    val p = pts(3000)
    val polys = Seq(
      (1L, 10.0, 20.0, 2.0), (2L, -100.25, 0.5, 1.4), (3L, 140.5, -40.0, 0.75),
      (4L, 179.0, 80.0, 2.2), (5L, 0.0, 0.0, 0.05)) // tiny: likely zero points
      .map { case (id, cx, cy, r) => (id, cx, cy, r, WkbCodec.write(WkbCodec.diamond(cx, cy, r))) }
    // one partition, fewer than the session's cores
    val polyDf = polys.toDF("poly_id", "cx", "cy", "r", "geom").coalesce(1)
    val pyr = CellPyramid.build(p, "lon", "lat", finest = 10, depth = 3)
    val got = CellPyramid.polygonCounts(spark, pyr, p, "lon", "lat", polyDf,
      finest = 10, depth = 3).as[(Long, Long)].collect().toMap
    val ptsLocal = p.as[(Long, Double, Double)].collect()
    val want = polys.map { case (id, cx, cy, r, _) =>
      id -> ptsLocal.count { case (_, x, y) => math.abs(x - cx) + math.abs(y - cy) < r }.toLong
    }.filter(_._2 > 0).toMap
    assert(got === want)
    assert(want.values.sum > 0, "vacuous fixture")
    // plan shape: both sides probe one broadcast equi-join on the cell
    // key — no cartesian, no shuffled join against the point table
    val counts = CellPyramid.polygonCounts(spark, pyr, p, "lon", "lat", polyDf,
      finest = 10, depth = 3)
    val plan = counts.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    // the quadtree descent runs in the polygon frame's own partition: the
    // checkpointed pair table it fills has that one partition, not a
    // repartition's
    val pairParts = Probes.planNodes(counts).collect {
      case s: org.apache.spark.sql.execution.RDDScanExec
          if s.output.exists(_.name == "interior") => s.rdd.getNumPartitions }
    assert(pairParts.nonEmpty && pairParts.forall(_ == 1), s"pair table partitions: $pairParts")

    // scale path (broadcastPairLimit = 0): probes become shuffle
    // equi-joins, the WKB reattaches via an equi-join on poly_id, and the
    // driver collects NOTHING — results must be limit-invariant
    val scaled = CellPyramid.polygonCounts(spark, pyr, p, "lon", "lat", polyDf,
      finest = 10, depth = 3, broadcastPairLimit = 0L)
    assert(scaled.as[(Long, Long)].collect().toMap === want)
    val scaledPlan = scaled.queryExecution.executedPlan.toString
    assert(!scaledPlan.contains("CartesianProduct"), s"plan:\n$scaledPlan")
    assert(!scaledPlan.contains("BroadcastNestedLoopJoin"), s"plan:\n$scaledPlan")
  }

  test("polygonCounts on vertices, edges and cell corners: broadcast == scale path == brute force") {
    import spark.implicits._
    val (dx, dy) = (360.0 / 1024, 180.0 / 1024) // a level-10 cell
    // the first diamond cuts cells anywhere; the second one's center and
    // radius sit on level-10 cell corners, so its vertices and edges pass
    // through cell corners. Every coordinate is dyadic, so the brute force
    // below is exact
    val diamonds = Seq((1L, 10.0, 20.0, 2.0), (2L, -180 + 540 * dx, -90 + 626 * dy, 8 * dy))
    val onShapes = diamonds.flatMap { case (_, cx, cy, r) =>
      val vertices = Seq((cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r))
      val edges = for (k <- 1 until 8; (sx, sy) <- Seq((1, 1), (-1, 1), (-1, -1), (1, -1)))
        yield (cx + sx * r * k / 8, cy + sy * r * (8 - k) / 8)
      (cx, cy) +: (vertices ++ edges)
    }
    val corners = for (i <- 530 until 550; j <- 610 until 640) yield (-180 + i * dx, -90 + j * dy)
    val pts = (onShapes ++ corners).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val p = pts.toDF("id", "lon", "lat")
    val polyDf = diamonds.map { case (id, cx, cy, r) => (id, WkbCodec.write(WkbCodec.diamond(cx, cy, r))) }
      .toDF("poly_id", "geom").coalesce(1)
    val want = diamonds.map { case (id, cx, cy, r) =>
      id -> pts.count { case (_, x, y) => math.abs(x - cx) + math.abs(y - cy) < r }.toLong
    }.toMap
    val (_, cx2, cy2, r2) = diamonds(1)
    assert(want.values.forall(_ > 0) && corners.exists { case (x, y) =>
      math.abs(x - cx2) + math.abs(y - cy2) == r2 }, "vacuous fixture")
    val pyr = CellPyramid.build(p, "lon", "lat", finest = 10, depth = 3)
    def counts(limit: Long) = CellPyramid.polygonCounts(spark, pyr, p, "lon", "lat", polyDf,
      finest = 10, depth = 3, broadcastPairLimit = limit).as[(Long, Long)].collect().toMap
    assert(counts(CellPyramid.BroadcastPairLimit) === want, "broadcast path")
    assert(counts(0L) === want, "scale path")
  }
}
