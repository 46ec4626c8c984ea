package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.WkbCodec
import graft.index.{CellGrid, Tiles}
import graft.ops.GraftFunctions

class SqlFunctionsSpec extends AnyFunSuite with SparkTest {

  private lazy val registered = { GraftFunctions.register(spark); true }

  test("pure-math st_* functions match the Scala implementations and codegen") {
    assert(registered)
    val rows = spark.sql(
      """SELECT st_cell_x(20.5, 6) AS cx, st_cell_y(0.5, 6) AS cy,
        |       st_cell_id(20.5, 0.5, 6) AS cid,
        |       st_tile_x(-87.65, 13) AS tx, st_tile_y(41.85, 13) AS ty,
        |       st_merc_x(180.0) AS mx, st_merc_y(0.0) AS my""".stripMargin).collect()(0)
    assert(rows.getLong(0) === CellGrid.cellX(20.5, 6))
    assert(rows.getLong(1) === CellGrid.cellY(0.5, 6))
    assert(rows.getLong(2) === CellGrid.cellId(20.5, 0.5, 6))
    assert(rows.getLong(3) === 2101L && rows.getLong(4) === 3045L)
    assert(math.abs(rows.getDouble(5) - 20037508.342789244) < 1e-6)
    assert(math.abs(rows.getDouble(6)) < 1e-8)
  }

  test("constant folding: literal-only st_cell_id folds to a literal in the plan") {
    assert(registered)
    val plan = spark.sql("SELECT st_cell_id(20.5, 0.5, 6) AS c").queryExecution.optimizedPlan
    assert(plan.expressions.map(_.toString).exists(_.contains(CellGrid.cellId(20.5, 0.5, 6).toString)))
  }

  test("JTS-backed st_* functions: geojson decode, type, wkt, transform, contains") {
    assert(registered)
    import spark.implicits._
    val df = Seq("""{"type":"Point","coordinates":[1,2]}""").toDF("gj")
    df.createOrReplaceTempView("gjv")
    val r = spark.sql(
      """SELECT st_geometrytype(st_geomfromgeojson(gj)) AS t,
        |       st_astext(st_geomfromgeojson(gj)) AS wkt,
        |       st_astext(st_transform(st_geomfromgeojson(gj), 4326, 3857)) AS wkt3857,
        |       st_contains(st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}'),
        |                   st_point(1.0, 2.0)) AS inside,
        |       st_contains(st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}'),
        |                   st_point(9.0, 9.0)) AS outside
        |FROM gjv""".stripMargin).collect()(0)
    assert(r.getString(0) === "Point")
    assert(r.getString(1) === "POINT (1 2)")
    assert(r.getString(2).startsWith("POINT (111319.49"))
    assert(r.getBoolean(3) === true && r.getBoolean(4) === false)
  }

  test("st_* builders check their arity: a wrong count is WRONG_NUM_ARGS") {
    assert(registered)
    // too many (the extra argument must not be dropped) and too few (no
    // IndexOutOfBoundsException), on a kernel and on a composed builder
    for (q <- Seq("SELECT st_area(st_point(1.0, 2.0), 5)", "SELECT st_area()",
        "SELECT st_cell_x(20.5)", "SELECT st_point(1.0, 2.0, 3.0)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$q: ${e.getMessage}")
    }
  }

  test("st_* kernels cast their arguments: integer literals where doubles and ints are due") {
    assert(registered)
    val r = spark.sql(
      """SELECT st_astext(st_buffer(st_point(0, 0), 1)) IS NOT NULL AS b,
        |       st_astext(st_transform(st_point(1, 2), CAST(4326 AS BIGINT), 3857)) AS t,
        |       size(st_bbox_cells(st_point(1.0, 2.0), CAST(6 AS BIGINT))) AS n""".stripMargin).collect()(0)
    assert(r.getBoolean(0))
    assert(r.getString(1).startsWith("POINT (111319.49"))
    assert(r.getInt(2) === 1)
  }

  test("st_* available through the extensions injection point") {
    // verify the class wires up without error (full two-session test would
    // need a second SparkContext; the builder path is exercised here)
    val ext = new GraftExtensions
    val holder = new org.apache.spark.sql.SparkSessionExtensions
    ext(holder) // must not throw
  }

  test("OGC-ish geometry function library") {
    assert(registered)
    val r = spark.sql(
      """SELECT st_area(g) AS area, st_length(g) AS len, st_npoints(g) AS np,
        |       st_isvalid(g) AS v, st_astext(st_centroid(g)) AS c,
        |       st_geometrytype(st_envelope(g)) AS env,
        |       st_x(st_point(3.0, 4.0)) AS px, st_y(st_point(3.0, 4.0)) AS py,
        |       st_distance(st_point(0.0, 0.0), st_point(3.0, 4.0)) AS d,
        |       st_intersects(g, st_point(1.0, 1.0)) AS i,
        |       st_within(st_point(1.0, 1.0), g) AS w,
        |       st_area(st_buffer(st_point(0.0, 0.0), 1.0)) > 3.0 AS buf
        |FROM (SELECT st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}') AS g)"""
        .stripMargin).collect()(0)
    assert(r.getDouble(0) === 4.0)
    assert(r.getDouble(1) === 8.0)
    assert(r.getLong(2) === 5L)
    assert(r.getBoolean(3))
    assert(r.getString(4) === "POINT (1 1)")
    assert(r.getString(5) === "Polygon")
    assert(r.getDouble(6) === 3.0 && r.getDouble(7) === 4.0)
    assert(r.getDouble(8) === 5.0)
    assert(r.getBoolean(9) && r.getBoolean(10) && r.getBoolean(11))
  }

  test("SpatialFilterPushdown: constant-polygon filter pushes a bbox into the parquet scan") {
    assert(registered)
    import org.apache.spark.sql.functions.expr
    import graft.ops.SpatialFilterPushdown
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pushdown").toString
    (1 to 1000).map(i => (i.toLong, (i % 20) - 5.0, ((i * 7) % 20) - 5.0))
      .toDF("id", "lon", "lat").write.mode("overwrite").parquet(s"$dir/pts")
    val pts = spark.read.parquet(s"$dir/pts")
    def square(x0: Double, y0: Double, x1: Double, y1: Double) =
      Seq((x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0))
    // on the points' integer lattice: points fall on vertices, edges and
    // hole boundaries. A polygonal literal runs the ray-crossing kernel;
    // any other keeps the generic contains kernel
    val literals = Seq(
      (WkbCodec.polygon(square(0, 0, 10, 10)), "literalContains"),
      (WkbCodec.polygon(square(-3, -3, 11, 11), Seq(square(2, 2, 6, 6))), "literalContains"),
      (WkbCodec.multiPolygon(Seq(WkbCodec.polygon(square(-4, -4, 0, 0)),
        WkbCodec.polygon(square(2, 2, 12, 9), Seq(square(4, 4, 6, 6))))), "literalContains"),
      (WkbCodec.lineString(Seq((0.0, 0.0), (10.0, 10.0))), "contains"))
    for ((g, kernel) <- literals) {
      val polyHex = WkbCodec.write(g).map("%02X".format(_)).mkString
      // through the registered functions, as a SQL caller writes it
      def filtered = pts.filter(expr(s"st_contains(X'$polyHex', st_point(lon, lat))"))
      val plain = filtered
      assert(plain.queryExecution.optimizedPlan.expressions.exists(Probes.callsKernel(_, "contains")))
      val baseline = plain.select("id").as[Long].collect().sorted
      val had = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = had :+ SpatialFilterPushdown
      try {
        val q = filtered
        val plan = q.queryExecution.executedPlan.toString
        // (the plan's text truncates the PushedFilters list; the scan's
        // metadata holds all of it)
        val pushed = Probes.planNodes(q).collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters") }
        val env = g.getEnvelopeInternal
        assert(pushed.nonEmpty && Seq(s"GreaterThanOrEqual(lon,${env.getMinX})",
          s"LessThanOrEqual(lon,${env.getMaxX})", s"GreaterThanOrEqual(lat,${env.getMinY})",
          s"LessThanOrEqual(lat,${env.getMaxY})").forall(f => pushed.forall(_.contains(f))),
          s"${g.getGeometryType}: bbox not pushed to scan: $pushed\n$plan")
        // the exact check remains, inside codegen
        val (all, fused) = Probes.codegenSplit(q)
        val exact = Probes.kernelCallers(all, kernel)
        assert(exact.nonEmpty, s"${g.getGeometryType}: exact check $kernel must remain:\n$plan")
        assert(exact.forall(o => fused.exists(_ eq o)), s"the filter must run in whole-stage codegen:\n$plan")
        if (kernel == "literalContains")
          assert(Probes.kernelCallers(all, "point").isEmpty && Probes.kernelCallers(all, "contains").isEmpty,
            s"${g.getGeometryType}: no WKB may be encoded or decoded per row:\n$plan")
        // idempotent: the rule leaves its own output as it is
        val optimized = q.queryExecution.optimizedPlan
        assert(SpatialFilterPushdown(optimized) fastEquals optimized)
        assert(q.select("id").as[Long].collect().sorted.toSeq === baseline.toSeq, g.getGeometryType)
        assert(baseline.nonEmpty) // the test must actually select something
      } finally spark.experimental.extraOptimizations = had
    }
  }

  test("SpatialFilterPushdown: a generic contains under an Or or a Not gets its bbox once") {
    assert(registered)
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.catalyst.expressions.{LessThanOrEqual, Literal}
    import graft.ops.SpatialFilterPushdown
    import spark.implicits._
    // not a local relation, which the optimizer would filter before the rule ran
    val pts = spark.sparkContext.parallelize(0 to 200, 2)
      .map(i => (i.toLong, (i % 15) - 2.0, (i % 15) - 2.0 + (i % 2))).toDF("id", "lon", "lat")
    val lineHex = WkbCodec.write(WkbCodec.lineString(Seq((0.0, 0.0), (10.0, 10.0))))
      .map("%02X".format(_)).mkString
    val call = s"st_contains(X'$lineHex', st_point(lon, lat))"
    for (cond <- Seq(s"$call OR id > 195", s"NOT $call AND id < 40", s"($call OR id > 195) AND lon >= 1")) {
      val baseline = pts.filter(expr(cond)).select("id").as[Long].collect().sorted.toSeq
      val had = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = had :+ SpatialFilterPushdown
      try {
        val q = pts.filter(expr(cond))
        val optimized = q.queryExecution.optimizedPlan
        assert(SpatialFilterPushdown(optimized) fastEquals optimized, s"$cond:\n$optimized")
        val bounds = optimized.flatMap(_.expressions).flatMap(_.collect {
          case LessThanOrEqual(_, l: Literal) if l.value == 10.0 => l })
        assert(bounds.size == 2, s"$cond: the bbox (two of its bounds are <= 10) must be there once:\n$optimized")
        assert(q.select("id").as[Long].collect().sorted.toSeq === baseline, cond)
      } finally spark.experimental.extraOptimizations = had
      assert(baseline.exists(_ <= 195) && baseline.size < 201, s"$cond selects $baseline")
    }
  }

  test("st_contains of a polygon and a point: pushed == plain near edges, where JTS's unprepared contains differs") {
    assert(registered)
    import org.apache.spark.sql.functions.expr
    import org.locationtech.jts.geom.Coordinate
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.index.CoverIndex
    import graft.ops.SpatialFilterPushdown
    import spark.implicits._
    import LatticeShapes._
    // lattice shapes with probe points on which JTS's prepared and
    // unprepared contains disagree (rounding on a sloped edge)
    // (on an invalid ring JTS's unprepared contains may throw)
    val shapes = Iterator.from(0).take(400)
      .map(i => genConcave.pureApply(Gen.Parameters.default, Seed(i.toLong))).filter(_.isValid)
    val hard = shapes.flatMap { g =>
      val rings = CoverIndex.Rings(Array(1L), Array(g))
      val differ = probes(g).filter { case (x, y) =>
        rings.contains(0, x, y) != g.contains(gf.createPoint(new Coordinate(x, y))) }
      if (differ.isEmpty) None else Some((g, differ, probes(g)))
    }.take(2).toSeq
    assert(hard.nonEmpty, "no lattice shape where JTS's two contains answers differ")
    for ((g, differ, all) <- hard) {
      val rings = CoverIndex.Rings(Array(1L), Array(g))
      val hex = WkbCodec.write(g).map("%02X".format(_)).mkString
      val pts = spark.sparkContext.parallelize(all.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }, 2)
        .toDF("id", "lon", "lat")
      def filtered = pts.filter(expr(s"st_contains(X'$hex', st_point(lon, lat))"))
      def ids(q: org.apache.spark.sql.DataFrame) = q.select("id").as[Long].collect().sorted.toSeq
      val want = all.indices.filter(i => rings.contains(0, all(i)._1, all(i)._2)).map(_.toLong)
      val plain = ids(filtered)
      assert(plain === want, s"plain st_contains must answer as the PIP joins do on $g")
      val had = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = had :+ SpatialFilterPushdown
      try {
        val q = filtered
        assert(q.queryExecution.optimizedPlan.flatMap(_.expressions).exists(Probes.callsKernel(_, "literalContains")))
        assert(ids(q) === plain, s"pushed != plain on $g near $differ")
      } finally spark.experimental.extraOptimizations = had
    }
  }
}
