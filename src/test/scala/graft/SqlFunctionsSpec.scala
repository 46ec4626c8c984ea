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
    val polyWkb = WkbCodec.write(WkbCodec.polygon(
      Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0))))
    val polyHex = polyWkb.map("%02X".format(_)).mkString
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
      assert(pushed.nonEmpty && Seq("GreaterThanOrEqual(lon,0.0)", "LessThanOrEqual(lon,10.0)",
        "GreaterThanOrEqual(lat,0.0)", "LessThanOrEqual(lat,10.0)").forall(f => pushed.forall(_.contains(f))),
        s"bbox not pushed to scan: $pushed\n$plan")
      // the exact check remains, as the point kernel, inside codegen
      val (all, fused) = Probes.codegenSplit(q)
      val exact = Probes.kernelCallers(all, "containsPoint")
      assert(exact.nonEmpty, s"exact JTS check must remain:\n$plan")
      assert(exact.forall(o => fused.exists(_ eq o)), s"the filter must run in whole-stage codegen:\n$plan")
      assert(Probes.kernelCallers(all, "point").isEmpty,
        "the point must not be encoded per row")
      // idempotent: the rule leaves its own output as it is
      val optimized = q.queryExecution.optimizedPlan
      assert(SpatialFilterPushdown(optimized) fastEquals optimized)
      assert(q.select("id").as[Long].collect().sorted.toSeq === baseline.toSeq)
      assert(baseline.nonEmpty) // the test must actually select something
    } finally spark.experimental.extraOptimizations = had
  }
}
