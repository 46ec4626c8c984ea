package graft.ops

import org.apache.spark.sql.{Column, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, Geometry, LineString, LinearRing, MultiPolygon, Point, Polygon}
import graft.geom.{GeoJsonDecode, Mercator, Simplify, WkbCodec}
import graft.index.{CellGrid, CoverIndex}

/** SQL function surface (`st_*`). Pure-math functions are built as
  * COMPOSITIONS of built-in Catalyst expressions — they constant-fold and
  * whole-stage-codegen for free. The JTS-backed ones are plain kernel
  * methods on this object, called through [[Kernel]] (a static call
  * inside the generated code).
  *
  * Register per session via [[GraftFunctions.register]] or for every
  * session with `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
object SqlFunctions {

  // ---- pure-math builders (composed built-ins; full codegen) ----
  private def d(e: Expression) = Cast(e, DoubleType)
  private def co(e: Expression): Column = GraftShim.column(e)
  private def ex(c: Column): Expression = GraftShim.converted(c)

  def cellId(lon: Expression, lat: Expression, level: Int): Expression =
    Add(Add(Literal(level.toLong << 58),
      Multiply(ex(CellGrid.cellX(co(d(lon)), level)), Literal(1L << 29))),
      ex(CellGrid.cellY(co(d(lat)), level)))

  def mercX(lon: Expression): Expression =
    Multiply(d(lon), Literal(Mercator.EarthRadius * math.Pi / 180.0))

  def mercY(lat: Expression): Expression = {
    val clat = Greatest(Seq(Literal(-Mercator.MaxLat), Least(Seq(Literal(Mercator.MaxLat), d(lat)))))
    val r = Multiply(clat, Literal(math.Pi / 180.0))
    Multiply(Literal(Mercator.EarthRadius),
      Log(Tan(Add(Literal(math.Pi / 4.0), Divide(r, Literal(2.0))))))
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType)   => v.toInt
    case _ => throw graft.GraftError.Format(s"$what must be an integer literal")
  }

  // ---- JTS-backed kernels: WKB in, value out (see [[Kernel]]) ----
  private def geom(wkb: Array[Byte]): Geometry = WkbCodec.read(wkb)
  private def bbox(wkb: Array[Byte]) = geom(wkb).getEnvelopeInternal

  def area(wkb: Array[Byte]): Double = geom(wkb).getArea
  def length(wkb: Array[Byte]): Double = geom(wkb).getLength
  def numPoints(wkb: Array[Byte]): Long = geom(wkb).getNumPoints.toLong
  def isValid(wkb: Array[Byte]): Boolean = geom(wkb).isValid
  def centroid(wkb: Array[Byte]): Array[Byte] = WkbCodec.write(geom(wkb).getCentroid)
  def envelope(wkb: Array[Byte]): Array[Byte] = WkbCodec.write(geom(wkb).getEnvelope)
  def pointX(wkb: Array[Byte]): Double = geom(wkb).asInstanceOf[Point].getX
  def pointY(wkb: Array[Byte]): Double = geom(wkb).asInstanceOf[Point].getY
  def xMin(wkb: Array[Byte]): Double = bbox(wkb).getMinX
  def yMin(wkb: Array[Byte]): Double = bbox(wkb).getMinY
  def xMax(wkb: Array[Byte]): Double = bbox(wkb).getMaxX
  def yMax(wkb: Array[Byte]): Double = bbox(wkb).getMaxY
  def geometryType(wkb: Array[Byte]): UTF8String = UTF8String.fromString(geom(wkb).getGeometryType)
  def asText(wkb: Array[Byte]): UTF8String = UTF8String.fromString(geom(wkb).toText)
  def distance(a: Array[Byte], b: Array[Byte]): Double = geom(a).distance(geom(b))
  def intersects(a: Array[Byte], b: Array[Byte]): Boolean = geom(a).intersects(geom(b))
  def within(a: Array[Byte], b: Array[Byte]): Boolean = contains(b, a)
  /** JTS `contains`, but a polygonal geometry and a point take the PIP
    * joins' ray-crossing test ([[CoverIndex.Rings]], JTS prepared
    * `contains`): JTS's unprepared answer differs from it on some points
    * within rounding distance of an edge, and the answer must not depend
    * on whether [[SpatialFilterPushdown]] rewrote the call. */
  def contains(a: Array[Byte], b: Array[Byte]): Boolean = (geom(a), geom(b)) match {
    case (g @ (_: Polygon | _: MultiPolygon), p: Point) =>
      !p.isEmpty && CoverIndex.Rings(Array(0L), Array(g)).contains(0, p.getX, p.getY)
    case (g, h) => g.contains(h)
  }
  /** [[contains]] of the point (x, y) by a polygonal literal decoded once,
    * at plan time: what [[SpatialFilterPushdown]] leaves of
    * `st_contains(<polygon wkb>, st_point(x, y))`. */
  def literalContains(p: CoverIndex.Polygons, x: Double, y: Double): Boolean =
    p.rings.contains(0, x, y)
  def point(x: Double, y: Double): Array[Byte] = WkbCodec.write(WkbCodec.point(x, y))
  def buffer(wkb: Array[Byte], dist: Double): Array[Byte] = WkbCodec.write(geom(wkb).buffer(dist))
  def geomFromGeoJson(json: UTF8String): Array[Byte] =
    WkbCodec.write(GeoJsonDecode.parse(json.toString))

  /** Per-coordinate Mercator reproject of a WKB geometry (P3 as a column
    * function; only 4326<->3857, like the reference's validation). */
  def transform(wkb: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val g = geom(wkb)
    Mercator.projectInPlace(g, from, to)
    WkbCodec.write(g)
  }

  /** st_simplify(geom, tol): Ramer–Douglas–Peucker generalization
    * ([[graft.geom.Simplify]]) — the per-zoom simplification step of a
    * vector-tile pipeline. LineStrings simplify directly; Polygons
    * simplify each ring (closure preserved; rings that collapse below 4
    * points are dropped, a collapsed shell returns NULL); Points pass
    * through. */
  def simplify(wkb: Array[Byte], tol: Double): Array[Byte] = {
    def packed(cs: Array[Coordinate]): Array[Double] = {
      val out = new Array[Double](2 * cs.length)
      var i = 0
      while (i < cs.length) { out(2 * i) = cs(i).x; out(2 * i + 1) = cs(i).y; i += 1 }
      out
    }
    def pts(a: Array[Double]): Seq[(Double, Double)] =
      a.grouped(2).map(p => (p(0), p(1))).toSeq
    geom(wkb) match {
      case l: LineString if !l.isInstanceOf[LinearRing] =>
        WkbCodec.write(WkbCodec.lineString(pts(Simplify.rdp(packed(l.getCoordinates), tol))))
      case p: Polygon =>
        def ring(r: LineString): Option[Seq[(Double, Double)]] = {
          val s = Simplify.rdp(packed(r.getCoordinates), tol)
          if (s.length / 2 >= 4) Some(pts(s).dropRight(1)) else None // drop closing dup for the builder
        }
        ring(p.getExteriorRing) match {
          case None => null
          case Some(shell) =>
            val holes = (0 until p.getNumInteriorRing).flatMap(i => ring(p.getInteriorRingN(i)))
            WkbCodec.write(WkbCodec.polygon(shell, holes))
        }
      case g => WkbCodec.write(g)
    }
  }

  /** st_clip_bbox(geom, x0, y0, x1, y1): polygon clipped to an axis-aligned
    * rectangle (Sutherland–Hodgman per ring, [[graft.geom.ClipRect]]) —
    * the scalar form of tile-content generation. NULL when the
    * intersection has no area or the geometry is not a polygon. */
  def clipBbox(wkb: Array[Byte], x0: Double, y0: Double, x1: Double, y1: Double): Array[Byte] =
    geom(wkb) match {
      case p: Polygon => TileClip.clipPolygon(p, x0, y0, x1, y1).map(WkbCodec.write).orNull
      case _ => null
    }

  /** Packed ids of all grid cells at `level` intersecting the geometry's
    * ENVELOPE (bbox cover, no exact refine — [[OverlayJoin]]'s candidate
    * generator, where the reporting-cell dedup rule needs the cover to be
    * the full bbox cell rectangle). */
  def bboxCells(wkb: Array[Byte], level: Int): ArrayData = {
    val env = bbox(wkb)
    UnsafeArrayData.fromPrimitiveArray(
      CellGrid.coverBBox(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, level)
        .map { case (x, y) => CellGrid.pack(x, y, level) }.toArray)
  }

  private type Builder = Seq[Expression] => Expression

  /** `name` as a [[Kernel]] call of `method` on this object, one argument
    * per entry of `argTypes`. */
  private def kernel(name: String, method: String, dt: DataType, argTypes: DataType*)
                    (returnsNull: Boolean = false): (String, Int, Builder) =
    (name, argTypes.size, es => Kernel.call(name, this, method, dt, returnsNull)(es.zip(argTypes): _*))

  private def geom1(name: String, method: String, dt: DataType) = kernel(name, method, dt, BinaryType)()
  private def geom2(name: String, method: String, dt: DataType) =
    kernel(name, method, dt, BinaryType, BinaryType)()

  /** (name, arity, builder); the builders may index their arguments freely
    * because [[functions]] checks the count first. */
  private val specs: Seq[(String, Int, Builder)] = Seq(
    geom1("st_area", "area", DoubleType),
    geom1("st_length", "length", DoubleType),
    geom1("st_npoints", "numPoints", LongType),
    geom1("st_isvalid", "isValid", BooleanType),
    geom1("st_centroid", "centroid", BinaryType),
    geom1("st_envelope", "envelope", BinaryType),
    geom1("st_x", "pointX", DoubleType),
    geom1("st_y", "pointY", DoubleType),
    geom1("st_xmin", "xMin", DoubleType),
    geom1("st_ymin", "yMin", DoubleType),
    geom1("st_xmax", "xMax", DoubleType),
    geom1("st_ymax", "yMax", DoubleType),
    geom1("st_geometrytype", "geometryType", StringType),
    geom1("st_astext", "asText", StringType),
    kernel("st_bbox_cells", "bboxCells", ArrayType(LongType, containsNull = false),
      BinaryType, IntegerType)(),
    geom2("st_distance", "distance", DoubleType),
    geom2("st_intersects", "intersects", BooleanType),
    geom2("st_within", "within", BooleanType),
    geom2("st_contains", "contains", BooleanType),
    kernel("st_point", "point", BinaryType, DoubleType, DoubleType)(),
    kernel("st_buffer", "buffer", BinaryType, BinaryType, DoubleType)(),
    kernel("st_clip_bbox", "clipBbox", BinaryType,
      BinaryType, DoubleType, DoubleType, DoubleType, DoubleType)(returnsNull = true),
    kernel("st_simplify", "simplify", BinaryType, BinaryType, DoubleType)(returnsNull = true),
    ("st_cell_x", 2, es => ex(CellGrid.cellX(co(d(es(0))), intArg(es(1), "level")))),
    ("st_cell_y", 2, es => ex(CellGrid.cellY(co(d(es(0))), intArg(es(1), "level")))),
    ("st_cell_id", 3, es => cellId(es(0), es(1), intArg(es(2), "level"))),
    ("st_tile_x", 2, es => ex(TileAssign.tileX(co(d(es(0))), intArg(es(1), "zoom")))),
    ("st_tile_y", 2, es => ex(TileAssign.tileY(co(d(es(0))), intArg(es(1), "zoom")))),
    ("st_merc_x", 1, es => mercX(es(0))),
    ("st_merc_y", 1, es => mercY(es(0))),
    kernel("st_geomfromgeojson", "geomFromGeoJson", BinaryType, StringType)(),
    kernel("st_transform", "transform", BinaryType, BinaryType, IntegerType, IntegerType)(),
    // aggregate: bbox union per group (PostGIS ST_Extent)
    ("st_extent", 1, es => ExtentAgg(es(0)).toAggregateExpression())
  )

  /** name -> builder. A call with the wrong number of arguments fails with
    * Spark's `WRONG_NUM_ARGS`. */
  val functions: Seq[(String, Builder)] = specs.map { case (name, arity, build) =>
    name -> { (es: Seq[Expression]) =>
      if (es.size != arity) throw GraftShim.wrongNumArgs(name, arity, es.size)
      build(es)
    }
  }

  private lazy val byName: Map[String, Builder] = functions.toMap

  /** The st_* function `name` over Columns, built by its registry entry. */
  def call(name: String, args: Column*): Column = co(byName(name)(args.map(GraftShim.converted)))
}

object GraftFunctions {
  /** Register all st_* functions on an existing session. */
  def register(spark: SparkSession): Unit =
    SqlFunctions.functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
}
