package graft.ops

import org.apache.spark.sql.{Column, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions
import graft.geom.{GeoJsonDecode, Mercator, WkbCodec}
import graft.index.CellGrid

/** SQL function surface (`st_*`). Pure-math functions are built as
  * COMPOSITIONS of built-in Catalyst expressions — they constant-fold and
  * whole-stage-codegen for free; only the JTS-backed ones are custom
  * expression classes (CodegenFallback — geometry work dominates).
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

  // ---- JTS-backed custom expressions ----
  // (AbstractDataType is private[sql], so instead of ImplicitCastInputTypes
  // the evals accept any numeric representation the parser produces)
  private def asD(v: Any): Double = v match {
    case d: java.lang.Double => d
    case dec: Decimal        => dec.toDouble
    case n: java.lang.Number => n.doubleValue()
  }
  private def asI(v: Any): Int = v match {
    case dec: Decimal        => dec.toInt
    case n: java.lang.Number => n.intValue()
  }
  case class StGeomFromGeoJson(child: Expression)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any): Any =
      WkbCodec.write(GeoJsonDecode.parse(v.toString))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "st_geomfromgeojson"
  }

  /** Per-coordinate Mercator reproject of a WKB geometry (P3 as a column
    * function; only 4326<->3857, like the reference's validation). */
  case class StTransform(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(wkb: Any, from: Any, to: Any): Any = {
      val g = WkbCodec.read(wkb.asInstanceOf[Array[Byte]])
      Mercator.projectInPlace(g, asI(from), asI(to))
      WkbCodec.write(g)
    }
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
      copy(first = a, second = b, third = c)
    override def prettyName: String = "st_transform"
  }

  case class StContains(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any): Any =
      WkbCodec.read(a.asInstanceOf[Array[Byte]]).contains(
        WkbCodec.read(b.asInstanceOf[Array[Byte]]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "st_contains"
  }

  /** Same semantics as [[StContains]]; produced by
    * [[SpatialFilterPushdown]] AFTER the bbox pre-filter is injected, and
    * deliberately not matched by that rule (fixed-point idempotence). */
  case class StContainsExact(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any): Any =
      WkbCodec.read(a.asInstanceOf[Array[Byte]]).contains(
        WkbCodec.read(b.asInstanceOf[Array[Byte]]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "st_contains_exact"
  }

  case class StPoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(x: Any, y: Any): Any =
      WkbCodec.write(WkbCodec.point(asD(x), asD(y)))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "st_point"
  }

  /** Generic unary/binary JTS wrappers for the standard OGC-ish surface. */
  case class StUnaryGeom(child: Expression, name: String,
                         f: org.locationtech.jts.geom.Geometry => Any, dt: DataType)
    extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = dt
    override def nullSafeEval(v: Any): Any = f(WkbCodec.read(v.asInstanceOf[Array[Byte]])) match {
      case g: org.locationtech.jts.geom.Geometry => WkbCodec.write(g)
      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case other => other
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = name
  }

  case class StBinaryGeomPred(left: Expression, right: Expression, name: String,
      f: (org.locationtech.jts.geom.Geometry, org.locationtech.jts.geom.Geometry) => Any,
      dt: DataType)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = dt
    override def nullSafeEval(a: Any, b: Any): Any =
      f(WkbCodec.read(a.asInstanceOf[Array[Byte]]), WkbCodec.read(b.asInstanceOf[Array[Byte]]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = name
  }

  case class StBuffer(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(wkb: Any, dist: Any): Any =
      WkbCodec.write(WkbCodec.read(wkb.asInstanceOf[Array[Byte]]).buffer(asD(dist)))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "st_buffer"
  }

  /** st_simplify(geom, tol): Ramer–Douglas–Peucker generalization
    * ([[graft.geom.Simplify]]) — the per-zoom simplification step of a
    * vector-tile pipeline. LineStrings simplify directly; Polygons
    * simplify each ring (closure preserved; rings that collapse below 4
    * points are dropped, a collapsed shell returns NULL); Points pass
    * through. */
  case class StSimplify(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    private def packed(cs: Array[org.locationtech.jts.geom.Coordinate]): Array[Double] = {
      val out = new Array[Double](2 * cs.length)
      var i = 0
      while (i < cs.length) { out(2 * i) = cs(i).x; out(2 * i + 1) = cs(i).y; i += 1 }
      out
    }
    private def pts(a: Array[Double]): Seq[(Double, Double)] =
      a.grouped(2).map(p => (p(0), p(1))).toSeq
    override def nullSafeEval(wkb: Any, tol: Any): Any = {
      val t = asD(tol)
      WkbCodec.read(wkb.asInstanceOf[Array[Byte]]) match {
        case l: org.locationtech.jts.geom.LineString if !l.isInstanceOf[org.locationtech.jts.geom.LinearRing] =>
          WkbCodec.write(WkbCodec.lineString(pts(graft.geom.Simplify.rdp(packed(l.getCoordinates), t))))
        case p: org.locationtech.jts.geom.Polygon =>
          def ring(r: org.locationtech.jts.geom.LineString): Option[Seq[(Double, Double)]] = {
            val s = graft.geom.Simplify.rdp(packed(r.getCoordinates), t)
            if (s.length / 2 >= 4) Some(pts(s).dropRight(1)) else None // drop closing dup for the builder
          }
          ring(p.getExteriorRing) match {
            case None => null
            case Some(shell) =>
              val holes = (0 until p.getNumInteriorRing)
                .flatMap(i => ring(p.getInteriorRingN(i)))
              WkbCodec.write(WkbCodec.polygon(shell, holes))
          }
        case g => WkbCodec.write(g)
      }
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "st_simplify"
  }

  /** st_clip_bbox(geom, x0, y0, x1, y1): polygon clipped to an axis-aligned
    * rectangle (Sutherland–Hodgman per ring, [[graft.geom.ClipRect]]) —
    * the scalar form of tile-content generation. NULL when the
    * intersection has no area. */
  case class StClipBbox(children: Seq[Expression])
    extends Expression with CodegenFallback {
    require(children.size == 5, "st_clip_bbox(geom, x0, y0, x1, y1)")
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.contains(null)) return null
      val g = WkbCodec.read(vs(0).asInstanceOf[Array[Byte]])
      g match {
        case p: org.locationtech.jts.geom.Polygon =>
          TileClip.clipPolygon(p, asD(vs(1)), asD(vs(2)), asD(vs(3)), asD(vs(4)))
            .map(WkbCodec.write).orNull
        case _ => null
      }
    }
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
      copy(children = cs)
    override def prettyName: String = "st_clip_bbox"
  }

  /** Packed ids of all grid cells at `level` intersecting the geometry's
    * ENVELOPE (bbox cover, no exact refine — [[OverlayJoin]]'s candidate
    * generator, where the reporting-cell dedup rule needs the cover to be
    * the full bbox cell rectangle). */
  case class StBboxCells(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(wkb: Any, lvl: Any): Any = {
      val env = WkbCodec.read(wkb.asInstanceOf[Array[Byte]]).getEnvelopeInternal
      val l = asI(lvl)
      val cells = graft.index.CellGrid
        .coverBBox(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, l)
        .map { case (x, y) => graft.index.CellGrid.pack(x, y, l) }.toArray
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(cells)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "st_bbox_cells"
  }

  /** name -> (builder, usage) */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "st_area" -> (es => StUnaryGeom(es(0), "st_area", _.getArea, DoubleType)),
    "st_length" -> (es => StUnaryGeom(es(0), "st_length", _.getLength, DoubleType)),
    "st_npoints" -> (es => StUnaryGeom(es(0), "st_npoints", _.getNumPoints.toLong, LongType)),
    "st_isvalid" -> (es => StUnaryGeom(es(0), "st_isvalid", _.isValid, BooleanType)),
    "st_centroid" -> (es => StUnaryGeom(es(0), "st_centroid", _.getCentroid, BinaryType)),
    "st_envelope" -> (es => StUnaryGeom(es(0), "st_envelope", _.getEnvelope, BinaryType)),
    "st_x" -> (es => StUnaryGeom(es(0), "st_x",
      g => g.asInstanceOf[org.locationtech.jts.geom.Point].getX, DoubleType)),
    "st_y" -> (es => StUnaryGeom(es(0), "st_y",
      g => g.asInstanceOf[org.locationtech.jts.geom.Point].getY, DoubleType)),
    "st_xmin" -> (es => StUnaryGeom(es(0), "st_xmin", _.getEnvelopeInternal.getMinX, DoubleType)),
    "st_ymin" -> (es => StUnaryGeom(es(0), "st_ymin", _.getEnvelopeInternal.getMinY, DoubleType)),
    "st_xmax" -> (es => StUnaryGeom(es(0), "st_xmax", _.getEnvelopeInternal.getMaxX, DoubleType)),
    "st_ymax" -> (es => StUnaryGeom(es(0), "st_ymax", _.getEnvelopeInternal.getMaxY, DoubleType)),
    "st_bbox_cells" -> (es => StBboxCells(es(0), es(1))),
    "st_distance" -> (es => StBinaryGeomPred(es(0), es(1), "st_distance",
      (a, b) => a.distance(b), DoubleType)),
    "st_intersects" -> (es => StBinaryGeomPred(es(0), es(1), "st_intersects",
      (a, b) => a.intersects(b), BooleanType)),
    "st_within" -> (es => StBinaryGeomPred(es(0), es(1), "st_within",
      (a, b) => a.within(b), BooleanType)),
    "st_buffer" -> (es => StBuffer(es(0), es(1))),
    "st_clip_bbox" -> (es => StClipBbox(es)),
    "st_simplify" -> (es => StSimplify(es(0), es(1))),
    "st_cell_x" -> (es => ex(CellGrid.cellX(co(d(es(0))), intArg(es(1), "level")))),
    "st_cell_y" -> (es => ex(CellGrid.cellY(co(d(es(0))), intArg(es(1), "level")))),
    "st_cell_id" -> (es => cellId(es(0), es(1), intArg(es(2), "level"))),
    "st_tile_x" -> (es => ex(TileAssign.tileX(co(d(es(0))), intArg(es(1), "zoom")))),
    "st_tile_y" -> (es => ex(TileAssign.tileY(co(d(es(0))), intArg(es(1), "zoom")))),
    "st_merc_x" -> (es => mercX(es(0))),
    "st_merc_y" -> (es => mercY(es(0))),
    "st_geomfromgeojson" -> (es => StGeomFromGeoJson(es(0))),
    "st_geometrytype" -> (es => StUnaryGeom(es(0), "st_geometrytype", _.getGeometryType, StringType)),
    "st_astext" -> (es => StUnaryGeom(es(0), "st_astext", _.toText, StringType)),
    "st_transform" -> (es => StTransform(es(0), es(1), es(2))),
    "st_contains" -> (es => StContains(es(0), es(1))),
    "st_point" -> (es => StPoint(es(0), es(1))),
    // aggregate: bbox union per group (PostGIS ST_Extent)
    "st_extent" -> (es => ExtentAgg(es(0)).toAggregateExpression())
  )
}

object GraftFunctions {
  /** Register all st_* functions on an existing session. */
  def register(spark: SparkSession): Unit =
    SqlFunctions.functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
}
