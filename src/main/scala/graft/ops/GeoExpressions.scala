package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.{GraftShim => ExpressionUtils}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import graft.TableMemo
import graft.index.CoverIndex
import graft.geom.WkbCodec

/** Native Catalyst expressions for the hot broadcast probes.
  *
  * A Scala UDF returning `Array[Long]` goes through CatalystTypeConverters:
  * every element is BOXED into a GenericArrayData — ~10 heap objects per
  * fact row. At 10^12 rows that garbage is the scaling bottleneck (profiled
  * locally: worker JVMs burn ~half their CPU in GC). These expressions
  * return `UnsafeArrayData.fromPrimitiveArray` directly — one flat buffer,
  * zero boxing. They close over a broadcast, so they still generate no
  * code, and the projection that holds one runs interpreted, outside
  * whole-stage codegen. The stateless kernels are plain methods on
  * [[GeoExpressions]], called through [[Kernel]].
  *
  * `st_containing_polys` calls [[CoverIndex.containing]] per row: the
  * point's cell candidates, refined by the index's flat ray-crossing
  * kernel (no JTS geometry and no lock on the row path).
  */
case class PolyContainsExpr(left: Expression, right: Expression,
                            bc: Broadcast[CoverIndex])
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(lon: Any, lat: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      bc.value.containing(lon.asInstanceOf[Double], lat.asInstanceOf[Double]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_containing_polys"
}

/** `st_knn_pois`: per row, [[PoiGrid.knn]] — exact ring expansion over the
  * grid's dense cell table. */
case class KnnPoisExpr(left: Expression, right: Expression,
                       bc: Broadcast[PoiGrid], k: Int)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(lon: Any, lat: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      bc.value.knn(lon.asInstanceOf[Double], lat.asInstanceOf[Double], k))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "st_knn_pois"
}

/** Compact broadcastable node-coordinate map: ids sorted, coords in
  * parallel arrays, binary-search probe — half the heap of a boxed
  * HashMap and no per-probe allocation. */
final class NodeCoordMap(val ids: Array[Long], val lons: Array[Double],
                         val lats: Array[Double]) extends Serializable {
  /** index of node_id, or -1 when absent (= the join-miss drop). */
  def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
}

object NodeCoordMap {
  def fromRows(rows: Array[org.apache.spark.sql.Row]): NodeCoordMap = {
    val sorted = rows.sortBy(_.getLong(0))
    new NodeCoordMap(sorted.map(_.getLong(0)),
      sorted.map(_.getDouble(1)), sorted.map(_.getDouble(2)))
  }
}

/** Whole way assembly inside the row: probe each raw ref against the
  * broadcast node map IN ORDER (misses skipped — the inner-join drop),
  * then build the WKB with [[GeoExpressions.wayGeom]]. Output
  * struct(closed, npts, geom); npts = 0 marks a way with no resolved ref,
  * which the join form drops entirely (caller filters). This replaces
  * posexplode(refs) -> join -> groupBy/sort_array for the broadcast case:
  * the explode+regroup shuffled every vertex (plus the way's tags,
  * duplicated per ref) only to reassemble an order the refs array already
  * had. The declarative join path remains for node sets too big to
  * broadcast. */
case class WayAssembleExpr(child: Expression, bc: Broadcast[NodeCoordMap])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = StructType(Seq(
    StructField("closed", BooleanType, nullable = false),
    StructField("npts", IntegerType, nullable = false),
    StructField("geom", BinaryType, nullable = true)))
  override def nullSafeEval(refsAny: Any): Any = {
    val refs = refsAny.asInstanceOf[ArrayData]
    val n = refs.numElements()
    val m = bc.value
    val coords = new scala.collection.mutable.ArrayBuffer[(Double, Double)](n)
    var i = 0
    while (i < n) {
      val idx = m.indexOf(refs.getLong(i))
      if (idx >= 0) coords += ((m.lons(idx), m.lats(idx)))
      i += 1
    }
    val closed = n > 0 && refs.getLong(0) == refs.getLong(n - 1)
    org.apache.spark.sql.catalyst.InternalRow(closed, coords.length,
      GeoExpressions.wayGeom(closed, coords.toSeq))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "osm_way_assemble"
}

/** The [[GeoExpressions.preparedContains]] refine with the polygon bytes
  * coming from a broadcast poly_id -> WKB map instead of a join column — the
  * [[graft.index.CellPyramid]] boundary probe, where shipping one WKB per
  * (poly, cell) pair was the round-3 scale-killer. */
case class PreparedContainsMapExpr(first: Expression, second: Expression,
                                   third: Expression,
                                   bc: Broadcast[Map[Long, Array[Byte]]])
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullSafeEval(id: Any, lon: Any, lat: Any): Any = {
    val polyId = id.asInstanceOf[Long]
    GeoExpressions.preparedContains(polyId, bc.value(polyId),
      lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "st_prepared_contains_bc"
}

object GeoExpressions {

  /** Prepared-geometry point-in-polygon refine for the SHUFFLE join path:
    * (poly_id, wkb, lon, lat) -> boolean, through the per-thread
    * [[graft.geom.PreparedCache]]. The WKB bytes come straight off the
    * InternalRow — no CatalystTypeConverters boxing per candidate pair. */
  def preparedContains(polyId: Long, wkb: Array[Byte], lon: Double, lat: Double): Boolean =
    graft.geom.PreparedCache.get(polyId, wkb).contains(graft.geom.ProbePoint.at(lon, lat))

  def preparedContains(polyId: Column, wkb: Column, lon: Column, lat: Column): Column =
    Kernel.column("st_prepared_contains", this, "preparedContains", BooleanType)(
      polyId -> LongType, wkb -> BinaryType, lon -> DoubleType, lat -> DoubleType)

  /** (poly_id, lon, lat) -> point-in-polygon boolean, WKB from a broadcast
    * poly_id -> bytes map (pyramid boundary refine). */
  def preparedContainsBc(polyId: Column, lon: Column, lat: Column,
                         bc: Broadcast[Map[Long, Array[Byte]]]): Column =
    ExpressionUtils.column(PreparedContainsMapExpr(
      ExpressionUtils.expression(polyId), ExpressionUtils.expression(lon),
      ExpressionUtils.expression(lat), bc))

  /** Polygon cover cells for the SHUFFLE pip-join's dim side: WKB ->
    * packed (cx<<32|cy) cell keys at `level` (bbox cover + exact JTS
    * intersects refine, [[CoverIndex.coverCells]]), as one flat primitive
    * buffer. */
  def coverCells(wkb: Array[Byte], level: Int): ArrayData = {
    val cells = CoverIndex.coverCells(WkbCodec.read(wkb), level)
    val out = new Array[Long](cells.length)
    var i = 0
    cells.foreach { case (cx, cy) => out(i) = (cx << 32) | cy; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def coverCells(wkb: Column, level: Int): Column =
    Kernel.column("st_cover_cells", this, "coverCells", ArrayType(LongType, containsNull = false))(
      wkb -> BinaryType, lit(level) -> IntegerType)

  /** An OSM way's WKB from its resolved vertices: closed → Polygon if the
    * auto-closed ring has ≥ 4 points, else LineString if ≥ 2 points;
    * under-resolved ways keep geom = null (the reference implementation's
    * rule F1, its `src/format/osmpbf.rs:71-100`). */
  def wayGeom(closed: Boolean, coords: Seq[(Double, Double)]): Array[Byte] = {
    val n = coords.length
    if (closed) {
      val ringLen = if (n > 0 && coords(0) != coords(n - 1)) n + 1 else n
      if (ringLen >= 4) WkbCodec.write(WkbCodec.polygon(coords)) else null
    } else {
      if (n >= 2) WkbCodec.write(WkbCodec.lineString(coords)) else null
    }
  }

  /** Way-geometry build (the tail of the J1 node↔way join): [[wayGeom]]
    * over the sorted (pos, lon, lat) struct array, read straight out of
    * the InternalRow buffers. */
  def wayWkb(closed: Boolean, pts: ArrayData): Array[Byte] = {
    val n = pts.numElements()
    val coords = new Array[(Double, Double)](n)
    var i = 0
    while (i < n) {
      val s = pts.getStruct(i, 3)
      coords(i) = (s.getDouble(1), s.getDouble(2))
      i += 1
    }
    wayGeom(closed, scala.collection.immutable.ArraySeq.unsafeWrapArray(coords))
  }

  private val WayPoints = ArrayType(StructType(Seq(StructField("pos", IntegerType),
    StructField("lon", DoubleType), StructField("lat", DoubleType))))

  /** (closed, pts) -> WKB geometry for an assembled OSM way. */
  def wayWkb(closed: Column, pts: Column): Column =
    Kernel.column("way_wkb", this, "wayWkb", BinaryType, returnsNull = true)(
      closed -> BooleanType, pts -> WayPoints)

  /** refs -> struct(closed, npts, geom) via the broadcast node map. */
  def wayAssemble(refs: Column, bc: Broadcast[NodeCoordMap]): Column =
    ExpressionUtils.column(WayAssembleExpr(ExpressionUtils.expression(refs), bc))

  /** (lon, lat) -> array<long> of containing polygon ids; polygon layer
    * collected + broadcast once per layer version ([[graft.TableMemo]]). */
  def containingCol(spark: SparkSession, polygons: DataFrame, level: Int): (Column, Column) => Column = {
    val bc = TableMemo.derived(spark, "containingCol", polygons, level) {
      val collected = polygons.select("poly_id", "geom").collect()
      TableMemo.Held.broadcast(spark.sparkContext.broadcast(CoverIndex.build(
        collected.map(_.getLong(0)), collected.map(_.getAs[Array[Byte]](1)), level)))
    }
    (lon, lat) => ExpressionUtils.column(
      PolyContainsExpr(ExpressionUtils.expression(lon), ExpressionUtils.expression(lat), bc))
  }

  /** (lon, lat) -> array<long> of the k nearest poi ids, ordered.
    * `geodesic = true` ranks by great-circle distance (haversine) instead
    * of planar degrees — see [[PoiGrid]]. The grid is built and broadcast
    * once per layer version ([[graft.TableMemo]]). */
  def knnCol(spark: SparkSession, pois: DataFrame, k: Int, level: Int,
             geodesic: Boolean = false): (Column, Column) => Column = {
    val bc = TableMemo.derived(spark, "knnCol", pois, level, geodesic) {
      val rows = pois.select("poi_id", "px", "py").collect()
      TableMemo.Held.broadcast(spark.sparkContext.broadcast(new PoiGrid(level,
        rows.map(_.getLong(0)), rows.map(_.getDouble(1)), rows.map(_.getDouble(2)), geodesic)))
    }
    (lon, lat) => ExpressionUtils.column(
      KnnPoisExpr(ExpressionUtils.expression(lon), ExpressionUtils.expression(lat), bc, k))
  }
}
