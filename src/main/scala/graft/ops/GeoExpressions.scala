package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import graft.TableMemo
import graft.index.CoverIndex
import graft.geom.WkbCodec

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

/** The geometry kernels of the spatial operators: plain methods called
  * through [[Kernel]], so every operator that calls one stays inside
  * whole-stage codegen.
  *
  * The hot broadcast probes take their broadcast as an object argument
  * ([[Kernel.constant]]) and return `UnsafeArrayData.fromPrimitiveArray`
  * directly: one flat buffer, no boxing. (A Scala UDF returning
  * `Array[Long]` goes through CatalystTypeConverters, which boxes every
  * element into a GenericArrayData: about 10 heap objects per fact row,
  * and worker JVMs spent about half their CPU in GC.)
  *
  * `st_containing_polys` calls [[CoverIndex.containing]] per row: the
  * point's quadtree leaf gives the polygons that contain its whole cell
  * and the boundary polygons, which the index's flat ray-crossing kernel
  * refines (no JTS geometry and no lock on the row path). The shuffle
  * joins refine each candidate pair with the same kernel
  * ([[polygonContains]]).
  */
object GeoExpressions {

  private val LongArray = ArrayType(LongType, containsNull = false)

  /** `st_containing_polys` kernel: the ids of the polygons containing
    * (lon, lat), sorted. */
  def containing(bc: Broadcast[CoverIndex], lon: Double, lat: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(bc.value.containing(lon, lat))

  /** `st_knn_pois` kernel: [[PoiGrid.knn]], exact ring expansion over the
    * grid's dense cell table. */
  def knn(bc: Broadcast[PoiGrid], lon: Double, lat: Double, k: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(bc.value.knn(lon, lat, k))

  /** The shuffle joins' point-in-polygon refine: whether polygon `polyId`,
    * with WKB `wkb`, contains (lon, lat), tested by its one-polygon
    * [[CoverIndex.Rings]] from the calling thread's cache
    * ([[CoverIndex.Rings.cached]]). A candidate pair carries its polygon's
    * WKB, read straight off the InternalRow; a polygon that is neither a
    * Polygon nor a MultiPolygon fails with its id. */
  def polygonContains(polyId: Long, wkb: Array[Byte], lon: Double, lat: Double): Boolean =
    CoverIndex.Rings.cached(polyId, wkb).contains(0, lon, lat)

  def polygonContains(polyId: Column, wkb: Column, lon: Column, lat: Column): Column =
    Kernel.column("st_polygon_contains", this, "polygonContains", BooleanType)(
      polyId -> LongType, wkb -> BinaryType, lon -> DoubleType, lat -> DoubleType)

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
    Kernel.column("st_cover_cells", this, "coverCells", LongArray)(
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

  private val WayAssembly = StructType(Seq(
    StructField("closed", BooleanType, nullable = false),
    StructField("npts", IntegerType, nullable = false),
    StructField("geom", BinaryType, nullable = true)))

  /** Whole way assembly inside the row: probe each raw ref against the
    * broadcast node map IN ORDER (misses skipped: the inner-join drop),
    * then build the WKB with [[wayGeom]]. Output an array of one
    * struct(closed, npts, geom), or of none for a way with no resolved ref,
    * which the join form drops entirely: `inline` over it drops the way
    * with no filter, which the optimizer would push below the projection
    * and evaluate the assembly for a second time. This replaces
    * posexplode(refs) -> join -> groupBy/sort_array for the broadcast
    * case: the explode and regroup shuffled every vertex (plus the way's
    * tags, duplicated per ref) only to reassemble an order the refs array
    * already had. The declarative join path remains for node sets too big
    * to broadcast. */
  def wayAssemble(bc: Broadcast[NodeCoordMap], refs: ArrayData): ArrayData = {
    val n = refs.numElements()
    val m = bc.value
    val coords = new scala.collection.mutable.ArrayBuffer[(Double, Double)](n)
    var i = 0
    while (i < n) {
      val idx = m.indexOf(refs.getLong(i))
      if (idx >= 0) coords += ((m.lons(idx), m.lats(idx)))
      i += 1
    }
    if (coords.isEmpty) new GenericArrayData(Array.empty[Any])
    else {
      val closed = n > 0 && refs.getLong(0) == refs.getLong(n - 1)
      new GenericArrayData(Array[Any](InternalRow(closed, coords.length, wayGeom(closed, coords.toSeq))))
    }
  }

  /** refs -> zero or one struct(closed, npts, geom) via the broadcast node
    * map. */
  def wayAssemble(refs: Column, bc: Broadcast[NodeCoordMap]): Column =
    Kernel.column("osm_way_assemble", this, "wayAssemble", ArrayType(WayAssembly, containsNull = false))(
      Kernel.constant(bc), refs -> ArrayType(LongType))

  /** (lon, lat) -> array<long> of containing polygon ids; polygon layer
    * collected + broadcast once per layer version ([[graft.TableMemo]]). */
  def containingCol(spark: SparkSession, polygons: DataFrame, level: Int): (Column, Column) => Column = {
    val bc = TableMemo.derived(spark, "containingCol", polygons, level) {
      val collected = polygons.select("poly_id", "geom").collect()
      TableMemo.Held.broadcast(spark.sparkContext.broadcast(CoverIndex.build(
        collected.map(_.getLong(0)), collected.map(_.getAs[Array[Byte]](1)), level)))
    }
    (lon, lat) => Kernel.column("st_containing_polys", this, "containing", LongArray)(
      Kernel.constant(bc), lon -> DoubleType, lat -> DoubleType)
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
    (lon, lat) => Kernel.column("st_knn_pois", this, "knn", LongArray)(
      Kernel.constant(bc), lon -> DoubleType, lat -> DoubleType, lit(k) -> IntegerType)
  }
}
