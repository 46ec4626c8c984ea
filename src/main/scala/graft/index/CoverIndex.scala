package graft.index

import org.locationtech.jts.algorithm.CGAlgorithmsDD
import org.locationtech.jts.geom.{Envelope, Geometry, LinearRing, MultiPolygon, Polygon}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.index.strtree.STRtree
import graft.GraftError
import graft.geom.WkbCodec

import scala.collection.mutable

/** Broadcastable polygon covering index (north-rule operator): each polygon
  * is covered by the grid cells (at `level`) its envelope intersects,
  * refined by an exact JTS intersection test; point lookups probe the
  * point's cell, then refine each candidate with the flat ray-crossing
  * kernel of [[CoverIndex.Rings]]. Dense cells (many candidate polygons —
  * the skewed "urban" case) get a per-cell STRtree so a lookup is
  * O(log n) in candidates, not O(n).
  *
  * Ships the layer as [[CoverIndex.Polygons]] (ids and WKB: serializable,
  * compact); the ring arrays and trees are rebuilt lazily once per
  * executor JVM (`@transient lazy val`). Cell candidates are positions in
  * `polygons`.
  * This is the scale path for the reference's per-feature geometry pipeline
  * (`/root/reference/src/format/geo.rs:5-48`): the polygon side is the
  * broadcast dim, the point side streams through a narrow map — no shuffle.
  */
class CoverIndex(
    val level: Int,
    val polygons: CoverIndex.Polygons,
    val cellToPolys: Map[Long, Array[Int]],
    val denseThreshold: Int = 16
) extends Serializable {

  /** Primitive probe index (r6): the per-row cell lookup through
    * `Map[Long, _]` boxed the packed key on EVERY fact-row probe (plus a
    * second boxed lookup for the dense-tree map). Rebuilt per executor
    * JVM as three parallel arrays — sorted keys, candidate lists, and the
    * STRtree for cells above denseThreshold (null below) — so a probe is
    * one allocation-free binary search. */
  @transient private lazy val probeKeys: Array[Long] = cellToPolys.keys.toArray.sorted
  @transient private lazy val probeVals: Array[Array[Int]] = probeKeys.map(cellToPolys)
  @transient private lazy val probeTrees: Array[STRtree] = probeVals.map { idxs =>
    if (idxs.length >= denseThreshold) {
      val r = polygons.rings
      val t = new STRtree()
      idxs.foreach(i => t.insert(new Envelope(r.minX(i), r.maxX(i), r.minY(i), r.maxY(i)),
        Integer.valueOf(i)))
      t.build()
      t
    } else null
  }

  def cellKey(cx: Long, cy: Long): Long = (cx << 32) | cy

  private val empty = Array.empty[Long]

  /** Polygon ids exactly containing the point (JTS `contains`: boundary
    * excluded — the synthetic layers keep points off boundaries), sorted.
    * Allocation-light: runs once per fact row (10^12 times), so per-probe
    * garbage is a GC/scaling tax — the dense-tree query envelope and
    * candidate buffer are per-thread ([[CoverIndex.IntVisitor]], r6), and
    * the result copy is skipped when every candidate matched. */
  def containing(lon: Double, lat: Double): Array[Long] = {
    val key = cellKey(CellGrid.cellX(lon, level), CellGrid.cellY(lat, level))
    val slot = java.util.Arrays.binarySearch(probeKeys, key)
    if (slot < 0) return empty
    val r = polygons.rings
    var cands = probeVals(slot)
    var nc = cands.length
    val tree = probeTrees(slot)
    if (tree != null) {
      // reusable visitor: STRtree.query(env) allocates an ArrayList per
      // probe; the visitor form accumulates into a per-thread int buffer
      val vis = CoverIndex.visitor.get()
      vis.reset()
      vis.env.init(lon, lon, lat, lat)
      tree.query(vis.env, vis)
      cands = vis.buf; nc = vis.size
    }
    val out = new Array[Long](nc)
    var m = 0; var j = 0
    while (j < nc) {
      val i = cands(j)
      if (r.contains(i, lon, lat)) { out(m) = polygons.ids(i); m += 1 }
      j += 1
    }
    val res = if (m == out.length) out else java.util.Arrays.copyOf(out, m)
    java.util.Arrays.sort(res)
    res
  }

  def candidateCount(lon: Double, lat: Double): Int = {
    val key = cellKey(CellGrid.cellX(lon, level), CellGrid.cellY(lat, level))
    cellToPolys.get(key).map(_.length).getOrElse(0)
  }
}

object CoverIndex {

  /** Per-thread state of the dense-cell STRtree probe (r6): the point's
    * degenerate query envelope, and a growable candidate collector —
    * `query(env)` allocates a fresh ArrayList per call. */
  final class IntVisitor extends org.locationtech.jts.index.ItemVisitor {
    val env: Envelope = new Envelope()
    var buf: Array[Int] = new Array[Int](64)
    var size: Int = 0
    def reset(): Unit = size = 0
    override def visitItem(item: AnyRef): Unit = {
      if (size == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      buf(size) = item.asInstanceOf[Integer].intValue()
      size += 1
    }
  }
  private[index] val visitor: ThreadLocal[IntVisitor] = new ThreadLocal[IntVisitor] {
    override def initialValue(): IntVisitor = new IntVisitor
  }

  /** Every ring segment of every polygon, as flat immutable arrays, and the
    * point-in-polygon refine over them. Polygon `i` has an envelope, the
    * segments of the shell and holes of all its components, and the
    * y-bands `bandStart(i) until bandStart(i + 1)`: its envelope's height
    * cut into equal bands, band `b` listing in `bandSegs(bandOff(b) until
    * bandOff(b + 1))` (CSR form) every segment whose y-range meets it.
    *
    * [[contains]] is JTS `PreparedGeometry.contains` for a point, bit for
    * bit: the closed envelope covers the point, and the
    * `RayCrossingCounter` rule over the segments of its band says
    * INTERIOR — the location `IndexedPointInAreaLocator` computes over all
    * segments whose y-range holds the point (a band holds all of those
    * and maybe more, and a segment whose y-range misses the point never
    * counts a crossing or a touch). A point on any segment is not
    * contained. Nothing here is mutable or locked: JTS's prepared polygon
    * enters two `synchronized` methods on every refine, on polygon
    * objects every task thread of an executor shares, and locates each
    * point twice. */
  final class Rings private (
      val minX: Array[Double], val maxX: Array[Double],
      val minY: Array[Double], val maxY: Array[Double],
      segX0: Array[Double], segY0: Array[Double], segX1: Array[Double], segY1: Array[Double],
      bandStart: Array[Int], bandScale: Array[Double],
      bandOff: Array[Int], bandSegs: Array[Int]) {

    def contains(i: Int, x: Double, y: Double): Boolean = {
      if (!(x >= minX(i) && x <= maxX(i) && y >= minY(i) && y <= maxY(i))) return false
      val b0 = bandStart(i)
      val b = b0 + math.min((bandStart(i + 1) - b0) - 1, ((y - minY(i)) * bandScale(i)).toInt)
      var crossings = 0
      var j = bandOff(b)
      val end = bandOff(b + 1)
      while (j < end) {
        val s = bandSegs(j)
        val x0 = segX0(s); val y0 = segY0(s); val x1 = segX1(s); val y1 = segY1(s)
        if (!(x0 < x && x1 < x)) {
          if (x == x1 && y == y1) return false
          if (y0 == y && y1 == y) {
            if (x >= math.min(x0, x1) && x <= math.max(x0, x1)) return false
          } else if ((y0 > y && y1 <= y) || (y1 > y && y0 <= y)) {
            val orient = CGAlgorithmsDD.orientationIndex(x0, y0, x1, y1, x, y)
            if (orient == 0) return false
            // the segment re-oriented upwards crosses the ray iff the
            // point lies to its left
            if ((if (y1 < y0) -orient else orient) > 0) crossings += 1
          }
        }
        j += 1
      }
      (crossings & 1) == 1
    }
  }

  object Rings {

    private final case class Key(id: Long, len: Int, hash: Int)

    private final class Entry(val wkb: Array[Byte], val rings: Rings)

    private val MaxEntries = 4096

    private val cache: ThreadLocal[java.util.LinkedHashMap[Key, Entry]] =
      ThreadLocal.withInitial { () =>
        new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true) {
          override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
            size() > MaxEntries
        }
      }

    /** The one-polygon Rings of polygon `id` with WKB `wkb`, for the
      * shuffle-side refines, where a dense cell delivers the same polygon
      * to the refine thousands of times per task: from the calling
      * thread's bounded LRU, built on a miss.
      *
      * Keyed by (id, wkb.length, Arrays.hashCode(wkb)): the id alone is
      * not safe, because one JVM runs many queries over polygon layers
      * that can reuse ids. A hit also compares the stored bytes with
      * `Arrays.equals`, so a reused id with equal-length, hash-colliding
      * WKB never gets another polygon's answer. Per thread because the LRU
      * order is mutable; bounded so a huge layer cannot pin unbounded heap
      * per thread. */
    def cached(id: Long, wkb: Array[Byte]): Rings = {
      val key = Key(id, wkb.length, java.util.Arrays.hashCode(wkb))
      val m = cache.get()
      var e = m.get(key)
      if (e == null || !java.util.Arrays.equals(e.wkb, wkb)) {
        e = new Entry(wkb.clone(), Rings(Array(id), Array(WkbCodec.read(wkb))))
        m.put(key, e)
      }
      e.rings
    }

    /** Flattens polygonal geometries; a geometry that is neither a Polygon
      * nor a MultiPolygon fails with its id. */
    def apply(ids: Array[Long], geoms: Array[Geometry]): Rings = {
      val n = geoms.length
      val ringsOf = Array.tabulate(n)(i => polygonalRings(ids(i), geoms(i)))
      val segStart = ringsOf.map(_.map(r => math.max(0, r.getNumPoints - 1)).sum).scanLeft(0)(_ + _)
      val sx0 = new Array[Double](segStart(n)); val sy0 = new Array[Double](segStart(n))
      val sx1 = new Array[Double](segStart(n)); val sy1 = new Array[Double](segStart(n))
      val minX = Array.fill(n)(Double.PositiveInfinity); val maxX = Array.fill(n)(Double.NegativeInfinity)
      val minY = Array.fill(n)(Double.PositiveInfinity); val maxY = Array.fill(n)(Double.NegativeInfinity)
      val bandStart = new Array[Int](n + 1)
      val bandScale = new Array[Double](n)
      val bandOff = Array.newBuilder[Int]
      val bandSegs = Array.newBuilder[Int]
      var nEntries = 0
      var i = 0
      while (i < n) {
        var s = segStart(i)
        ringsOf(i).foreach { ring =>
          val cs = ring.getCoordinateSequence
          var k = 1
          while (k < cs.size()) {
            sx0(s) = cs.getX(k - 1); sy0(s) = cs.getY(k - 1); sx1(s) = cs.getX(k); sy1(s) = cs.getY(k)
            k += 1; s += 1
          }
        }
        if (!geoms(i).isEmpty) {
          val env = geoms(i).getEnvelopeInternal
          minX(i) = env.getMinX; maxX(i) = env.getMaxX; minY(i) = env.getMinY; maxY(i) = env.getMaxY
        }
        // about 4 segments a band, but at most 4 index entries a segment
        // beyond the 2 any segment may take at band edges: a tall segment
        // spans many bands
        val (first, end) = (segStart(i), segStart(i + 1))
        val m = end - first
        val height = maxY(i) - minY(i)
        val spanned = (first until end).map(s => math.abs(sy1(s) - sy0(s))).sum
        val nBands =
          if (m == 0 || !(height > 0)) 1
          else math.max(1, math.min(m / 4, (4.0 * m * height / spanned).toInt))
        bandScale(i) = if (height > 0) nBands / height else 0.0
        // the probe's band function; monotone in v, so a segment listed in
        // the bands of its two end y's is in the band of every y between
        def band(v: Double): Int = math.min(nBands - 1, ((v - minY(i)) * bandScale(i)).toInt)
        val lists = Array.fill(nBands)(Array.newBuilder[Int])
        for (s <- first until end; b <- band(math.min(sy0(s), sy1(s))) to band(math.max(sy0(s), sy1(s))))
          lists(b) += s
        lists.foreach { l =>
          val segs = l.result()
          bandOff += nEntries; bandSegs ++= segs; nEntries += segs.length
        }
        bandStart(i + 1) = bandStart(i) + nBands
        i += 1
      }
      bandOff += nEntries
      new Rings(minX, maxX, minY, maxY, sx0, sy0, sx1, sy1,
        bandStart, bandScale, bandOff.result(), bandSegs.result())
    }

    /** The shell and hole rings of every component of a polygonal geometry;
      * any other geometry fails with its id. */
    private[index] def polygonalRings(id: Long, g: Geometry): Seq[LinearRing] = g match {
      case p: Polygon => p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)
      case mp: MultiPolygon =>
        (0 until mp.getNumGeometries).flatMap(k => polygonalRings(id, mp.getGeometryN(k)))
      case other => throw GraftError.FailedValidation(
        s"CoverIndex: poly_id $id is a ${other.getGeometryType}, not a Polygon or MultiPolygon")
    }
  }

  /** A polygon layer as it ships: ids ascending, the WKB beside them, and
    * their [[Rings]], built from the WKB lazily, where a refine first needs
    * them, once per JVM. A geometry that is neither a Polygon nor a
    * MultiPolygon fails where the layer is made, on the driver, with its
    * id. Polygon `i` of `rings` is `ids(i)`. */
  final class Polygons private (val ids: Array[Long], val wkbs: Array[Array[Byte]])
    extends Serializable {
    @transient lazy val rings: Rings = Rings(ids, wkbs.map(WkbCodec.read))

    /** Whether the polygon `polyId` of this layer contains (x, y). */
    def contains(polyId: Long, x: Double, y: Double): Boolean =
      rings.contains(java.util.Arrays.binarySearch(ids, polyId), x, y)

    // a plan that holds the layer as a kernel constant prints this
    override def toString: String = s"Polygons(${ids.length})"
  }

  object Polygons {
    def apply(ids: Array[Long], wkbs: Array[Array[Byte]]): Polygons = decoded(ids, wkbs)._1

    /** The layer, with its geometries decoded once, in its order. Only the
      * geometry type is checked here: the flat [[Rings]] wait for a refine. */
    private[index] def decoded(ids: Array[Long], wkbs: Array[Array[Byte]]): (Polygons, Array[Geometry]) = {
      val order = ids.indices.sortBy(ids(_)).toArray
      val p = new Polygons(order.map(ids), order.map(wkbs))
      (p, Array.tabulate(order.length) { i =>
        val g = WkbCodec.read(p.wkbs(i))
        Rings.polygonalRings(p.ids(i), g)
        g
      })
    }
  }

  /** Build on the driver from a collected (small/dim) polygon layer. */
  def build(polyIds: Array[Long], polyWkbs: Array[Array[Byte]], level: Int): CoverIndex = {
    val (polygons, geoms) = Polygons.decoded(polyIds, polyWkbs)
    val cellMap = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    var i = 0
    while (i < geoms.length) {
      coverCells(geoms(i), level).foreach { case (cx, cy) =>
        cellMap.getOrElseUpdate((cx << 32) | cy, mutable.ArrayBuffer.empty) += i
      }
      i += 1
    }
    new CoverIndex(level, polygons, cellMap.view.mapValues(_.toArray).toMap)
  }

  /** Cells at `level` whose rectangle intersects the geometry (bbox cover +
    * exact refine, SURVEY.md §2b "covering index"). */
  def coverCells(g: Geometry, level: Int): Seq[(Long, Long)] = {
    val env = g.getEnvelopeInternal
    val cand = CellGrid.coverBBox(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, level)
    if (cand.size <= 1) cand
    else {
      val pf = new PreparedGeometryFactory().create(g)
      cand.filter { case (cx, cy) =>
        val id = CellGrid.pack(cx, cy, level)
        val (x0, y0, x1, y1) = CellGrid.bounds(id)
        pf.intersects(WkbCodec.polygon(Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1))))
      }
    }
  }
}
