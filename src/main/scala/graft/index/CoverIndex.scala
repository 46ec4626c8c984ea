package graft.index

import org.locationtech.jts.algorithm.CGAlgorithmsDD
import org.locationtech.jts.geom.{Geometry, LinearRing, MultiPolygon, Polygon}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import graft.GraftError
import graft.geom.WkbCodec

import scala.collection.mutable

/** Broadcastable polygon covering index (north-rule operator): a quadtree
  * cover of the polygon layer, derived from the data as in GeoBlocks
  * (EDBT'21) and Raptor (VLDB'19), so that most point lookups resolve
  * with no geometry test at all.
  *
  * The cover's roots are the cells at `level` that a polygon's boundary
  * meets (a coarser cell that none meets is a leaf already); a root
  * splits into its four children while it holds more than
  * [[CoverIndex.SplitAbove]] boundary polygons and is above
  * [[CoverIndex.MaxLevel]]. Each leaf keeps two lists of positions in
  * `polygons`, both ascending: the polygons that contain the whole cell
  * (hits with no refine) and the polygons whose boundary meets it
  * (refined by the flat ray-crossing kernel of [[CoverIndex.Rings]]). See
  * [[CoverIndex.Cover]] for why the interior lists are exact.
  *
  * Ships the layer as [[CoverIndex.Polygons]] (ids and WKB: serializable,
  * compact); the ring arrays and the cover are built lazily once per
  * executor JVM (`@transient lazy val`).
  * This is the scale path for the reference's per-feature geometry pipeline
  * (`/root/reference/src/format/geo.rs:5-48`): the polygon side is the
  * broadcast dim, the point side streams through a narrow map — no shuffle.
  */
class CoverIndex(val level: Int, val polygons: CoverIndex.Polygons) extends Serializable {

  @transient private lazy val cover: CoverIndex.Cover = CoverIndex.Cover(polygons, level)

  /** Polygon ids exactly containing the point (JTS `contains`: boundary
    * excluded), ascending. One binary search finds the point's leaf; its
    * interior list is merged with the boundary polygons that contain the
    * point. Allocates only the result: it runs once per fact row. */
  def containing(lon: Double, lat: Double): Array[Long] = cover.containing(lon, lat)

  /** The refines a probe of (lon, lat) makes: the length of its leaf's
    * boundary list. Interior hits need no refine, so hits per candidate
    * can exceed 1. */
  def candidateCount(lon: Double, lat: Double): Int = cover.boundaryCount(lon, lat)
}

object CoverIndex {

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
      private[index] val segStart: Array[Int],
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

    /** Whether segment `s` meets the closed rectangle [x0, x1] x [y0, y1],
      * tested exactly by the separating-axis test: bounding boxes, then
      * whether all four corners lie strictly on one side of the segment's
      * line. Orientation grows with a corner's projection on the line's
      * left normal (-dy, dx), whose signs are exact, so the corners of
      * least and greatest projection decide that. Polygon `i`'s segments
      * are `segStart(i) until segStart(i + 1)`. */
    private[index] def segmentMeets(s: Int, x0: Double, y0: Double, x1: Double, y1: Double): Boolean = {
      val ax = segX0(s); val ay = segY0(s); val bx = segX1(s); val by = segY1(s)
      if (math.max(ax, bx) < x0 || math.min(ax, bx) > x1 || math.max(ay, by) < y0 || math.min(ay, by) > y1) false
      else if (ax >= x0 && ax <= x1 && ay >= y0 && ay <= y1) true
      else {
        val right = by < ay; val up = bx > ax
        CGAlgorithmsDD.orientationIndex(ax, ay, bx, by, if (right) x1 else x0, if (up) y1 else y0) >= 0 &&
          CGAlgorithmsDD.orientationIndex(ax, ay, bx, by, if (right) x0 else x1, if (up) y0 else y1) <= 0
      }
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
      new Rings(minX, maxX, minY, maxY, segStart, sx0, sy0, sx1, sy1,
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
    /** The layer in id order. Only the geometry type is checked here: the
      * flat [[Rings]] wait for a refine. */
    def apply(ids: Array[Long], wkbs: Array[Array[Byte]]): Polygons = {
      val order = ids.indices.sortBy(ids(_)).toArray
      val p = new Polygons(order.map(ids), order.map(wkbs))
      var i = 0
      while (i < order.length) { Rings.polygonalRings(p.ids(i), WkbCodec.read(p.wkbs(i))); i += 1 }
      p
    }
  }

  /** Cells split while they hold more than this many boundary polygons. */
  val SplitAbove = 8

  /** No cell splits below this level (or below the root level, if that is
    * finer): at 16 a cell is 0.0055 x 0.0027 degrees. */
  val MaxLevel = 16

  /** A polygon layer on the driver, from a collected (small/dim) layer: its
    * ids, WKB and geometry type check. The cover is built on first probe. */
  def build(polyIds: Array[Long], polyWkbs: Array[Array[Byte]], level: Int): CoverIndex = {
    if (level < 0 || level > CellGrid.MaxLevel)
      throw GraftError.FailedValidation(s"CoverIndex: level $level outside 0..${CellGrid.MaxLevel}")
    new CoverIndex(level, Polygons(polyIds, polyWkbs))
  }

  /** The quadtree cover of a layer: leaves sorted by the Morton key, at
    * the cover's finest level `maxLevel`, of their first cell, and a pool
    * of distinct ascending position lists (CSR: list `l` is
    * `items(listOff(l) until listOff(l + 1))`) that each leaf's interior
    * and boundary lists point into. The leaves tile the whole grid: cells
    * that meet no polygon are leaves with two empty lists.
    *
    * A point belongs to the leaf of its `CellGrid.cellX`/`cellY` cell at
    * `maxLevel`, and the rounding of those formulas can put a point a few
    * ulps of 360 degrees outside the cell's exact rectangle. So every
    * classification tests the cell's closed rectangle widened by
    * [[Margin]], and an edge cell, to which the grid's clamp sends every
    * point beyond it, is widened past every polygon on that side. A polygon
    * is boundary in a cell if one of its segments meets that rectangle.
    * Otherwise the rectangle lies in one connected region of the plane
    * minus all ring segments, where the ray-crossing parity of
    * [[Rings.contains]] is constant, so one test at the cell's centre
    * decides interior (every point of the cell is strictly inside) or
    * disjoint. An interior hit is therefore the answer `Rings.contains`
    * would give, bit for bit. */
  final class Cover private (
      rings: Rings, ids: Array[Long], maxLevel: Int,
      leafStart: Array[Long], leafInterior: Array[Int], leafBoundary: Array[Int],
      listOff: Array[Int], items: Array[Int]) {

    private def leaf(lon: Double, lat: Double): Int = {
      val key = CellGrid.morton(CellGrid.cellX(lon, maxLevel), CellGrid.cellY(lat, maxLevel))
      val s = java.util.Arrays.binarySearch(leafStart, key)
      if (s >= 0) s else -s - 2
    }

    def boundaryCount(lon: Double, lat: Double): Int = {
      val l = leafBoundary(leaf(lon, lat))
      listOff(l + 1) - listOff(l)
    }

    /** The leaf's interior ids merged with its boundary polygons that
      * contain the point: positions ascend in both lists and ids ascend
      * with positions, so the result is sorted with no sort. */
    def containing(lon: Double, lat: Double): Array[Long] = {
      val f = leaf(lon, lat)
      var a = listOff(leafInterior(f)); val aEnd = listOff(leafInterior(f) + 1)
      var b = listOff(leafBoundary(f)); val bEnd = listOff(leafBoundary(f) + 1)
      val n = (aEnd - a) + (bEnd - b)
      if (n == 0) return Cover.empty
      val out = new Array[Long](n)
      var m = 0
      while (a < aEnd || b < bEnd) {
        if (b == bEnd || (a < aEnd && items(a) < items(b))) {
          out(m) = ids(items(a)); m += 1; a += 1
        } else {
          val i = items(b)
          if (rings.contains(i, lon, lat)) { out(m) = ids(i); m += 1 }
          b += 1
        }
      }
      if (m == n) out else java.util.Arrays.copyOf(out, m)
    }
  }

  /** Widening of each cell rectangle: it bounds how far the rounding in
    * `CellGrid.cellX`/`cellY` can place a point outside its cell. */
  private val Margin = 8 * math.ulp(360.0)

  object Cover {
    private val empty = Array.empty[Long]

    /** Depth first from the world cell, children in Morton order, so the
      * leaves come out in key order. A cell's candidates are its parent's
      * boundary polygons, each with the segments that met the parent (a
      * child's widened rectangle lies in its parent's); its parent's
      * interior polygons are interior in it too. */
    def apply(polygons: Polygons, level: Int): Cover = {
      val r = polygons.rings
      val n = polygons.ids.length
      val maxLevel = math.max(MaxLevel, level)
      // where the edge cells end: past the grid and every polygon
      // (an empty polygon's envelope is +-Infinity, and skipped)
      def beyond(sides: Array[Double], from: Double): Double =
        sides.foldLeft(from)((m, v) => if (v.isInfinite) m else math.max(m, math.abs(v))) + 1
      val outX = beyond(r.minX ++ r.maxX, 180.0)
      val outY = beyond(r.minY ++ r.maxY, 90.0)

      val leafStart = new mutable.ArrayBuilder.ofLong
      val leafInterior = new mutable.ArrayBuilder.ofInt
      val leafBoundary = new mutable.ArrayBuilder.ofInt
      val listOff = new mutable.ArrayBuilder.ofInt
      val items = new mutable.ArrayBuilder.ofInt
      listOff.addOne(0)
      var nItems = 0
      val pool = new java.util.HashMap[ListKey, Integer]()
      def intern(list: Array[Int]): Int = {
        val key = new ListKey(list)
        val known = pool.get(key)
        if (known != null) known.intValue
        else {
          val id = pool.size
          pool.put(key, id)
          items.addAll(list); nItems += list.length; listOff.addOne(nItems)
          id
        }
      }

      // candidate k is polygon polys(k), with segments segs(from(k) until from(k + 1))
      def visit(x: Long, y: Long, l: Int, interior: Array[Int],
                polys: Array[Int], nPolys: Int, from: Array[Int], segs: Array[Int]): Unit = {
        val cells = 1L << l
        val w = 360.0 / cells; val h = 180.0 / cells
        val x0 = if (x == 0) -outX else -180.0 + x * w - Margin
        val x1 = if (x == cells - 1) outX else -180.0 + (x + 1) * w + Margin
        val y0 = if (y == 0) -outY else -90.0 + y * h - Margin
        val y1 = if (y == cells - 1) outY else -90.0 + (y + 1) * h + Margin
        val cx = -180.0 + (x + 0.5) * w; val cy = -90.0 + (y + 0.5) * h
        val bPolys = new Array[Int](nPolys); val bFrom = new Array[Int](nPolys + 1)
        val bSegs = new Array[Int](from(nPolys)); var nb = 0; var ns = 0
        val inside = new Array[Int](nPolys); var ni = 0
        var k = 0
        while (k < nPolys) {
          val p = polys(k)
          if (r.maxX(p) >= x0 && r.minX(p) <= x1 && r.maxY(p) >= y0 && r.minY(p) <= y1) {
            val ns0 = ns
            var j = from(k)
            while (j < from(k + 1)) {
              if (r.segmentMeets(segs(j), x0, y0, x1, y1)) { bSegs(ns) = segs(j); ns += 1 }
              j += 1
            }
            if (ns > ns0) { bPolys(nb) = p; nb += 1; bFrom(nb) = ns }
            else if (r.contains(p, cx, cy)) { inside(ni) = p; ni += 1 }
          }
          k += 1
        }
        val inner = if (ni == 0) interior else merge(interior, inside, ni)
        if (nb > 0 && l < maxLevel && (l < level || nb > SplitAbove)) {
          var q = 0
          while (q < 4) {
            visit(2 * x + (q & 1), 2 * y + (q >> 1), l + 1, inner, bPolys, nb, bFrom, bSegs)
            q += 1
          }
        } else {
          val shift = maxLevel - l
          leafStart.addOne(CellGrid.morton(x << shift, y << shift))
          leafInterior.addOne(intern(inner))
          leafBoundary.addOne(intern(java.util.Arrays.copyOf(bPolys, nb)))
        }
      }

      visit(0, 0, 0, Array.emptyIntArray, Array.range(0, n), n, r.segStart, Array.range(0, r.segStart(n)))
      new Cover(r, polygons.ids, maxLevel, leafStart.result(), leafInterior.result(),
        leafBoundary.result(), listOff.result(), items.result())
    }

    /** The ascending union of two disjoint ascending lists (`b` holds `nb`). */
    private def merge(a: Array[Int], b: Array[Int], nb: Int): Array[Int] = {
      val out = new Array[Int](a.length + nb)
      var i = 0; var j = 0; var m = 0
      while (i < a.length || j < nb) {
        if (j == nb || (i < a.length && a(i) < b(j))) { out(m) = a(i); i += 1 }
        else { out(m) = b(j); j += 1 }
        m += 1
      }
      out
    }

    private final class ListKey(val list: Array[Int]) {
      override val hashCode: Int = java.util.Arrays.hashCode(list)
      override def equals(o: Any): Boolean = o match {
        case k: ListKey => java.util.Arrays.equals(list, k.list)
        case _ => false
      }
    }
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
