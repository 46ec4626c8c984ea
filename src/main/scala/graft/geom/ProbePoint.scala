package graft.geom

import org.locationtech.jts.geom.{Envelope, Point}

/** Per-thread mutable probe geometry for the per-row JTS tests — the
  * shuffle joins' prepared-contains refine
  * (`GeoExpressions.preparedContains`) and `SqlFunctions.containsPoint`
  * test one point per candidate row, and
  * [[graft.index.CoverIndex.containing]] queries a dense cell's STRtree
  * with one degenerate envelope per fact row (10^12 times at scale). A
  * fresh JTS `Point` is ~4 heap objects (Point + CoordinateArraySequence
  * + Coordinate + envelope) per probe. A JTS point is safe to mutate
  * between uses as long as `geometryChanged()` resets its cached
  * envelope, and `Geometry.contains`, `PreparedGeometry.contains` and
  * `STRtree.query` only READ their argument — so one Point and one
  * Envelope per thread serve every probe of that thread's tasks.
  * Worker task threads never share a probe concurrently (ThreadLocal). */
object ProbePoint {

  private val tlPoint = new ThreadLocal[Point] {
    override def initialValue(): Point = WkbCodec.point(0.0, 0.0)
  }
  private val tlEnv = new ThreadLocal[Envelope] {
    override def initialValue(): Envelope = new Envelope()
  }

  /** The calling thread's probe point moved to (x, y). */
  def at(x: Double, y: Double): Point = {
    val p = tlPoint.get()
    val c = p.getCoordinate
    c.x = x
    c.y = y
    p.geometryChanged()
    p
  }

  /** The calling thread's degenerate query envelope at (x, y). */
  def envelope(x: Double, y: Double): Envelope = {
    val e = tlEnv.get()
    e.init(x, x, y, y)
    e
  }
}
