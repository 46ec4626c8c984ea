package graft.geom

import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

/** Per-thread LRU cache of JTS [[PreparedGeometry]] for shuffle-side PIP
  * refines (the broadcast path refines with [[graft.index.CoverIndex]]'s
  * own ring arrays, built once per executor). On the shuffle path a dense
  * cell delivers the same polygon to the refine predicate thousands of
  * times per task; parsing + preparing the WKB per candidate pair
  * dominates the join cost (round-2 review).
  *
  * Keyed by (poly_id, wkb.length, Arrays.hashCode(wkb)): the id alone is
  * not safe — the same JVM runs many queries over different polygon layers
  * (local mode, tests) that can reuse ids. The checksum is one linear pass
  * over the bytes, far cheaper than the parse + prepare + ring-index build
  * it saves. A hit additionally verifies the stored bytes with
  * Arrays.equals (same linear cost as the checksum): a reused poly_id with
  * equal-length, hash-colliding WKB must never return the wrong prepared
  * geometry — that would be a silent wrong PIP result, not a perf bug.
  *
  * ThreadLocal (not a shared concurrent map) because PreparedGeometry is
  * not thread-safe for concurrent queries; per-task-thread locality also
  * avoids contention on a 32-thread executor. Bounded LRU so a huge
  * polygon layer cannot pin unbounded heap per thread.
  */
object PreparedCache {
  private final case class Key(id: Long, len: Int, hash: Int)

  private final case class Entry(wkb: Array[Byte], geom: PreparedGeometry)

  private val MaxEntries = 4096

  private val tl: ThreadLocal[java.util.LinkedHashMap[Key, Entry]] =
    ThreadLocal.withInitial { () =>
      new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Key, Entry]): Boolean =
          size() > MaxEntries
      }
    }

  def get(id: Long, wkb: Array[Byte]): PreparedGeometry = {
    val key = Key(id, wkb.length, java.util.Arrays.hashCode(wkb))
    val m = tl.get()
    var e = m.get(key)
    if (e == null || !java.util.Arrays.equals(e.wkb, wkb)) {
      e = Entry(wkb.clone(), PreparedGeometryFactory.prepare(WkbCodec.read(wkb)))
      m.put(key, e)
    }
    e.geom
  }
}
