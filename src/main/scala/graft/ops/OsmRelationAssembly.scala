package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.WkbCodec

import scala.collection.mutable

/** OSM multipolygon relation assembly — a SUPERSET of the reference, which
  * parses and then drops relations (`/root/reference/src/format/osmpbf.rs:102-109`,
  * the commented-out block). Assembles each `type=multipolygon` relation's
  * outer/inner way members into a MultiPolygon with holes.
  *
  * Spark-first dataflow (all candidate generation is joins; the only
  * per-row imperative step is ring stitching, which is bounded by a single
  * relation's member count):
  *
  *   relations --explode members--> (rel_id, way_id, role) for WAY members
  *             with role outer/inner (node/relation members and other roles
  *             dropped, like osmium's area assembler)
  *   ways --posexplode(refs) ⋈ nodes--> per-way ordered coordinate lists
  *             (the same J1 join OsmWayAssembly runs; missing node refs
  *             drop silently — reference semantics)
  *   members ⋈ way-coords --groupBy(rel_id)--> ring stitching UDF
  *
  * Stitching rules (deterministic):
  *  - a member way whose first and last vertices coincide is a complete
  *    ring by itself and never extends another ring (it is excluded from
  *    the endpoint index — see stitchRings);
  *  - start each open ring at the unused open member way with the smallest
  *    way_id;
  *    extend by any unused way sharing an endpoint (reversed if needed,
  *    smallest way_id first); a ring that never closes is dropped;
  *  - ring role = role of its first (smallest-id) way; rings of < 4 points
  *    after closing are dropped;
  *  - each inner ring becomes a hole of the outer ring that contains its
  *    first vertex (JTS containment); unassigned holes are dropped;
  *  - outer rings (and holes within one outer) are ordered by smallest
  *    member way_id, making the output WKB byte-deterministic.
  *
  * Output: (rel_id, tags, n_outer, n_inner, npts, geom) — one row per
  * multipolygon relation with at least one closed outer ring.
  */
object OsmRelationAssembly {

  /** Typed UDF output carrier (Spark 4 rejects untyped udf(fn, schema)). */
  final case class MpOut(n_outer: Int, n_inner: Int, npts: Int, geom: Array[Byte])

  private[ops] final case class Ring(minWayId: Long, role: String,
                                     pts: Vector[(Double, Double)])

  /** Stitch member ways into closed rings. Each way's pts are its resolved
    * vertices in ref order. Endpoint lookups go through an index (each
    * endpoint -> member indices sorted by way_id), so stitching is
    * O(members * log) rather than a linear rescan per extension — real OSM
    * mega-relations (coastlines, national boundaries) carry thousands of
    * member ways. */
  private[ops] def stitchRings(
      members: Seq[(Long, String, Seq[(Double, Double)])]): Seq[Ring] = {
    val usable = members.filter(_._3.length >= 2).sortBy(_._1)
    val rings = mutable.ArrayBuffer.empty[Ring]
    // A member way with head == last is a complete ring on its own (island
    // outers, lake inners). It must NOT enter the endpoint index: an open
    // chain whose current endpoint touches a closed way's start node (rings
    // that touch at a point are common in real OSM) would otherwise absorb
    // the whole loop — yielding an invalid self-touching ring AND silently
    // dropping the closed way's own outer/inner ring.
    val (closedWays, openWays) = usable.partition(m => m._3.head == m._3.last)
    for ((wid, role, pts) <- closedWays if pts.length >= 4)
      rings += Ring(wid, role, pts.toVector)
    val byEndpoint = mutable.Map.empty[(Double, Double), mutable.ArrayBuffer[Int]]
    for (j <- openWays.indices; p <- Seq(openWays(j)._3.head, openWays(j)._3.last).distinct)
      byEndpoint.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += j
    val used = mutable.Set.empty[Int]
    for (start <- openWays.indices if !used(start)) {
      val (wid0, role0, pts0) = openWays(start)
      used += start
      var ring = pts0.toVector
      var minId = wid0
      var closed = ring.head == ring.last
      var progress = true
      while (!closed && progress) {
        progress = false
        val end = ring.last
        // smallest-way_id unused way sharing the current end point (the
        // per-endpoint buffers are in way_id order because usable is)
        val nextIdx = byEndpoint.get(end).flatMap(_.find(!used(_)))
        nextIdx.foreach { j =>
          val (wid, _, pts) = openWays(j)
          used += j
          val seg = if (pts.head == end) pts else pts.reverse
          ring = ring ++ seg.tail
          minId = math.min(minId, wid)
          progress = true
          closed = ring.head == ring.last
        }
      }
      if (closed && ring.length >= 4) rings += Ring(minId, role0, ring)
    }
    rings.toSeq
  }

  /** Build the MultiPolygon (n_outer, n_inner, npts, wkb) for one
    * relation's stitched rings; None when no closed outer ring exists. */
  private[ops] def buildMultiPolygon(
      rings: Seq[Ring]): Option[(Int, Int, Int, Array[Byte])] = {
    val outers = rings.filter(_.role == "outer").sortBy(_.minWayId)
    if (outers.isEmpty) return None
    val inners = rings.filter(_.role == "inner").sortBy(_.minWayId)
    val outerPolys = outers.map(o => (o, WkbCodec.polygon(o.pts)))
    val holesByOuter = mutable.Map.empty[Long, mutable.ArrayBuffer[Ring]]
    var nAssigned = 0
    inners.foreach { h =>
      val p0 = WkbCodec.point(h.pts.head._1, h.pts.head._2)
      outerPolys.find(_._2.contains(p0)).foreach { case (o, _) =>
        holesByOuter.getOrElseUpdate(o.minWayId, mutable.ArrayBuffer.empty) += h
        nAssigned += 1
      }
    }
    val polys = outers.map { o =>
      val holes = holesByOuter.getOrElse(o.minWayId, mutable.ArrayBuffer.empty)
      WkbCodec.polygon(o.pts, holes.map(_.pts.toSeq).toSeq)
    }
    val npts = outers.map(_.pts.length).sum +
      holesByOuter.values.flatten.map(_.pts.length).sum
    Some((outers.length, nAssigned, npts,
      WkbCodec.write(WkbCodec.multiPolygon(polys))))
  }

  /** relations/ways/nodes as produced by the `format("osmpbf")` element
    * scans ([[graft.sources.v2.OsmPbfSource]]). */
  def assemble(spark: SparkSession, relations: DataFrame, ways: DataFrame,
               nodes: DataFrame, broadcastNodes: Boolean = true): DataFrame = {
    val mp = relations
      .filter(array_contains(col("tags"), "type=multipolygon"))
      .select(col("rel_id"), col("tags"),
        explode(arrays_zip(col("member_ids"), col("member_types"),
          col("member_roles"))).as("m"))
      .select(col("rel_id"), col("tags"),
        col("m.member_ids").as("way_id"),
        col("m.member_types").as("mtype"), col("m.member_roles").as("role"))
      .filter(col("mtype") === 1 && col("role").isin("outer", "inner"))
      .drop("mtype")

    // per-way ordered coordinates — the same J1 join shape as
    // OsmWayAssembly (broadcast nodes dim; inner join drops missing refs)
    val refd = ways.select(col("way_id"), posexplode(col("refs")).as(Seq("pos", "ref")))
    val n = nodes.select(col("node_id"), col("lon"), col("lat"))
    val wayPts = refd.join(
        if (broadcastNodes) broadcast(n) else n,
        refd("ref") === n("node_id"), "inner")
      .groupBy("way_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("lon"), col("lat")))).as("pts"))

    val joined = mp.join(wayPts, Seq("way_id"))
      .groupBy("rel_id")
      .agg(first(col("tags")).as("tags"),
        collect_list(struct(col("way_id"), col("role"), col("pts"))).as("members"))

    val build = udf((members: Seq[Row]) => {
      val ms = members.map { r =>
        (r.getLong(0), r.getString(1),
          r.getSeq[Row](2).map(p => (p.getDouble(1), p.getDouble(2))))
      }
      buildMultiPolygon(stitchRings(ms)).map {
        case (no, ni, np, wkb) => MpOut(no, ni, np, wkb)
      }
    })

    joined.withColumn("a", build(col("members")))
      .filter(col("a").isNotNull)
      .select(col("rel_id"), col("tags"),
        col("a.n_outer").cast("long").as("n_outer"),
        col("a.n_inner").cast("long").as("n_inner"),
        col("a.npts").cast("long").as("npts"),
        col("a.geom").as("geom"))
  }
}
