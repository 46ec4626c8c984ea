package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftError

import java.io.RandomAccessFile
import java.util.zip.Inflater
import scala.collection.mutable

/** OSM PBF source (reference S5/S6,
  * `/root/reference/src/format/osmpbf.rs:19-51` node pass, `:90-114` way
  * pass). From-scratch parser for the PUBLIC osmpbf format (protobuf wire
  * encoding per the protobuf spec; OSMPBF message schema per
  * wiki.openstreetmap.org/wiki/PBF_Format): fileblock framing, zlib blobs,
  * string tables, dense-node delta coding, way ref delta coding.
  *
  * Reference semantics kept: nodes = Node + DenseNode elements; tags
  * projected as "k=v" strings (P5, osmpbf.rs:27-30); relations ignored
  * (osmpbf.rs:102-109); srid forced 4326 (cli.rs:64). The node->way
  * resolution itself is [[graft.ops.OsmWayAssembly]] (a broadcast join,
  * J1), NOT re-implemented here.
  *
  * Scale: the file is indexed into blobs on the driver (header walk, ~13
  * bytes per blob); the DSV2 source then parses blob ranges ON EXECUTORS
  * with [[blobData]] and [[parsePrimitiveBlockFull]].
  */
object OsmPbfReader {

  // ---- minimal protobuf wire reader ----
  final class Pb(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var r = 0L; var s = 0
      while (true) {
        val b = buf(pos); pos += 1
        r |= (b & 0x7fL) << s
        if ((b & 0x80) == 0) return r
        s += 7
      }
      r
    }
    def zigzag(): Long = { val n = varint(); (n >>> 1) ^ -(n & 1) }
    /** returns (fieldNumber, wireType) */
    def key(): (Int, Int) = { val k = varint(); ((k >>> 3).toInt, (k & 7).toInt) }
    def lenDelim(): Pb = { val n = varint().toInt; val p = new Pb(buf, pos, pos + n); pos += n; p }
    def bytesSlice(): (Int, Int) = { val n = varint().toInt; val r = (pos, n); pos += n; r }
    def skip(wt: Int): Unit = wt match {
      case 0 => varint(); ()
      case 1 => pos += 8
      case 2 => val n = varint().toInt; pos += n
      case 5 => pos += 4
      case w => throw GraftError.Format(s"unsupported protobuf wire type $w")
    }
  }

  final case class RawNode(id: Long, lon: Double, lat: Double, tags: Array[String])
  final case class RawWay(id: Long, refs: Array[Long], tags: Array[String])
  /** memberTypes: 0=node, 1=way, 2=relation (OSMPBF Relation.MemberType). */
  final case class RawRelation(id: Long, memberIds: Array[Long],
                               memberTypes: Array[Int], roles: Array[String],
                               tags: Array[String])

  /** Blob index entry: (offset of blob body, body length, type). */
  final case class BlobRef(offset: Long, length: Int, blobType: String)

  /** Driver-side header walk: 13ish bytes read per blob. */
  def indexBlobs(path: String): Seq[BlobRef] = {
    val f = new RandomAccessFile(path, "r")
    try {
      val out = mutable.ArrayBuffer.empty[BlobRef]
      var off = 0L
      val len = f.length()
      while (off < len) {
        f.seek(off)
        val headerLen = f.readInt() // big-endian
        val hb = new Array[Byte](headerLen)
        f.readFully(hb)
        val pb = new Pb(hb, 0, headerLen)
        var btype = ""; var dataSize = -1
        while (pb.hasMore) pb.key() match {
          case (1, 2) => val s = pb.lenDelim(); btype = new String(s.buf, s.pos, s.end - s.pos, "UTF-8")
          case (3, 0) => dataSize = pb.varint().toInt
          case (_, w) => pb.skip(w)
        }
        require(dataSize >= 0, "blob without datasize")
        out += BlobRef(off + 4 + headerLen, dataSize, btype)
        off += 4 + headerLen + dataSize
      }
      out.toSeq
    } finally f.close()
  }

  /** Decompress one blob body to the raw PrimitiveBlock/HeaderBlock bytes. */
  def blobData(path: String, ref: BlobRef): Array[Byte] = {
    val f = new RandomAccessFile(path, "r")
    try {
      f.seek(ref.offset)
      val body = new Array[Byte](ref.length)
      f.readFully(body)
      val pb = new Pb(body, 0, body.length)
      var raw: Array[Byte] = null
      var rawSize = -1
      var zlib: (Int, Int) = null
      while (pb.hasMore) pb.key() match {
        case (1, 2) => val (p, n) = pb.bytesSlice(); raw = java.util.Arrays.copyOfRange(body, p, p + n)
        case (2, 0) => rawSize = pb.varint().toInt
        case (3, 2) => zlib = pb.bytesSlice()
        case (f2, w) =>
          if (w == 2 && f2 >= 4) throw GraftError.Format(s"unsupported blob compression (field $f2)")
          else pb.skip(w)
      }
      if (raw != null) raw
      else if (zlib != null) {
        val inf = new Inflater()
        inf.setInput(body, zlib._1, zlib._2)
        // raw_size is optional in the spec: grow the buffer instead of
        // truncating highly-compressible blobs when it is absent/undersized
        var out = new Array[Byte](if (rawSize > 0) rawSize else math.max(4096, ref.length * 4))
        var n = 0
        while (!inf.finished()) {
          if (n == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
          val got = inf.inflate(out, n, out.length - n)
          // output space is guaranteed above, so a zero-byte step means the
          // stream is truncated or needs a preset dictionary — fail, don't spin
          if (got == 0 && !inf.finished())
            throw GraftError.Format(s"truncated or unsupported zlib blob at offset ${ref.offset}")
          n += got
        }
        inf.end()
        if (n == out.length) out else java.util.Arrays.copyOf(out, n)
      } else throw GraftError.Format("blob has neither raw nor zlib_data")
    } finally f.close()
  }

  /** Parse one OSMData PrimitiveBlock into nodes/ways — the reference
    * surface (relations dropped, osmpbf.rs:102-109). */
  def parsePrimitiveBlock(block: Array[Byte]): (Seq[RawNode], Seq[RawWay]) = {
    val (n, w, _) = parsePrimitiveBlockFull(block); (n, w)
  }

  /** Full parse including Relations — the superset the reference comments
    * out (osmpbf.rs:102-109): multipolygon assembly needs them
    * ([[graft.ops.OsmRelationAssembly]]). */
  def parsePrimitiveBlockFull(block: Array[Byte]): (Seq[RawNode], Seq[RawWay], Seq[RawRelation]) = {
    val pb = new Pb(block, 0, block.length)
    var strings: Array[String] = Array("")
    val groups = mutable.ArrayBuffer.empty[Pb]
    var granularity = 100L
    var latOffset = 0L
    var lonOffset = 0L
    while (pb.hasMore) pb.key() match {
      case (1, 2) => // stringtable
        val st = pb.lenDelim()
        val ss = mutable.ArrayBuffer.empty[String]
        while (st.hasMore) st.key() match {
          case (1, 2) => val s = st.lenDelim(); ss += new String(s.buf, s.pos, s.end - s.pos, "UTF-8")
          case (_, w) => st.skip(w)
        }
        strings = ss.toArray
      case (2, 2)  => groups += pb.lenDelim()
      case (17, 0) => granularity = pb.varint()
      case (19, 0) => latOffset = pb.varint()
      case (20, 0) => lonOffset = pb.varint()
      case (_, w)  => pb.skip(w)
    }
    def coordLat(raw: Long): Double = 1e-9 * (latOffset + granularity * raw)
    def coordLon(raw: Long): Double = 1e-9 * (lonOffset + granularity * raw)
    def tag(k: Int, v: Int): String = strings(k) + "=" + strings(v)

    val nodes = mutable.ArrayBuffer.empty[RawNode]
    val ways = mutable.ArrayBuffer.empty[RawWay]
    val rels = mutable.ArrayBuffer.empty[RawRelation]

    def parseNode(g: Pb): Unit = {
      var id = 0L; var lat = 0L; var lon = 0L
      val keys = mutable.ArrayBuffer.empty[Int]; val vals = mutable.ArrayBuffer.empty[Int]
      while (g.hasMore) g.key() match {
        case (1, 0) => id = g.zigzag()
        case (2, 2) => val p = g.lenDelim(); while (p.hasMore) keys += p.varint().toInt
        case (3, 2) => val p = g.lenDelim(); while (p.hasMore) vals += p.varint().toInt
        case (8, 0) => lat = g.zigzag()
        case (9, 0) => lon = g.zigzag()
        case (_, w) => g.skip(w)
      }
      nodes += RawNode(id, coordLon(lon), coordLat(lat),
        keys.zip(vals).map { case (k, v) => tag(k, v) }.toArray)
    }

    def parseDense(g: Pb): Unit = {
      val ids = mutable.ArrayBuffer.empty[Long]
      val lats = mutable.ArrayBuffer.empty[Long]
      val lons = mutable.ArrayBuffer.empty[Long]
      val kvs = mutable.ArrayBuffer.empty[Int]
      while (g.hasMore) g.key() match {
        case (1, 2)  => val p = g.lenDelim(); while (p.hasMore) ids += p.zigzag()
        case (8, 2)  => val p = g.lenDelim(); while (p.hasMore) lats += p.zigzag()
        case (9, 2)  => val p = g.lenDelim(); while (p.hasMore) lons += p.zigzag()
        case (10, 2) => val p = g.lenDelim(); while (p.hasMore) kvs += p.varint().toInt
        case (_, w)  => g.skip(w)
      }
      var id = 0L; var la = 0L; var lo = 0L; var ki = 0
      var i = 0
      while (i < ids.length) {
        id += ids(i); la += lats(i); lo += lons(i)
        val tags = mutable.ArrayBuffer.empty[String]
        if (kvs.nonEmpty) {
          while (ki < kvs.length && kvs(ki) != 0) { tags += tag(kvs(ki), kvs(ki + 1)); ki += 2 }
          ki += 1 // skip the 0 delimiter
        }
        nodes += RawNode(id, coordLon(lo), coordLat(la), tags.toArray)
        i += 1
      }
    }

    def parseWay(g: Pb): Unit = {
      var id = 0L
      val keys = mutable.ArrayBuffer.empty[Int]; val vals = mutable.ArrayBuffer.empty[Int]
      val refs = mutable.ArrayBuffer.empty[Long]
      while (g.hasMore) g.key() match {
        case (1, 0) => id = g.varint()
        case (2, 2) => val p = g.lenDelim(); while (p.hasMore) keys += p.varint().toInt
        case (3, 2) => val p = g.lenDelim(); while (p.hasMore) vals += p.varint().toInt
        case (8, 2) =>
          val p = g.lenDelim(); var acc = 0L
          while (p.hasMore) { acc += p.zigzag(); refs += acc }
        case (_, w) => g.skip(w)
      }
      ways += RawWay(id, refs.toArray, keys.zip(vals).map { case (k, v) => tag(k, v) }.toArray)
    }

    def parseRelation(g: Pb): Unit = {
      var id = 0L
      val keys = mutable.ArrayBuffer.empty[Int]; val vals = mutable.ArrayBuffer.empty[Int]
      val roles = mutable.ArrayBuffer.empty[Int]
      val memids = mutable.ArrayBuffer.empty[Long]
      val types = mutable.ArrayBuffer.empty[Int]
      while (g.hasMore) g.key() match {
        case (1, 0) => id = g.varint()
        case (2, 2) => val p = g.lenDelim(); while (p.hasMore) keys += p.varint().toInt
        case (3, 2) => val p = g.lenDelim(); while (p.hasMore) vals += p.varint().toInt
        case (8, 2) => val p = g.lenDelim(); while (p.hasMore) roles += p.varint().toInt
        case (9, 2) => // memids are delta-coded sint64, like way refs
          val p = g.lenDelim(); var acc = 0L
          while (p.hasMore) { acc += p.zigzag(); memids += acc }
        case (10, 2) => val p = g.lenDelim(); while (p.hasMore) types += p.varint().toInt
        case (_, w) => g.skip(w)
      }
      rels += RawRelation(id, memids.toArray, types.toArray,
        roles.map(strings(_)).toArray,
        keys.zip(vals).map { case (k, v) => tag(k, v) }.toArray)
    }

    groups.foreach { g =>
      while (g.hasMore) g.key() match {
        case (1, 2) => parseNode(g.lenDelim())
        case (2, 2) => parseDense(g.lenDelim())
        case (3, 2) => parseWay(g.lenDelim())
        case (4, 2) => parseRelation(g.lenDelim())
        case (_, w) => g.skip(w)
      }
    }
    (nodes.toSeq, ways.toSeq, rels.toSeq)
  }

  /** Full reference dataflow: the `element=nodes` and `element=ways` DSV2
    * scans ([[graft.sources.v2.OsmPbfSource]], blobs parsed on executors)
    * -> assembled way features (tags "k=v" array + WKB geom, ways only,
    * srid 4326). */
  def read(spark: SparkSession, path: String): DataFrame = {
    def scan(element: String) =
      spark.read.format("osmpbf").option("element", element).load(path)
    graft.ops.OsmWayAssembly.assemble(spark, scan("nodes"), scan("ways"))
      .select("way_id", "tags", "kind", "npts", "geom")
  }
}
