package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.Deflater

/** Seeded input files for the ingest workload: GeoJSON FeatureCollections,
  * Shapefiles (SHP/SHX/DBF) and OSM PBF (DenseNodes + ways in zlib blobs).
  * Each generator returns what a correct load must produce: the row count,
  * the vertex count, and every feature's attributes and coordinates, so a
  * check can compare any loaded row against the generator. */
object Gen {

  /** One expected output row. `key` is the filter that finds the row in the
    * loaded table (a numeric id column, or a tag for PBF); `coords` are in
    * the file's own srid, in output vertex order. */
  final case class Feat(key: Long, attrs: Map[String, Any], polygon: Boolean,
                        coords: Array[(Double, Double)])

  final case class GenFile(path: String, format: String, bytes: Long, feats: IndexedSeq[Feat]) {
    def rows: Long = feats.size.toLong
    def vertices: Long = feats.map(_.coords.length.toLong).sum
  }

  private def round7(x: Double): Double = math.rint(x * 1e7) / 1e7

  /** A random ring (closed, `m` distinct vertices + the closing one) or an
    * open line of `m` vertices around a random centre. Rings wind
    * counter-clockwise unless `clockwise`. */
  private def shape(r: SplittableRandom, polygon: Boolean, clockwise: Boolean): Array[(Double, Double)] = {
    val m = 6 + r.nextInt(30)
    val cx = r.nextDouble(-170.0, 170.0)
    val cy = r.nextDouble(-75.0, 75.0)
    val rad = r.nextDouble(0.01, 0.5)
    if (polygon) {
      val angles = Array.fill(m)(r.nextDouble(0.0, 2 * math.Pi)).sorted.distinct
      val ordered = if (clockwise) angles.reverse else angles
      val ring = ordered.map(a => (round7(cx + rad * math.cos(a)), round7(cy + rad * math.sin(a))))
      ring :+ ring.head
    } else Array.tabulate(m)(i => (round7(cx + rad * i / m), round7(cy + rad * math.sin(i))))
  }

  private val words = Array("river", "road", "park", "lake", "school", "market", "bridge", "farm")

  // ---- GeoJSON ----

  /** FeatureCollection of `n` features (Polygon and LineString), properties
    * fid (number), name (string), value (number), flag (boolean). */
  def geojson(path: String, seed: Long, fidBase: Long, n: Int): GenFile = {
    val r = new SplittableRandom(seed * 31 + fidBase)
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    val feats = new Array[Feat](n)
    try {
      out.write("""{"type":"FeatureCollection","features":[""".getBytes(UTF_8))
      var i = 0
      while (i < n) {
        val fid = fidBase + i
        val polygon = r.nextInt(3) != 0
        val coords = shape(r, polygon, clockwise = false)
        val name = s"${words(r.nextInt(words.length))}-$fid"
        val value = r.nextInt(1000000) / 1000.0
        val flag = r.nextBoolean()
        val sb = new StringBuilder(64 + coords.length * 40)
        if (i > 0) sb += ','
        sb ++= s"""{"type":"Feature","properties":{"fid":$fid,"name":"$name","value":$value,"flag":$flag},"geometry":{"type":"""
        sb ++= (if (polygon) "\"Polygon\",\"coordinates\":[[" else "\"LineString\",\"coordinates\":[")
        var j = 0
        while (j < coords.length) {
          if (j > 0) sb += ','
          sb += '[' ++= coords(j)._1.toString += ',' ++= coords(j)._2.toString += ']'
          j += 1
        }
        sb ++= (if (polygon) "]]}}" else "]}}")
        out.write(sb.toString.getBytes(UTF_8))
        feats(i) = Feat(fid, Map("fid" -> fid.toDouble, "name" -> name, "value" -> value, "flag" -> flag),
          polygon, coords)
        i += 1
      }
      out.write("]}".getBytes(UTF_8))
    } finally out.close()
    GenFile(path, "geojson", new java.io.File(path).length(), feats.toIndexedSeq)
  }

  // ---- Shapefile ----

  /** Polygon shapefile (`.shp` + `.shx` + `.dbf`) of `n` single-ring
    * features, clockwise rings (ESRI outer), DBF fields FID N(10,0),
    * NAME C(24), VALUE N(19,6), FLAG L(1). `path` ends in `.shp`. */
  def shapefile(path: String, seed: Long, fidBase: Long, n: Int): GenFile = {
    val r = new SplittableRandom(seed * 37 + fidBase)
    val base = path.stripSuffix(".shp")
    val rings = Array.fill(n)(shape(r, polygon = true, clockwise = true))
    val names = Array.tabulate(n)(i => s"${words(r.nextInt(words.length))}-${fidBase + i}")
    val values = Array.fill(n)(f"${r.nextInt(100000000) / 1000.0}%19.6f")
    val flags = Array.fill(n)(r.nextBoolean())

    // .shp and .shx
    val contents = rings.map { ring =>
      val c = ByteBuffer.allocate(44 + 4 + 16 * ring.length).order(ByteOrder.LITTLE_ENDIAN)
      c.putInt(5)
      c.putDouble(ring.map(_._1).min).putDouble(ring.map(_._2).min)
      c.putDouble(ring.map(_._1).max).putDouble(ring.map(_._2).max)
      c.putInt(1).putInt(ring.length).putInt(0)
      ring.foreach { case (x, y) => c.putDouble(x).putDouble(y) }
      c.array()
    }
    val all = rings.flatten
    def header(fileBytes: Int): ByteBuffer = {
      val h = ByteBuffer.allocate(100)
      h.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994).putInt(24, fileBytes / 2)
      h.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, 5)
      h.putDouble(36, all.map(_._1).min).putDouble(44, all.map(_._2).min)
      h.putDouble(52, all.map(_._1).max).putDouble(60, all.map(_._2).max)
      h
    }
    val shpBytes = 100 + contents.map(8 + _.length).sum
    val shp = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    val shx = new BufferedOutputStream(new FileOutputStream(base + ".shx"), 1 << 16)
    try {
      shp.write(header(shpBytes).array())
      shx.write(header(100 + 8 * n).array())
      var off = 100
      contents.zipWithIndex.foreach { case (c, i) =>
        val rh = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN).putInt(i + 1).putInt(c.length / 2)
        shp.write(rh.array()); shp.write(c)
        shx.write(ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN).putInt(off / 2).putInt(c.length / 2).array())
        off += 8 + c.length
      }
    } finally { shp.close(); shx.close() }

    // .dbf
    val fields = Seq(("FID", 'N', 10, 0), ("NAME", 'C', 24, 0), ("VALUE", 'N', 19, 6), ("FLAG", 'L', 1, 0))
    val recSize = 1 + fields.map(_._3).sum
    val headerSize = 32 + 32 * fields.size + 1
    val dbf = new BufferedOutputStream(new FileOutputStream(base + ".dbf"), 1 << 20)
    try {
      val h = ByteBuffer.allocate(headerSize).order(ByteOrder.LITTLE_ENDIAN)
      h.put(0, 0x03.toByte).put(1, 124.toByte).put(2, 1.toByte).put(3, 1.toByte)
      h.putInt(4, n).putShort(8, headerSize.toShort).putShort(10, recSize.toShort)
      fields.zipWithIndex.foreach { case ((name, typ, len, dec), k) =>
        val o = 32 + 32 * k
        name.getBytes("ASCII").zipWithIndex.foreach { case (b, j) => h.put(o + j, b) }
        h.put(o + 11, typ.toByte).put(o + 16, len.toByte).put(o + 17, dec.toByte)
      }
      h.put(headerSize - 1, 0x0d.toByte)
      dbf.write(h.array())
      var i = 0
      while (i < n) {
        val rec = " " + f"${fidBase + i}%10d" + names(i).padTo(24, ' ') + values(i) + (if (flags(i)) "T" else "F")
        dbf.write(rec.getBytes("ISO-8859-1"))
        i += 1
      }
      dbf.write(0x1a)
    } finally dbf.close()

    val feats = Array.tabulate(n) { i =>
      Feat(fidBase + i, Map("FID" -> (fidBase + i).toDouble, "NAME" -> names(i),
        "VALUE" -> values(i).trim.toDouble, "FLAG" -> flags(i)), polygon = true, rings(i))
    }
    val bytes = Seq(path, base + ".shx", base + ".dbf").map(new java.io.File(_).length()).sum
    GenFile(path, "shapefile", bytes, feats.toIndexedSeq)
  }

  // ---- OSM PBF ----

  /** Protobuf wire writer (varints, zigzag, length-delimited fields). */
  final class Pb {
    val buf = new ByteArrayOutputStream()
    def varint(v: Long): Pb = {
      var x = v
      while ((x & ~0x7fL) != 0) { buf.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      buf.write(x.toInt)
      this
    }
    def key(field: Int, wire: Int): Pb = varint((field << 3 | wire).toLong)
    def uint(field: Int, v: Long): Pb = key(field, 0).varint(v)
    def bytes(field: Int, b: Array[Byte]): Pb = { key(field, 2).varint(b.length.toLong); buf.write(b); this }
    def msg(field: Int, m: Pb): Pb = bytes(field, m.toBytes)
    def packed(field: Int, vs: Iterable[Long]): Pb = {
      val p = new Pb; vs.foreach(p.varint); bytes(field, p.toBytes)
    }
    def toBytes: Array[Byte] = buf.toByteArray
  }

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def deltas(vs: Array[Long]): Iterable[Long] =
    vs.indices.map(i => zigzag(if (i == 0) vs(0) else vs(i) - vs(i - 1)))

  private def writeBlob(out: OutputStream, kind: String, raw: Array[Byte]): Unit = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val z = new ByteArrayOutputStream()
    val chunk = new Array[Byte](1 << 16)
    while (!d.finished()) z.write(chunk, 0, d.deflate(chunk))
    d.end()
    val blob = new Pb().uint(2, raw.length.toLong).bytes(3, z.toByteArray).toBytes
    val header = new Pb().bytes(1, kind.getBytes(UTF_8)).uint(3, blob.length.toLong).toBytes
    out.write(ByteBuffer.allocate(4).putInt(header.length).array())
    out.write(header); out.write(blob)
  }

  /** OSM PBF of `nodes` DenseNodes and `ways` ways, 8000 entities per
    * block. Every way ref resolves, so each way is one output row; a third
    * of the ways are closed (polygons). Way tags: fid=<way id>, kind=... */
  def osmPbf(path: String, seed: Long, nodes: Int, ways: Int): GenFile = {
    val r = new SplittableRandom(seed * 41 + 7)
    val gran = 100L
    // nodes come in spatial clusters of 64 so ways stay local
    val ids = Array.tabulate(nodes)(i => 1000L + 3L * i)
    val lat = new Array[Long](nodes); val lon = new Array[Long](nodes)
    var i = 0
    while (i < nodes) {
      if (i % 64 == 0) { lat(i) = r.nextLong(-800000000L, 800000000L); lon(i) = r.nextLong(-1700000000L, 1700000000L) }
      else { lat(i) = lat(i - i % 64) + r.nextLong(-50000L, 50000L); lon(i) = lon(i - i % 64) + r.nextLong(-50000L, 50000L) }
      i += 1
    }
    def coord(k: Int): (Double, Double) = (1e-9 * (0L + gran * lon(k)), 1e-9 * (0L + gran * lat(k)))

    val wayRefs = Array.fill(ways) {
      val closed = r.nextInt(3) == 0
      val m = 4 + r.nextInt(12)
      val start = r.nextInt(nodes - m)
      val open = Array.tabulate(m)(j => start + j)
      if (closed) open :+ start else open
    }
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    try {
      writeBlob(out, "OSMHeader", new Pb().bytes(4, "OsmSchema-V0.6".getBytes(UTF_8))
        .bytes(4, "DenseNodes".getBytes(UTF_8)).toBytes)
      val per = 8000
      for (b <- 0 until nodes by per) {
        val ks = (b until math.min(nodes, b + per)).toArray
        val dense = new Pb().packed(1, deltas(ks.map(ids)))
          .packed(8, deltas(ks.map(lat))).packed(9, deltas(ks.map(lon)))
        val group = new Pb().msg(2, dense)
        val block = new Pb().msg(1, new Pb().bytes(1, Array.emptyByteArray)).msg(2, group).uint(17, gran)
        writeBlob(out, "OSMData", block.toBytes)
      }
      for (b <- 0 until ways by per) {
        val ws = b until math.min(ways, b + per)
        val strings = Array("", "fid", "kind", "road", "area") ++ ws.map(w => w.toString)
        val table = new Pb()
        strings.foreach(s => table.bytes(1, s.getBytes(UTF_8)))
        val group = new Pb()
        ws.zipWithIndex.foreach { case (w, k) =>
          val refs = wayRefs(w)
          val closed = refs.head == refs.last
          group.msg(3, new Pb().uint(1, w.toLong)
            .packed(2, Seq(1L, 2L)).packed(3, Seq(5L + k, if (closed) 4L else 3L))
            .packed(8, deltas(refs.map(ids))))
        }
        val block = new Pb().msg(1, table).msg(2, group).uint(17, gran)
        writeBlob(out, "OSMData", block.toBytes)
      }
    } finally out.close()
    val feats = wayRefs.zipWithIndex.map { case (refs, w) =>
      val closed = refs.head == refs.last
      Feat(w.toLong, Map("tags" -> Seq(s"fid=$w", if (closed) "kind=area" else "kind=road")),
        closed, refs.map(coord))
    }
    GenFile(path, "osmpbf", new java.io.File(path).length(), feats.toIndexedSeq)
  }
}
