package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** Minimal .shp/.dbf writers for synthesizing deterministic fixtures
  * (FIXTURES.md §3) — no external data. Format per the public ESRI
  * shapefile whitepaper and dBase III spec. Lives in main scope because
  * the oracle-checked file-source queries (SparkEntry q40-q42) synthesize
  * their inputs through these writers at query time. */
object FixtureWriters {

  /** Write polygon shapefile: each record = one ring (closed, clockwise =
    * outer per ESRI). */
  def writePolygonShp(path: String, polys: Seq[Seq[(Double, Double)]]): Unit = {
    val records = polys.map { ring =>
      val closed = if (ring.head != ring.last) ring :+ ring.head else ring
      val n = closed.length
      val contentBytes = 4 + 32 + 4 + 4 + 4 + 16 * n
      val c = ByteBuffer.allocate(contentBytes).order(ByteOrder.LITTLE_ENDIAN)
      c.putInt(5) // polygon
      val xs = closed.map(_._1); val ys = closed.map(_._2)
      c.putDouble(xs.min).putDouble(ys.min).putDouble(xs.max).putDouble(ys.max)
      c.putInt(1).putInt(n).putInt(0)
      closed.foreach { case (x, y) => c.putDouble(x).putDouble(y) }
      c.array()
    }
    writeShp(path, 5, records)
  }

  private def writeShp(path: String, shapeType: Int, records: Seq[Array[Byte]]): Unit = {
    val totalBytes = 100 + records.map(8 + _.length).sum
    val b = ByteBuffer.allocate(totalBytes)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(0, 9994)
    b.putInt(24, totalBytes / 2)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(28, 1000)
    b.putInt(32, shapeType)
    var off = 100
    records.zipWithIndex.foreach { case (content, i) =>
      b.order(ByteOrder.BIG_ENDIAN)
      b.putInt(off, i + 1)
      b.putInt(off + 4, content.length / 2)
      System.arraycopy(content, 0, b.array(), off + 8, content.length)
      off += 8 + content.length
    }
    Files.write(Paths.get(path), b.array())
    writeShx(path.dropRight(4) + ".shx", shapeType, records)
  }

  /** .shx index (mandatory companion per the ESRI spec): same 100-byte
    * header, then per record [int32 BE record HEADER offset words][int32 BE
    * content length words] (first record offset = 50 words = byte 100) —
    * what lets a reader seek to record i without scanning, and the
    * split-planning input for the DataSource V2 reader. Verified against
    * the reference's genuine andalucia.shx. */
  private def writeShx(path: String, shapeType: Int, records: Seq[Array[Byte]]): Unit = {
    val totalBytes = 100 + 8 * records.length
    val b = ByteBuffer.allocate(totalBytes)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(0, 9994)
    b.putInt(24, totalBytes / 2)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(28, 1000)
    b.putInt(32, shapeType)
    var headerOff = 100 // record HEADER offset in the .shp
    records.zipWithIndex.foreach { case (content, i) =>
      b.order(ByteOrder.BIG_ENDIAN)
      b.putInt(100 + 8 * i, headerOff / 2)
      b.putInt(100 + 8 * i + 4, content.length / 2)
      headerOff += 8 + content.length
    }
    Files.write(Paths.get(path), b.array())
  }

  /** dBase .dbf with Numeric/Character/Logical/Integer fields.
    * fields: (name, type 'N'|'C'|'L'|'I', length); rows of string cell
    * values (numerics right-justified automatically; 'I' cells are decimal
    * strings written as BINARY little-endian int32, length must be 4). */
  def writeDbf(path: String, fields: Seq[(String, Char, Int)], rows: Seq[Seq[String]]): Unit = {
    require(fields.forall { case (_, t, l) => t != 'I' || l == 4 }, "'I' fields must have length 4")
    val headerSize = 32 + 32 * fields.length + 1
    val recSize = 1 + fields.map(_._3).sum
    val b = ByteBuffer.allocate(headerSize + recSize * rows.length + 1).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0, 0x03.toByte)
    b.putInt(4, rows.length)
    b.putShort(8, headerSize.toShort)
    b.putShort(10, recSize.toShort)
    fields.zipWithIndex.foreach { case ((name, typ, len), i) =>
      val o = 32 + 32 * i
      val nb = name.getBytes("ASCII")
      System.arraycopy(nb, 0, b.array(), o, math.min(nb.length, 10))
      b.put(o + 11, typ.toByte)
      b.put(o + 16, len.toByte)
      b.put(o + 17, 0.toByte)
    }
    b.put(32 + 32 * fields.length, 0x0d.toByte)
    var off = headerSize
    rows.foreach { row =>
      b.put(off, 0x20.toByte)
      var p = off + 1
      fields.zip(row).foreach { case ((_, typ, len), v) =>
        if (typ == 'I') {
          b.putInt(p, v.toInt) // binary little-endian int32 (buffer order)
        } else {
          val s = if (typ == 'N') v.reverse.padTo(len, ' ').reverse else v.padTo(len, ' ')
          val sb = s.take(len).getBytes("ASCII")
          System.arraycopy(sb, 0, b.array(), p, sb.length)
        }
        p += len
      }
      off += recSize
    }
    b.put(off, 0x1a.toByte)
    Files.write(Paths.get(path), b.array())
  }
}
