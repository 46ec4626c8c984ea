package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.GraftError
import graft.geom.{Mercator, ShapeDecode, WkbCodec}
import graft.geom.ShapeDecode._

/** Shapefile source (reference S3/S4,
  * `/root/reference/src/format/shapefile.rs:127-174` scan, `:14-125`
  * schema inference). Parses the `.shp` (geometry) + `.dbf` (attributes)
  * pair from scratch — no GDAL on the classpath, and the format is fully
  * public (ESRI whitepaper).
  *
  * Reference semantics kept: DBF `N`(numeric)/`F`(float) -> DoubleType
  * (FLOAT8), `C` -> StringType, `L` -> BooleanType, `I`(binary int32 LE,
  * dbase 7/FoxPro) -> LongType (the reference's `FieldValue::Integer ->
  * INT8` wire type, `shapefile.rs:66-80`); other field types unsupported
  * and dropped with a warning (`shapefile.rs:111`); geometry
  * decoded per [[ShapeDecode]] quirks; optional 4326<->3857 reproject per
  * row (P3); WKB appended as the LAST column named `geom` (P6/K1).
  * Documented deviation: attribute columns are emitted in LEXICOGRAPHIC
  * order (the reference's HashMap order is nondeterministic — SURVEY §1.3).
  *
  * This object is the codec: DBF/SHP decoding, schema inference and the
  * single-threaded [[parseFileRows]]. DataFrames come from the DSV2 source
  * ([[graft.sources.v2.ShapefileSource]], `format("shapefile")`), which
  * splits files on `.shx` record ranges and decodes with the same codec.
  */
object ShapefileReader {

  final case class DbfField(name: String, typ: Char, length: Int, decimals: Int)

  // ---- .dbf parsing ----
  def dbfFields(bytes: Array[Byte]): Seq[DbfField] = {
    val headerSize = ((bytes(9) & 0xff) << 8) | (bytes(8) & 0xff)
    (32 until (headerSize - 1) by 32).takeWhile(o => bytes(o) != 0x0d).map { o =>
      val name = new String(bytes, o, 11, "ASCII").takeWhile(_ != '\u0000').trim // NUL-padded field name
      DbfField(name, bytes(o + 11).toChar, bytes(o + 16) & 0xff, bytes(o + 17) & 0xff)
    }
  }

  /** Every record of a `.dbf`, in file order: field -> raw cell, or null
    * for a deleted record (its shape is dropped with it). */
  def dbfRecords(bytes: Array[Byte]): Seq[Map[String, String]] = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val headerSize = b.getShort(8) & 0xffff
    val recSize = b.getShort(10) & 0xffff
    val fields = dbfFields(bytes)
    (0 until b.getInt(4)).map(i => dbfRecord(bytes, headerSize + i * recSize, fields))
  }

  /** The fixed-size DBF record at `off`: field -> raw cell, null if deleted. */
  private[sources] def dbfRecord(buf: Array[Byte], off: Int,
                                 fields: Seq[DbfField]): Map[String, String] =
    if (buf(off) == 0x2a) null
    else {
      var p = off + 1
      fields.map { f =>
        val raw = new String(buf, p, f.length, "ISO-8859-1")
        p += f.length
        f.name -> raw
      }.toMap
    }

  // ---- .shp parsing ----
  def shpShapes(bytes: Array[Byte]): Seq[Shape] = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(b.getInt(0) == 9994, "not a shapefile (bad magic)")
    shapes(bytes, 100, b.getInt(24) * 2)
  }

  /** The `.shp` records laid end to end in `buf[from, until)`. */
  private[sources] def shapes(buf: Array[Byte], from: Int, until: Int): IndexedSeq[Shape] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Shape]
    var off = from
    while (off < until) {
      val contentBytes = ByteBuffer.wrap(buf, off + 4, 4).order(ByteOrder.BIG_ENDIAN).getInt * 2
      // slice() rebases index 0 to the record content (wrap alone keeps
      // absolute indices relative to the whole buffer)
      out += parseShape(
        ByteBuffer.wrap(buf, off + 8, contentBytes).slice().order(ByteOrder.LITTLE_ENDIAN))
      off += 8 + contentBytes
    }
    out.toIndexedSeq
  }

  private def parseShape(c: ByteBuffer): Shape = c.getInt(0) match {
    case 0 => SNull
    case 1 => SPoint(c.getDouble(4), c.getDouble(12))
    case t @ (3 | 5) =>
      val numParts = c.getInt(36)
      val numPoints = c.getInt(40)
      val partsOff = 44
      val parts = (0 until numParts).map(i => c.getInt(partsOff + i * 4))
      val ptsOff = partsOff + numParts * 4
      def pt(i: Int) = (c.getDouble(ptsOff + i * 16), c.getDouble(ptsOff + i * 16 + 8))
      val bounds = parts :+ numPoints
      val rings = (0 until numParts).map(p => (bounds(p) until bounds(p + 1)).map(pt))
      if (t == 3) SPolyLine(rings) else SPolygon(rings)
    case t => SUnsupported(t)
  }

  // ---- schema inference (S4; header-driven — the reference's full record
  // scan is redundant for DBF, same resulting DDL) ----
  def inferSchema(dbfBytes: Array[Byte]): StructType = {
    val fields = dbfFields(dbfBytes).flatMap { f =>
      f.typ match {
        case 'N' | 'F' => Some(StructField(f.name, DoubleType, nullable = true))
        case 'C'       => Some(StructField(f.name, StringType, nullable = true))
        case 'L'       => Some(StructField(f.name, BooleanType, nullable = true))
        case 'I'       => Some(StructField(f.name, LongType, nullable = true))
        case other =>
          System.err.println(s"[shapefile] field '${f.name}' type '$other' not supported, dropped")
          None
      }
    }
    // documented deviation: lexicographic order (reference HashMap order is racy)
    StructType(fields.sortBy(_.name) :+ StructField("geom", BinaryType, nullable = true))
  }

  private[sources] def parseValue(raw: String, dt: DataType, colName: String): Any = dt match {
    case LongType =>
      // DBF 'I' is a BINARY little-endian int32; the bytes survive the
      // ISO-8859-1 round trip in dbfRecords losslessly (1 byte <-> 1 char)
      if (raw.length < 4) null
      else ((raw.charAt(0) & 0xff) | (raw.charAt(1) & 0xff) << 8 |
        (raw.charAt(2) & 0xff) << 16 | (raw.charAt(3) & 0xff) << 24).toLong
    case _ =>
      val s = raw.trim
      if (s.isEmpty || s == "?") null
      else try dt match {
        case DoubleType  => s.toDouble
        case StringType  => s
        case BooleanType => "TtYy".contains(s.head)
        case _           => null
      } catch {
        // malformed cell (e.g. text in a numeric DBF field): surface the
        // reference's type-conflict taxonomy, not a bare NumberFormatException
        case _: NumberFormatException => throw GraftError.MixedDataTypes(colName)
      }
  }

  /** Parse one `.shp`+`.dbf` pair into Rows of `schema`, in one thread. */
  def parseFileRows(shpPath: String, schema: StructType,
                    fromSrid: Int, reproject: Option[Int]): Seq[Row] = {
    val dbfPath = shpPath.dropRight(4) + ".dbf"
    val shpBytes = Files.readAllBytes(Paths.get(shpPath))
    val dbfBytes = Files.readAllBytes(Paths.get(dbfPath))
    val attrs = schema.fields.dropRight(1)
    val records = dbfRecords(dbfBytes)
    val shapes = shpShapes(shpBytes)
    require(records.length == shapes.length,
      s"shp/dbf record count mismatch: ${shapes.length} vs ${records.length}")
    shapes.zip(records).collect { case (shape, rec) if rec != null =>
      val geom = ShapeDecode.toGeometry(shape)
      if (geom != null) reproject.foreach(to => Mercator.projectInPlace(geom, fromSrid, to))
      Row.fromSeq(attrs.map(f => parseValue(rec(f.name), f.dataType, f.name)).toSeq :+
        (if (geom == null) null else WkbCodec.write(geom)))
    }
  }
}
