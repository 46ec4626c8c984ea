package graft.sources.v2

import java.io.{InputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.util.Using

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftError
import graft.geom.{Mercator, ShapeDecode, WkbCodec}
import graft.sources.ShapefileReader

/** DataSource V2 shapefile reader — `spark.read.format("shapefile")` — the
  * read path of [[graft.sources.SourceDispatch]] for S3/S4 (the "v2
  * DataSource V2 TableProvider with .shp offset-splitting via .shx" of
  * SURVEY.md §2a row S3). DBF header, value and shape decoding are the
  * [[ShapefileReader]] codec.
  *
  * Scale design:
  *  - SPLITS WITHIN one file: the mandatory `.shx` companion is a flat
  *    [offset,len] index, so `planInputPartitions` cuts record ranges of
  *    ~`splitBytes` each without reading the `.shp`; a 2 GB shapefile
  *    (format max) becomes ~64 independent 32 MB tasks instead of one.
  *    Directories of many files additionally parallelize across files.
  *  - Each partition reader seeks to its byte range in `.shp` and `.dbf`
  *    (DBF records are fixed-size, so record k is at header + k*recSize) —
  *    a task reads ONLY its slice of both files.
  *  - COLUMN PRUNING is pushed into the reader
  *    ([[SupportsPushDownRequiredColumns]]): unneeded DBF cells are never
  *    parsed, and if `geom` itself is pruned the shape decode + WKB encode
  *    are skipped entirely (`.shp` is not even opened).
  *
  * Semantics identical to [[ShapefileReader]] (same field mapping
  * `N`/`F`→DOUBLE, `C`→STRING, `L`→BOOLEAN, `I`→LONG per
  * `/root/reference/src/format/shapefile.rs:66-80`, same [[ShapeDecode]]
  * quirks, same optional 4326<->3857 reprojection, geom last) — asserted
  * by an equality test against `ShapefileReader.parseFileRows` on the same
  * fixture.
  *
  * Options: `path` (one `.shp` or a directory of them), `srid` (default
  * 4326), `reproject` (4326|3857), `splitBytes` (default 33554432).
  */
class ShapefileSource extends GeoFileSource[ShpSplit] {
  import ShapefileSource._

  override def shortName(): String = "shapefile"
  override protected def extensions: Seq[String] = Seq(".shp")

  override protected def inferSchema(files: Seq[String],
                                     options: CaseInsensitiveStringMap): StructType = {
    val dbf = dbfPath(files.head)
    Using.resource(new RandomAccessFile(dbf, "r"))(raf => ShapefileReader.inferSchema(dbfHeader(raf, dbf)._1))
  }

  override protected[v2] def planSplits(files: Seq[String], options: CaseInsensitiveStringMap,
                                        scan: ScanOptions): Seq[ShpSplit] = files.flatMap { shp =>
    val idx = recordIndex(shp) // (contentOff, contentLen) per record
    val splits = scala.collection.mutable.ArrayBuffer.empty[ShpSplit]
    var start = 0
    var startByte = if (idx.isEmpty) 100L else idx(0)._1 - 8
    var acc = 0L
    idx.indices.foreach { i =>
      acc += idx(i)._2 + 8
      val last = i == idx.length - 1
      if (acc >= scan.splitBytes || last) {
        val endByte = idx(i)._1 + idx(i)._2
        splits += ShpSplit(shp, start, i + 1, startByte, endByte)
        start = i + 1
        if (!last) startByte = idx(i + 1)._1 - 8
        acc = 0L
      }
    }
    splits
  }

  override protected def readSplit(split: ShpSplit, required: StructType, scan: ScanOptions,
                                   open: String => InputStream): Iterator[InternalRow] = {
    // --- .dbf slice: header (field descriptors) + only this split's records ---
    val dbfRecords: IndexedSeq[Map[String, String]] = {
      val dbf = dbfPath(split.shpPath)
      val raf = new RandomAccessFile(dbf, "r")
      try {
        val (header, recSize) = dbfHeader(raf, dbf)
        val fields = ShapefileReader.dbfFields(header)
        val n = split.endRec - split.startRec
        val buf = readRange(raf, dbf, header.length.toLong + split.startRec.toLong * recSize, n * recSize)
        // a deleted record is null and is skipped with its shape
        (0 until n).map(i => ShapefileReader.dbfRecord(buf, i * recSize, fields))
      } finally raf.close()
    }

    // --- .shp slice: only this split's byte range, walked record by record ---
    val shapes: IndexedSeq[ShapeDecode.Shape] =
      if (!required.fieldNames.contains("geom")) IndexedSeq.empty
      else {
        val raf = new RandomAccessFile(split.shpPath, "r")
        try {
          val buf = readRange(raf, split.shpPath, split.shpStartByte,
            (split.shpEndByte - split.shpStartByte).toInt)
          ShapefileReader.shapes(buf, 0, buf.length)
        } finally raf.close()
      }

    dbfRecords.indices.iterator.filter(dbfRecords(_) != null).map { i =>
      val rec = dbfRecords(i)
      val values = required.fields.map { f =>
        if (f.name == "geom") {
          val geom = ShapeDecode.toGeometry(shapes(i))
          if (geom == null) null
          else {
            scan.reproject.foreach(to => Mercator.projectInPlace(geom, scan.srid, to))
            WkbCodec.write(geom)
          }
        } else ShapefileReader.parseValue(rec(f.name), f.dataType, f.name) match {
          case s: String => UTF8String.fromString(s)
          case other => other
        }
      }
      new GenericInternalRow(values.asInstanceOf[Array[Any]]): InternalRow
    }
  }
}

private object ShapefileSource {
  def dbfPath(shp: String): String = companion(shp, "dbf")
  def shxPath(shp: String): String = companion(shp, "shx")
  /** `a.shp` -> `a.<ext>`; an upper-case `.SHP` keeps upper-case companions. */
  private def companion(shp: String, ext: String): String =
    shp.dropRight(3) + (if (shp.endsWith(".SHP")) ext.toUpperCase else ext)

  /** Bytes [start, start+len) of `path`. The ranges come from the `.shx`
    * and the DBF header, so a file cut short is a [[GraftError.Format]]
    * naming it, not an EOF in the task. */
  def readRange(raf: RandomAccessFile, path: String, start: Long, len: Int): Array[Byte] = {
    if (start + len > raf.length())
      throw GraftError.Format(
        s"$path is truncated: ${raf.length()} bytes, a record ends at byte ${start + len}")
    val buf = new Array[Byte](len)
    raf.seek(start); raf.readFully(buf)
    buf
  }

  /** The `.dbf` header (the 32-byte prefix, then all `headerSize` bytes,
    * field descriptors included) and the record size. Schema inference
    * reads only this, never the records. */
  def dbfHeader(raf: RandomAccessFile, dbf: String): (Array[Byte], Int) = {
    val hb = ByteBuffer.wrap(readRange(raf, dbf, 0, 32)).order(ByteOrder.LITTLE_ENDIAN)
    (readRange(raf, dbf, 0, hb.getShort(8) & 0xffff), hb.getShort(10) & 0xffff)
  }

  /** Per-record [contentOffsetBytes, contentLenBytes] from the `.shx`
    * (8 bytes/record, never touches the `.shp`); if the `.shx` is missing,
    * falls back to walking the `.shp` record HEADERS (8 bytes each, seek). */
  def recordIndex(shp: String): Array[(Long, Int)] = {
    val shx = Paths.get(shxPath(shp))
    if (Files.exists(shx)) {
      val bytes = Files.readAllBytes(shx)
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      val n = (bytes.length - 100) / 8
      // ESRI spec: the .shx offset addresses the record HEADER in the .shp
      // (first record = 50 words = byte 100); content starts 8 bytes later
      Array.tabulate(n) { i =>
        (b.getInt(100 + 8 * i).toLong * 2 + 8, b.getInt(100 + 8 * i + 4) * 2)
      }
    } else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      val raf = new RandomAccessFile(shp, "r")
      try {
        val len = raf.length()
        var off = 100L
        val hdr = new Array[Byte](8)
        while (off + 8 <= len) {
          raf.seek(off); raf.readFully(hdr)
          val contentBytes = ByteBuffer.wrap(hdr, 4, 4).order(ByteOrder.BIG_ENDIAN).getInt * 2
          out += ((off + 8, contentBytes))
          off += 8 + contentBytes
        }
      } finally raf.close()
      out.toArray
    }
  }
}

/** One partition = a contiguous record range [startRec, endRec) of one
  * file, with the precomputed `.shp` byte span it covers. */
final case class ShpSplit(shpPath: String, startRec: Int, endRec: Int,
                          shpStartByte: Long, shpEndByte: Long) extends InputPartition
