package graft.sources.v2

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

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
class ShapefileSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "shapefile"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = ShapefileSource.resolvePaths(options)
    ShapefileReader.inferSchema(Files.readAllBytes(Paths.get(ShapefileSource.dbfPath(paths.head))))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ShapefileTable(schema)
}

object ShapefileSource {
  def dbfPath(shp: String): String = companion(shp, "dbf")
  def shxPath(shp: String): String = companion(shp, "shx")
  /** `a.shp` -> `a.<ext>`; an upper-case `.SHP` keeps upper-case companions. */
  private def companion(shp: String, ext: String): String =
    shp.dropRight(3) + (if (shp.endsWith(".SHP")) ext.toUpperCase else ext)

  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] =
    SourcePaths.resolve(options, "shapefile", ".shp")

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
      val raf = new java.io.RandomAccessFile(shp, "r")
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

class ShapefileTable(tableSchema: StructType) extends Table with SupportsRead {
  override def name(): String = "shapefile"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ShapefileScanBuilder(tableSchema, options)
}

class ShapefileScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = {
    val srid = Option(options.get("srid")).map(_.toInt).getOrElse(4326)
    val reproject = Option(options.get("reproject")).map(_.toInt)
    val splitBytes = Option(options.get("splitBytes")).map(_.toLong).getOrElse(32L * 1024 * 1024)
    new ShapefileScan(ShapefileSource.resolvePaths(options), required, srid, reproject, splitBytes)
  }
}

/** One partition = a contiguous record range [startRec, endRec) of one
  * file, with the precomputed `.shp` byte span it covers. */
final case class ShpSplit(shpPath: String, startRec: Int, endRec: Int,
                          shpStartByte: Long, shpEndByte: Long) extends InputPartition

class ShapefileScan(paths: Seq[String], required: StructType,
                    srid: Int, reproject: Option[Int], splitBytes: Long)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"shapefile ${paths.mkString(",")} readSchema=${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = paths.flatMap { shp =>
    val idx = ShapefileSource.recordIndex(shp) // (contentOff, contentLen) per record
    val splits = scala.collection.mutable.ArrayBuffer.empty[ShpSplit]
    var start = 0
    var startByte = if (idx.isEmpty) 100L else idx(0)._1 - 8
    var acc = 0L
    idx.indices.foreach { i =>
      acc += idx(i)._2 + 8
      val last = i == idx.length - 1
      if (acc >= splitBytes || last) {
        val endByte = idx(i)._1 + idx(i)._2
        splits += ShpSplit(shp, start, i + 1, startByte, endByte)
        start = i + 1
        if (!last) startByte = idx(i + 1)._1 - 8
        acc = 0L
      }
    }
    splits
  }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    ShapefileReaderFactory(required, srid, reproject)
}

final case class ShapefileReaderFactory(required: StructType, srid: Int, reproject: Option[Int])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ShpPartitionReader(partition.asInstanceOf[ShpSplit], required, srid, reproject)
}

class ShpPartitionReader(split: ShpSplit, required: StructType,
                         srid: Int, reproject: Option[Int])
  extends PartitionReader[InternalRow] {

  private val needGeom = required.fieldNames.contains("geom")

  // --- .dbf slice: header (field descriptors) + only this split's records ---
  private val dbfRecords: IndexedSeq[Map[String, String]] = {
    val raf = new java.io.RandomAccessFile(ShapefileSource.dbfPath(split.shpPath), "r")
    try {
      val head = new Array[Byte](32)
      raf.readFully(head)
      val hb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
      val headerSize = hb.getShort(8) & 0xffff
      val recSize = hb.getShort(10) & 0xffff
      val header = new Array[Byte](headerSize)
      raf.seek(0); raf.readFully(header)
      val fields = ShapefileReader.dbfFields(header)
      val n = split.endRec - split.startRec
      val buf = new Array[Byte](n * recSize)
      raf.seek(headerSize.toLong + split.startRec.toLong * recSize)
      raf.readFully(buf)
      // a deleted record is null and is skipped with its shape
      (0 until n).map(i => ShapefileReader.dbfRecord(buf, i * recSize, fields))
    } finally raf.close()
  }

  // --- .shp slice: only this split's byte range, walked record by record ---
  private val shapes: IndexedSeq[graft.geom.ShapeDecode.Shape] =
    if (!needGeom) IndexedSeq.empty
    else {
      val raf = new java.io.RandomAccessFile(split.shpPath, "r")
      try {
        val buf = new Array[Byte]((split.shpEndByte - split.shpStartByte).toInt)
        raf.seek(split.shpStartByte); raf.readFully(buf)
        ShapefileReader.shapes(buf, 0, buf.length)
      } finally raf.close()
    }

  private var i = -1
  private var row: InternalRow = _

  override def next(): Boolean = {
    i += 1
    while (i < dbfRecords.length && dbfRecords(i) == null) i += 1 // deleted
    if (i >= dbfRecords.length) return false
    val rec = dbfRecords(i)
    val values = required.fields.map { f =>
      if (f.name == "geom") {
        val geom = ShapeDecode.toGeometry(shapes(i))
        if (geom == null) null
        else {
          reproject.foreach(to => Mercator.projectInPlace(geom, srid, to))
          WkbCodec.write(geom)
        }
      } else ShapefileReader.parseValue(rec(f.name), f.dataType, f.name) match {
        case s: String => UTF8String.fromString(s)
        case other => other
      }
    }
    row = new GenericInternalRow(values.asInstanceOf[Array[Any]])
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
