package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftError
import graft.sources.OsmPbfReader

/** OSM PBF as a DataSource V2 — `spark.read.format("osmpbf")`, the element
  * scans under [[graft.sources.OsmPbfReader.read]] (reference S5–S7,
  * `src/format/osmpbf.rs`); blob framing and block parsing
  * are the `OsmPbfReader` codec. `option("element",
  * "nodes"|"ways"|"relations")` picks the element pass (default nodes —
  * the reference's first pass).
  *
  * Scale design: partitions are BLOB RANGES — the driver walks the
  * fileblock framing once (~13 bytes of header I/O per blob, no blob
  * decompression) and groups consecutive OSMData blobs into splits of
  * ~`splitBlobs` each (default 4 ≈ 4×(up to 32 MB uncompressed) per
  * task). Executors then seek, inflate, and parse their own blobs — the
  * split strategy Hadoop uses for block-compressed containers — with
  * column pruning (a pruned `tags`/`refs` column is never materialized
  * into rows) and multi-file directories.
  */
class OsmPbfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "osmpbf"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OsmPbfSource.schemaFor(OsmPbfSource.element(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new OsmPbfTable(schema, properties.asScala.getOrElse("element", "nodes"))
}

object OsmPbfSource {
  def element(options: CaseInsensitiveStringMap): String =
    Option(options.get("element")).getOrElse("nodes") match {
      case e @ ("nodes" | "ways" | "relations") => e
      case other => throw GraftError.FailedValidation(
        s"osmpbf element must be nodes|ways|relations, got $other")
    }

  def schemaFor(element: String): StructType = element match {
    case "nodes" => StructType(Seq(
      StructField("node_id", LongType), StructField("lon", DoubleType),
      StructField("lat", DoubleType), StructField("tags", ArrayType(StringType))))
    case "ways" => StructType(Seq(
      StructField("way_id", LongType), StructField("refs", ArrayType(LongType)),
      StructField("tags", ArrayType(StringType))))
    case "relations" => StructType(Seq(
      StructField("rel_id", LongType),
      StructField("member_ids", ArrayType(LongType)),
      StructField("member_types", ArrayType(IntegerType)),
      StructField("member_roles", ArrayType(StringType)),
      StructField("tags", ArrayType(StringType))))
  }

  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] =
    SourcePaths.resolve(options, "osmpbf", ".pbf")
}

class OsmPbfTable(tableSchema: StructType, element: String)
  extends Table with SupportsRead {
  override def name(): String = s"osmpbf($element)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OsmPbfScanBuilder(tableSchema, options)
}

class OsmPbfScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new OsmPbfScan(
    OsmPbfSource.resolvePaths(options), required,
    OsmPbfSource.element(options),
    Option(options.get("splitBlobs")).map(_.toInt).getOrElse(4))
}

/** One partition = `blobs.length` consecutive OSMData blobs of one file. */
final case class PbfSplit(path: String, offsets: Array[Long], lengths: Array[Int])
  extends InputPartition

class OsmPbfScan(paths: Seq[String], required: StructType, element: String,
                 splitBlobs: Int) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"osmpbf($element) ${paths.mkString(",")} readSchema=${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = paths.flatMap { f =>
    OsmPbfReader.indexBlobs(f).filter(_.blobType == "OSMData")
      .grouped(math.max(1, splitBlobs))
      .map(g => PbfSplit(f, g.map(_.offset).toArray, g.map(_.length).toArray))
  }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    OsmPbfReaderFactory(required, element)
}

final case class OsmPbfReaderFactory(required: StructType, element: String)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PbfPartitionReader(partition.asInstanceOf[PbfSplit], required, element)
}

class PbfPartitionReader(split: PbfSplit, required: StructType, element: String)
  extends PartitionReader[InternalRow] {

  private def utf8Array(a: Array[String]): ArrayData =
    ArrayData.toArrayData(a.map(UTF8String.fromString))

  // one blob inflated + parsed at a time: the working set is one
  // uncompressed PrimitiveBlock (<= 32 MB by spec), never the whole split
  private val rows: Iterator[InternalRow] =
    split.offsets.indices.iterator.flatMap { i =>
      val block = OsmPbfReader.blobData(split.path,
        OsmPbfReader.BlobRef(split.offsets(i), split.lengths(i), "OSMData"))
      element match {
        case "nodes" =>
          OsmPbfReader.parsePrimitiveBlock(block)._1.iterator.map { n =>
            fill {
              case "node_id" => n.id
              case "lon"     => n.lon
              case "lat"     => n.lat
              case "tags"    => utf8Array(n.tags)
            }
          }
        case "ways" =>
          OsmPbfReader.parsePrimitiveBlock(block)._2.iterator.map { w =>
            fill {
              case "way_id" => w.id
              case "refs"   => ArrayData.toArrayData(w.refs)
              case "tags"   => utf8Array(w.tags)
            }
          }
        case "relations" =>
          OsmPbfReader.parsePrimitiveBlockFull(block)._3.iterator.map { r =>
            fill {
              case "rel_id"       => r.id
              case "member_ids"   => ArrayData.toArrayData(r.memberIds)
              case "member_types" => ArrayData.toArrayData(r.memberTypes)
              case "member_roles" => utf8Array(r.roles)
              case "tags"         => utf8Array(r.tags)
            }
          }
      }
    }

  /** Builds a row with only the REQUIRED (pruned) columns materialized. */
  private def fill(value: String => Any): InternalRow = {
    val values = new Array[Any](required.length)
    var i = 0
    required.fields.foreach { f => values(i) = value(f.name); i += 1 }
    new GenericInternalRow(values)
  }

  private var row: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { row = rows.next(); true } else false
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
