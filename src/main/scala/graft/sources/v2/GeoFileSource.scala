package graft.sources.v2

import java.io.{BufferedInputStream, Closeable, InputStream}
import java.nio.file.{Files, Paths}
import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.GraftError

/** The DataSource V2 protocol shared by the file sources ([[GeoJsonSource]],
  * [[GeoJsonlSource]], [[ShapefileSource]], [[OsmPbfSource]]): table, scan
  * builder with column pruning, scan/batch, reader factory, partition
  * reader, path resolution and the scan-option parse. A format supplies
  * only what is its own:
  *  - `shortName` and the `extensions` a directory `path` is filtered on;
  *  - [[inferSchema]] from the resolved files;
  *  - [[planSplits]]: the splits of a scan, planned on the driver;
  *  - [[readSplit]]: the rows of one split, pruned to the required
  *    columns, produced on an executor.
  *
  * The `path` option names one file, or a directory whose files ending in
  * one of `extensions` (any letter case, like
  * [[graft.sources.SourceDispatch.determineFileType]]) are read in name
  * order; a directory with no such file is a
  * [[GraftError.FailedValidation]]. The source object itself travels to
  * executors inside the reader factory, so a format keeps no state in it.
  */
private[v2] abstract class GeoFileSource[S <: InputPartition]
  extends TableProvider with DataSourceRegister with Serializable {

  protected def extensions: Seq[String]

  protected def inferSchema(files: Seq[String], options: CaseInsensitiveStringMap): StructType

  protected[v2] def planSplits(files: Seq[String], options: CaseInsensitiveStringMap,
                               scan: ScanOptions): Seq[InputPartition]

  /** Rows of `split` with only the `required` columns. Files are opened
    * through `open`, which buffers them and closes them when the task ends,
    * also when the consumer stops early (limit, failure). */
  protected def readSplit(split: S, required: StructType, scan: ScanOptions,
                          open: String => InputStream): Iterator[InternalRow]

  /** Name of the table and prefix of the scan description. */
  protected def label(options: CaseInsensitiveStringMap): String = shortName()

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    inferSchema(files(options), options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GeoFileTable(this, schema, label(new CaseInsensitiveStringMap(properties)))

  private[v2] def files(options: CaseInsensitiveStringMap): Seq[String] = {
    val path = Option(options.get("path")).getOrElse(
      throw GraftError.FailedValidation(s"${shortName()} source requires a path"))
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) Seq(path)
    else {
      val listing = Files.list(dir)
      val found =
        try listing.iterator().asScala.map(_.toString)
          .filter(f => extensions.exists(f.toLowerCase.endsWith)).toVector.sorted
        finally listing.close()
      if (found.isEmpty)
        throw GraftError.FailedValidation(s"no ${extensions.mkString("|")} files under $path")
      found
    }
  }

  private[v2] def reader(split: InputPartition, required: StructType,
                         scan: ScanOptions): PartitionReader[InternalRow] =
    new GeoPartitionReader(readSplit(split.asInstanceOf[S], required, scan, _))
}

/** The scan options of the file sources, parsed and checked once, when the
  * scan is built. A source ignores the keys it has no use for, but a bad
  * value is rejected whichever source it is given to. */
private[sources] final case class ScanOptions(srid: Int, reproject: Option[Int],
                                              splitBytes: Long, splitBlobs: Int)

private[sources] object ScanOptions {
  def apply(options: CaseInsensitiveStringMap): ScanOptions = {
    def long(key: String): Option[Long] = Option(options.get(key)).map(v =>
      v.toLongOption.getOrElse(
        throw GraftError.FailedValidation(s"$key must be an integer, got $v")))
    def positive(key: String, max: Long): Option[Long] = long(key).map(v =>
      if (v > 0 && v <= max) v
      else throw GraftError.FailedValidation(s"$key must be a positive integer, got $v"))
    ScanOptions(
      srid = long("srid").map(checkSrid("srid", _)).getOrElse(4326),
      reproject = long("reproject").map(checkSrid("reproject", _)),
      splitBytes = positive("splitBytes", Long.MaxValue).getOrElse(32L * 1024 * 1024),
      splitBlobs = positive("splitBlobs", Int.MaxValue).fold(4)(_.toInt))
  }

  /** The two supported SRIDs (reference `src/utils/validate.rs:6-34`). */
  def checkSrid(key: String, srid: Long): Int =
    if (srid == 4326 || srid == 3857) srid.toInt
    else throw GraftError.FailedValidation(s"$key must be 4326 or 3857, got $srid")
}

private[v2] final class GeoFileTable(source: GeoFileSource[_], tableSchema: StructType,
                                     label: String) extends Table with SupportsRead {
  override def name(): String = label
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GeoScanBuilder(source, tableSchema, label, options)
}

private[v2] final class GeoScanBuilder(source: GeoFileSource[_], fullSchema: StructType,
                                       label: String, options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan =
    new GeoScan(source, label, source.files(options), options, required, ScanOptions(options))
}

private[v2] final class GeoScan(source: GeoFileSource[_], label: String, files: Seq[String],
                                options: CaseInsensitiveStringMap, required: StructType,
                                scan: ScanOptions) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"$label ${files.mkString(",")} readSchema=${required.simpleString}"
  override def planInputPartitions(): Array[InputPartition] =
    source.planSplits(files, options, scan).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    GeoReaderFactory(source, required, scan)
}

private[v2] final case class GeoReaderFactory(source: GeoFileSource[_], required: StructType,
                                              scan: ScanOptions) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    source.reader(partition, required, scan)
}

/** Drains one split's row iterator; `close` (called by Spark when the task
  * ends) closes every file the iterator opened. */
private[v2] final class GeoPartitionReader(rows: (String => InputStream) => Iterator[InternalRow])
  extends PartitionReader[InternalRow] {
  private val opened = ArrayBuffer.empty[Closeable]
  private val it = rows { path =>
    val in = new BufferedInputStream(Files.newInputStream(Paths.get(path)), 1 << 20)
    opened += in
    in
  }
  private var row: InternalRow = _
  override def next(): Boolean =
    if (it.hasNext) { row = it.next(); true } else false
  override def get(): InternalRow = row
  override def close(): Unit = opened.foreach(_.close())
}
