package graft.sources.v2

import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{FeatureRows, GeoJsonReader}

/** GeoJSON FeatureCollection (`.geojson`) as a DataSource V2 —
  * `spark.read.format("geojson")`, the read path of
  * [[graft.sources.SourceDispatch]] for this format (reference S1/S2,
  * `src/format/geojson.rs:105-166`). Schema inference and
  * the per-feature streaming Jackson decode are the
  * [[graft.sources.GeoJsonReader]] codec; the parse runs ON EXECUTORS, one
  * task per file, with DSV2 column pruning so unneeded properties are never
  * converted and the geometry decode + WKB encode is skipped entirely when
  * `geom` is pruned.
  *
  * A FeatureCollection is ONE JSON document, so a single file cannot be
  * byte-range split (the features array has no line structure) — one file
  * = one task is the parallelism ceiling here, by format. Line-delimited
  * dumps should use [[GeoJsonlSource]] (`format("geojsonl")`), which
  * splits within files; this source exists for the reference's own format
  * where the corpus is many `.geojson` files (the `readDir` scale shape).
  *
  * Options: `path` (one `.geojson` file or a directory of them), `srid`
  * (default 4326), `reproject` (4326|3857).
  */
class GeoJsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "geojson"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = GeoJsonSource.resolvePaths(options)
    GeoJsonReader.inferSchemaStream(() => Files.newInputStream(Paths.get(paths.head)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GeoJsonTable(schema)
}

object GeoJsonSource {
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] =
    SourcePaths.resolve(options, "geojson", ".geojson")
}

class GeoJsonTable(tableSchema: StructType) extends Table with SupportsRead {
  override def name(): String = "geojson"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GeoJsonScanBuilder(tableSchema, options)
}

class GeoJsonScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = {
    val srid = Option(options.get("srid")).map(_.toInt).getOrElse(4326)
    val reproject = Option(options.get("reproject")).map(_.toInt)
    new GeoJsonScan(GeoJsonSource.resolvePaths(options), required, srid, reproject)
  }
}

/** One partition = one whole `.geojson` file (unsplittable by format). */
final case class GjFileSplit(path: String) extends InputPartition

class GeoJsonScan(paths: Seq[String], required: StructType,
                  srid: Int, reproject: Option[Int]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"geojson ${paths.mkString(",")} readSchema=${required.simpleString}"
  override def planInputPartitions(): Array[InputPartition] =
    paths.map(GjFileSplit(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    GeoJsonReaderFactory(required, srid, reproject)
}

final case class GeoJsonReaderFactory(required: StructType, srid: Int, reproject: Option[Int])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GjPartitionReader(partition.asInstanceOf[GjFileSplit], required, srid, reproject)
}

class GjPartitionReader(split: GjFileSplit, required: StructType,
                        srid: Int, reproject: Option[Int])
  extends PartitionReader[InternalRow] {
  // featureStream registers its own task-completion close hook; per-feature
  // DOM only, so task memory stays flat for arbitrarily large files
  private val feats = GeoJsonReader.featureStream(
    () => new java.io.BufferedInputStream(
      Files.newInputStream(Paths.get(split.path)), 1 << 20))
  private var row: InternalRow = _
  override def next(): Boolean =
    if (feats.hasNext) {
      row = FeatureRows.toInternalRow(feats.next(), required, srid, reproject)
      true
    } else false
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
