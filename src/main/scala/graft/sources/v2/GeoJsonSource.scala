package graft.sources.v2

import java.io.InputStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
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
class GeoJsonSource extends GeoFileSource[GjFileSplit] {
  override def shortName(): String = "geojson"
  override protected def extensions: Seq[String] = Seq(".geojson")

  override protected def inferSchema(files: Seq[String],
                                     options: CaseInsensitiveStringMap): StructType =
    GeoJsonReader.inferSchemaStream(() => Files.newInputStream(Paths.get(files.head)))

  override protected[v2] def planSplits(files: Seq[String], options: CaseInsensitiveStringMap,
                                        scan: ScanOptions): Seq[GjFileSplit] =
    files.map(GjFileSplit)

  // per-feature DOM only, so task memory stays flat for arbitrarily large files
  override protected def readSplit(split: GjFileSplit, required: StructType, scan: ScanOptions,
                                   open: String => InputStream): Iterator[InternalRow] =
    GeoJsonReader.featureStream(() => open(split.path))
      .map(FeatureRows.toInternalRow(_, required, scan.srid, scan.reproject))
}

/** One partition = one whole `.geojson` file (unsplittable by format). */
final case class GjFileSplit(path: String) extends InputPartition
