package graft.sources.v2

import java.io.InputStream
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{FeatureRows, GeoJsonReader}

/** Line-delimited GeoJSON (GeoJSONL / ndjson, one Feature per line) as a
  * DataSource V2 — `spark.read.format("geojsonl")`. This closes the one
  * single-file-parallelism gap left by the FeatureCollection reader
  * (reference S1/S2, `/root/reference/src/format/geojson.rs:105-166`): a
  * `.geojson` file is ONE JSON document, so one file = one task there,
  * while real CC-scale geo dumps ship newline-delimited features exactly
  * so engines can split them like any text file.
  *
  * Scale design:
  *  - BYTE-RANGE SPLITS within one file (Hadoop text semantics: a line
  *    belongs to the split containing its FIRST byte; a reader starting
  *    mid-file skips to the next newline and the previous reader finishes
  *    the straddling line past its range) — a 10 GB dump becomes ~320
  *    independent 32 MB tasks with zero coordination.
  *  - COLUMN PRUNING pushed into the reader: unneeded properties are never
  *    converted, and when `geom` itself is pruned the geometry decode +
  *    WKB encode are skipped entirely (the dominant per-line cost).
  *  - Per-line Jackson parse only — no whole-file DOM, flat task memory.
  *
  * Semantics match [[GeoJsonSource]] (same first-feature
  * schema inference incl. the `geom`/`geometry` property-key skip of
  * geojson.rs:34-36, same Number→DOUBLE / String→STRING / Bool→BOOLEAN
  * mapping, MixedDataTypes on conflicts, optional 4326↔3857 reprojection,
  * WKB geom last). Non-Feature lines warn and are skipped (the per-line
  * analog of the reference's warn-and-empty on non-FeatureCollection
  * input, geojson.rs:119-124); blank lines are skipped silently.
  *
  * Options: `path` (one `.geojsonl`/`.ndjson` file or a directory of
  * them), `srid` (default 4326), `reproject` (4326|3857), `splitBytes`
  * (default 33554432).
  */
class GeoJsonlSource extends GeoFileSource[JlSplit] {
  override def shortName(): String = "geojsonl"
  override protected def extensions: Seq[String] = Seq(".geojsonl", ".ndjson")

  /** Schema from the FIRST feature line only (the ndjson analog of the
    * reference's first-feature inference, geojson.rs:29-33): reads one
    * line of I/O no matter the file size. */
  override protected def inferSchema(files: Seq[String],
                                     options: CaseInsensitiveStringMap): StructType = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      Files.newInputStream(Paths.get(files.head)), "UTF-8"))
    try {
      var line = in.readLine()
      while (line != null && line.trim.isEmpty) line = in.readLine()
      val feat = Option(line).map(GeoJsonlSource.mapper.readTree(_): JsonNode)
        .filter(_.path("type").asText() == "Feature")
      if (line != null && feat.isEmpty)
        System.err.println("[geojsonl] first line is not a Feature; empty schema")
      GeoJsonReader.schemaFromFirstFeature(feat)
    } finally in.close()
  }

  override protected[v2] def planSplits(files: Seq[String], options: CaseInsensitiveStringMap,
                                        scan: ScanOptions): Seq[JlSplit] = files.flatMap { f =>
    val len = Files.size(Paths.get(f))
    val step = scan.splitBytes
    // byte-range cuts only — no I/O at planning time, any number of files
    val n = math.max(1L, (len + step - 1) / step)
    (0L until n).map(i => JlSplit(f, i * step, math.min(len, (i + 1) * step)))
  }

  override protected def readSplit(split: JlSplit, required: StructType, scan: ScanOptions,
                                   open: String => InputStream): Iterator[InternalRow] = {
    val in = open(split.path)
    // pos = offset of the next unread byte; a line is OURS iff its first
    // byte is in [start, end) (the straddling line is read past `end`; the
    // next reader discards its leading partial line). A reader with
    // start > 0 must know whether a line begins EXACTLY at `start` — so it
    // peeks at byte start-1 (the Hadoop LineRecordReader seek(start-1)
    // trick): if that byte is '\n', the line at `start` is ours and nothing
    // is skipped; otherwise `start` falls mid-line and we skip through the
    // first newline. Without the peek, a line boundary landing exactly on a
    // split boundary loses the line: this reader skips it, and the previous
    // reader stops strictly before it (pos >= end).
    var pos: Long = {
      if (split.start == 0) 0L
      else {
        var skipped = 0L
        val target = split.start - 1
        while (skipped < target) skipped += in.skip(target - skipped)
        var p = target
        var b = in.read(); p += 1 // the peek byte at start-1
        if (b != '\n' && b != -1) {
          b = in.read()
          while (b != -1 && b != '\n') { p += 1; b = in.read() }
          if (b != -1) p += 1
        }
        p
      }
    }
    val lineBuf = new java.io.ByteArrayOutputStream(1 << 12)

    /* The next line (bytes to '\n' or EOF, exclusive); null at range end /
     * EOF. Advances `pos` over the line AND its terminator. */
    def nextLine(): String = {
      if (pos >= split.end) return null
      lineBuf.reset()
      var b = in.read()
      if (b == -1) return null
      while (b != -1 && b != '\n') { lineBuf.write(b); b = in.read() }
      pos += lineBuf.size() + (if (b == -1) 0 else 1)
      new String(lineBuf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    }

    Iterator.continually(nextLine()).takeWhile(_ != null).map(_.trim).filter(_.nonEmpty)
      .flatMap { t =>
        val feat = GeoJsonlSource.mapper.readTree(t)
        if (feat.path("type").asText() == "Feature")
          Some(FeatureRows.toInternalRow(feat, required, scan.srid, scan.reproject))
        else {
          System.err.println("[geojsonl] line is not a Feature; skipped")
          None
        }
      }
  }
}

private object GeoJsonlSource {
  val mapper = new ObjectMapper()
}

/** One partition = the byte range [start, end) of one file. */
final case class JlSplit(path: String, start: Long, end: Long) extends InputPartition
