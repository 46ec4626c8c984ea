package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.GraftError
import graft.geom.{GeoJsonDecode, Mercator, WkbCodec}

import scala.jdk.CollectionConverters._

/** GeoJSON FeatureCollection source (reference S1/S2,
  * `/root/reference/src/format/geojson.rs:105-166` scan, `:16-103`
  * schema inference). Reference semantics kept exactly:
  *
  *  - non-FeatureCollection input -> warning + EMPTY result (`:119-124`);
  *  - schema inferred from the FIRST feature only (`:29-33`);
  *  - property keys named `geom`/`geometry` skipped (`:34-36`);
  *  - JSON Null contributes no column (`:83-84`);
  *  - JSON Number -> DoubleType, String -> StringType, Bool -> BooleanType;
  *  - nested objects/arrays -> warning, column dropped (`:85`);
  *  - conflicting types for one key -> [[GraftError.MixedDataTypes]];
  *  - optional per-feature 4326<->3857 reproject (P3), WKB geom LAST (P4/P6).
  *
  * Documented deviation: columns in lexicographic order (SURVEY §1.3 —
  * the reference's HashMap order is nondeterministic and can silently
  * mis-assign same-typed columns).
  *
  * This object is the codec: schema inference and the single-threaded
  * parse. DataFrames come from the DSV2 source
  * ([[graft.sources.v2.GeoJsonSource]], `format("geojson")`), which parses
  * on executors with the same [[featureStream]] and [[FeatureRows]]. For
  * geometry JSON already inside a table column, use [[geomFromGeoJson]].
  */
object GeoJsonReader {
  private val mapper = new ObjectMapper()

  /** Column function: GeoJSON geometry string -> WKB binary (distributed
    * path for geometry columns in big tables): `st_geomfromgeojson`. */
  def geomFromGeoJson(c: Column): Column = graft.ops.SqlFunctions.call("st_geomfromgeojson", c)

  /** Schema fields from the FIRST feature's properties (geojson.rs:29-33).
    * Shared with the ndjson DSV2 source ([[graft.sources.v2.GeoJsonlSource]])
    * so both GeoJSON shapes infer identically. */
  private[sources] def schemaFromFirstFeature(firstFeature: Option[JsonNode]): StructType = {
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    firstFeature.foreach { feat =>
      val props = feat.path("properties")
      props.properties().asScala.foreach { e =>
        val (k, v) = (e.getKey, e.getValue)
        if (k != "geom" && k != "geometry") {
          val dt: Option[DataType] =
            if (v.isNumber) Some(DoubleType)
            else if (v.isTextual) Some(StringType)
            else if (v.isBoolean) Some(BooleanType)
            else if (v.isNull) None
            else { System.err.println(s"[geojson] type of '$k' not supported, dropped"); None }
          dt.foreach { d =>
            fields.get(k) match {
              case Some(prev) if prev != d => throw GraftError.MixedDataTypes(k)
              case _ => fields(k) = d
            }
          }
        }
      }
    }
    StructType(fields.toSeq.sortBy(_._1).map { case (k, d) => StructField(k, d, nullable = true) } :+
      StructField("geom", BinaryType, nullable = true))
  }

  def inferSchema(json: String): StructType = {
    val root = mapper.readTree(json)
    if (root.path("type").asText() != "FeatureCollection") {
      System.err.println("[geojson] not a FeatureCollection; empty schema")
      return StructType(Seq(StructField("geom", BinaryType, nullable = true)))
    }
    val feats = root.path("features")
    schemaFromFirstFeature(if (feats.size() > 0) Some(feats.get(0)) else None)
  }

  /** Streaming schema inference: the first element of [[featureStream]],
    * so inferring from a multi-GB file costs a few KB of I/O instead of a
    * whole-file DOM. Every stream `open` returns is closed before this
    * returns, the DOM fallback's too. */
  def inferSchemaStream(open: () => java.io.InputStream): StructType = {
    val opened = scala.collection.mutable.ArrayBuffer.empty[java.io.InputStream]
    try {
      val feats = featureStream { () => val in = open(); opened += in; in }
      schemaFromFirstFeature(feats.nextOption())
    } finally opened.foreach(_.close())
  }

  /** Executor-safe parse of one FeatureCollection string into Rows. */
  def parseRows(json: String, schema: StructType,
                fromSrid: Int, reproject: Option[Int]): Seq[Row] = {
    val root = mapper.readTree(json)
    if (root.path("type").asText() != "FeatureCollection") {
      System.err.println("[geojson] not a FeatureCollection; no rows")
      return Seq.empty
    }
    val feats = root.path("features")
    (0 until feats.size()).map(i => FeatureRows.toRow(feats.get(i), schema, fromSrid, reproject))
  }

  /** Streaming parse of one FeatureCollection: features decode one at a
    * time off the token stream (per-feature DOM, whole-file DOM never
    * built), so task memory stays flat no matter the file size — the
    * 100 TB-safe bulk-ingest path. `open` is called once (twice only in the
    * degenerate case where `features` precedes `type` in the JSON, which
    * falls back to the DOM parser to keep reference semantics exactly).
    * The returned iterator closes the stream on exhaustion. */
  def parseRowsStream(open: () => java.io.InputStream, schema: StructType,
                      fromSrid: Int, reproject: Option[Int]): Iterator[Row] = {
    featureStream(open).map(feat => FeatureRows.toRow(feat, schema, fromSrid, reproject))
  }

  /** Streaming per-feature JsonNode iterator over one FeatureCollection —
    * the shared core of [[parseRowsStream]] and the DataSource V2 scan
    * ([[graft.sources.v2.GeoJsonSource]]), so both decode features off the
    * token stream identically (per-feature DOM, whole-file DOM never
    * built; degenerate `features`-before-`type` ordering falls back to a
    * DOM walk to keep reference semantics exactly). */
  private[sources] def featureStream(
      open: () => java.io.InputStream): Iterator[JsonNode] = {
    import com.fasterxml.jackson.core.{JsonParser, JsonToken}
    val in = open()
    val p: JsonParser = mapper.getFactory.createParser(in)
    // idempotent close, ALSO registered as a task-completion hook: a
    // consumer that abandons the iterator early (limit/take/failure) would
    // otherwise leak this file handle until GC — in a long-lived executor
    // over thousands of files that climbs toward the fd ulimit
    val close: () => Unit = {
      var done = false
      () => if (!done) {
        done = true
        try p.close() finally in.close()
      }
    }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => close()))
    def fallbackDom(): Iterator[JsonNode] = {
      close()
      val src = scala.io.Source.fromInputStream(open(), "UTF-8")
      val json = try src.mkString finally src.close()
      val root = mapper.readTree(json)
      if (root.path("type").asText() != "FeatureCollection") {
        System.err.println("[geojson] not a FeatureCollection; no rows")
        return Iterator.empty
      }
      val feats = root.path("features")
      (0 until feats.size()).iterator.map(feats.get)
    }
    if (p.nextToken() != JsonToken.START_OBJECT) {
      close()
      System.err.println("[geojson] not a FeatureCollection; no rows")
      return Iterator.empty
    }
    var isFc = false
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      p.currentName() match {
        case "type" =>
          p.nextToken()
          if (p.getText != "FeatureCollection") {
            close()
            System.err.println("[geojson] not a FeatureCollection; no rows")
            return Iterator.empty
          }
          isFc = true
        case "features" =>
          if (!isFc) return fallbackDom() // `type` after `features`: rare, not streamable
          if (p.nextToken() != JsonToken.START_ARRAY) { close(); return Iterator.empty }
          return new Iterator[JsonNode] {
            private var nextTok = p.nextToken()
            override def hasNext: Boolean = {
              val h = nextTok == JsonToken.START_OBJECT
              if (!h) close()
              h
            }
            override def next(): JsonNode = {
              val feat: JsonNode = mapper.readTree[JsonNode](p) // ONE feature subtree
              nextTok = p.nextToken()
              feat
            }
          }
        case _ => p.nextToken(); p.skipChildren()
      }
    }
    close()
    Iterator.empty // FeatureCollection with no features array
  }
}

/** Feature JsonNode -> row against a (possibly pruned) schema: the one
  * per-feature decoder, shared by the codec above and the FeatureCollection
  * and ndjson DSV2 readers. The geometry decode is skipped when `geom` is
  * pruned. */
private[sources] object FeatureRows {

  def toInternalRow(feat: JsonNode, required: StructType,
                    srid: Int, reproject: Option[Int]): InternalRow = {
    val props = feat.path("properties")
    val values = new Array[Any](required.length)
    var i = 0
    required.fields.foreach { f =>
      values(i) =
        if (f.name == "geom") decodeGeom(feat, srid, reproject)
        else {
          val v = props.path(f.name)
          if (v.isMissingNode || v.isNull) null
          else (f.dataType, v) match {
            case (DoubleType, n) if n.isNumber   => n.asDouble()
            case (StringType, n) if n.isTextual  => UTF8String.fromString(n.asText())
            case (BooleanType, n) if n.isBoolean => n.asBoolean()
            case _ => throw GraftError.MixedDataTypes(f.name)
          }
        }
      i += 1
    }
    new GenericInternalRow(values)
  }

  def toRow(feat: JsonNode, schema: StructType, srid: Int, reproject: Option[Int]): Row =
    Row.fromSeq(toInternalRow(feat, schema, srid, reproject).toSeq(schema).map {
      case s: UTF8String => s.toString
      case v => v
    })

  private def decodeGeom(feat: JsonNode, srid: Int,
                         reproject: Option[Int]): Array[Byte] = {
    val geomNode = feat.path("geometry")
    if (geomNode.isMissingNode || geomNode.isNull) null
    else {
      val g = GeoJsonDecode.decode(geomNode)
      reproject.foreach(to => Mercator.projectInPlace(g, srid, to))
      WkbCodec.write(g)
    }
  }
}
