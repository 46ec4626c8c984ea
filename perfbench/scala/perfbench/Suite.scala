package perfbench

import java.io.{ByteArrayOutputStream, File, ObjectOutputStream}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.geom.{GeoJsonDecode, Mercator, WkbCodec}
import graft.index.CoverIndex
import graft.ops.{GeoExpressions, PoiGrid}
import graft.sources.{GeoJsonReader, Layers, OsmPbfReader, ShapefileReader, SourceDispatch}
import graft.table.TableLog

/** The per-layer suite a traced run adds after its timed window. It calls
  * each layer's public functions directly, so every layer is measured in
  * every traced run, whatever the workload:
  *  - sources / geom / table: per-format reads, scans with and without
  *    reprojection, CLI loads, one-thread parsers, geometry kernels;
  *  - index: probe builds, broadcast size, single-probe costs;
  *  - ops: the flagship as a prefix chain, plus its scaling efficiency;
  *  - query: per-query warm and cold latency and job count. */
object Suite {
  val LayerNames: Seq[String] = Seq("session", "cli", "sources", "geom", "table", "index", "ops", "query", "check")

  final case class Result(metrics: Map[String, Double], spark: SparkSession)

  private def med(n: Int)(body: => Double): Double = Stats.median(Seq.fill(n)(body))
  private def secs(body: => Any): Double = Run.timed(body)._2

  def run(ctx: Ctx, w: Workload, spark0: SparkSession, samples: Seq[Sample]): Result = {
    Trace.enabled = true
    val m = mutable.LinkedHashMap.empty[String, Double]
    var spark = spark0
    val listener = Trace.listener.get

    // ---- sources, geom, table ----
    val ing = w match {
      case i: Ingest => i
      case _ => val i = new Ingest(ctx); i.prepare(); i
    }
    val tables = new File(ctx.work, "suite-tables"); tables.mkdirs()
    var seq = 0
    def freshTable(): String = { seq += 1; s"$tables/s$seq" }
    Seq("geojson" -> ing.geo, "shapefile" -> ing.shp, "osmpbf" -> ing.pbf).foreach { case (fmt, f) =>
      val srid = if (fmt == "osmpbf") None else Some(3857)
      m(s"sources.read_call_s.$fmt") = med(2)(secs(Trace.span(s"read $fmt", "sources") {
        SourceDispatch.read(spark, f.path, 4326, None)
      }))
      var rows = 0L
      val scan = med(2)(secs(Trace.span(s"scan $fmt", "sources") {
        rows = Run.noopCounted(SourceDispatch.read(spark, f.path, 4326, None))._1
      }))
      m(s"sources.scan_s.$fmt") = scan
      m(s"sources.rows.$fmt") = rows.toDouble
      val scanOut = srid.fold(scan) { to =>
        val s = med(2)(secs(Trace.span(s"scan+reproject $fmt", "geom") {
          Run.noop(SourceDispatch.read(spark, f.path, 4326, Some(to)))
        }))
        m(s"geom.reproject_s.$fmt") = s - scan
        s
      }
      val load = med(2)(secs {
        val t = freshTable()
        Trace.span(s"Main.run $fmt", "cli") { graft.Main.run(spark, f.path, t, 4326, srid, "fail") }
        Run.deleteTree(new File(t))
      })
      m(s"table.write_s.$fmt") = load - scanOut
      m(s"sources.parse_mb_per_s_1t.$fmt") = f.bytes / 1e6 / med(3)(secs(Trace.span(s"parse 1t $fmt", "sources") {
        parseOneThread(fmt, f.path)
      }))
    }
    m("sources.dir_scan_s") = med(2)(secs(Trace.span("scan dir", "sources") {
      Run.noop(SourceDispatch.readDir(spark, s"${ctx.work}/in/dir", 4326, None))
    }))
    val dirTable = freshTable()
    val df = SourceDispatch.readDir(spark, s"${ctx.work}/in/dir", 4326, Some(3857))
    Engine.drain(spark.sparkContext)
    val jobs0 = System.currentTimeMillis()
    Trace.span("TableLog.write dir", "table") { TableLog.write(df, dirTable, "fail", srid = 3857) }
    Engine.drain(spark.sparkContext)
    m("table.write_jobs") = listener.jobsSince(jobs0).toDouble
    val (stored, files) = IngestCheck.storedBytes(dirTable)
    m("table.bytes_written") = stored.toDouble
    m("table.files_written") = files.toDouble
    m("table.stored_bytes_per_input_byte") = stored.toDouble / ing.dir.map(_.bytes).sum
    Run.deleteTree(tables)

    // geometry kernels, one thread
    val mapper = new ObjectMapper()
    val feats = mapper.readTree(new File(ing.geo.path)).get("features")
    val geomNodes: IndexedSeq[JsonNode] = (0 until feats.size()).map(i => feats.get(i).get("geometry"))
    val geoms = geomNodes.map(GeoJsonDecode.decode)
    val coords = geoms.flatMap(_.getCoordinates.map(c => (c.x, c.y))).toArray
    m("geom.decode_ns_per_feature") = nsPer(geomNodes.size, "decode", "geom")(geomNodes.foreach(GeoJsonDecode.decode))
    m("geom.wkb_write_ns_per_geom") = nsPer(geoms.size, "wkb write", "geom")(geoms.foreach(WkbCodec.write))
    m("geom.mercator_ns_per_coord") = nsPer(coords.length, "mercator", "geom") {
      var acc = 0.0
      coords.foreach { case (x, y) => acc += Mercator.forward(x, y)._2 }
      if (acc == 42.0) println(acc)
    }

    // ---- index ----
    val dir = ctx.tables
    m("index.cover_build_s") = med(3)(secs(Trace.span("containingCol", "index") {
      GeoExpressions.containingCol(spark, Layers.polygons(spark, dir), Pipeline.CellLevel)
    }))
    m("index.poigrid_build_s") = med(3)(secs(Trace.span("knnCol", "index") {
      GeoExpressions.knnCol(spark, Layers.pois(spark, dir), Pipeline.K, Pipeline.CellLevel)
    }))
    val polys = Layers.polygons(spark, dir).select("poly_id", "geom").collect()
    val pois = Layers.pois(spark, dir).select("poi_id", "px", "py").collect()
    val cover = CoverIndex.build(polys.map(_.getLong(0)), polys.map(_.getAs[Array[Byte]](1)), Pipeline.CellLevel)
    val grid = new PoiGrid(Pipeline.CellLevel, pois.map(_.getLong(0)), pois.map(_.getDouble(1)), pois.map(_.getDouble(2)))
    m("index.broadcast_mb") = (serializedBytes(cover) + serializedBytes(grid)) / 1e6
    val docIds = spark.read.parquet(s"$dir/documents.parquet").select("doc_id").collect().map(_.getLong(0))
    val pts = (for (d0 <- docIds.iterator; r <- 0 until 4; d = d0 * 1000 + r; k <- 0 until EnrichCheck.nEnts(d))
      yield (EnrichCheck.lonm(d, k) / 20.0 - 180.0, EnrichCheck.latm(d, k) / 20.0 - 70.0)).toArray
    m("index.pip_probe_ns") = nsPer(pts.length, "pip probe", "index")(pts.foreach { case (x, y) => cover.containing(x, y) })
    m("index.knn_probe_ns") = nsPer(pts.length, "knn probe", "index")(pts.foreach { case (x, y) => grid.knn(x, y, Pipeline.K) })
    val cands = pts.map { case (x, y) => cover.candidateCount(x, y).toLong }.sum
    val hits = pts.map { case (x, y) => cover.containing(x, y).length.toLong }.sum
    m("index.pip_candidates_per_probe") = cands.toDouble / pts.length
    m("index.pip_hits_per_candidate") = hits.toDouble / math.max(1L, cands)

    // ---- query ----
    val qdir = w match { case q: QueryMix => q.lastDir; case _ => ctx.qtables }
    val qSamples = samples.filterNot(_.traced).groupBy(_.op)
    QueryMix.queries.foreach { q =>
      val (first, warm) = w match {
        case qm: QueryMix =>
          (qm.firstS(q), qSamples.get(q).map(ss => Stats.median(ss.map(_.seconds))).getOrElse(Double.NaN))
        case _ =>
          (secs(Trace.span(q, "query")(Run.noop(graft.SparkEntry.queries(q)(spark, qdir)))), Double.NaN)
      }
      // one warm execution gives the job count (and the warm time outside query-mix)
      Engine.drain(spark.sparkContext)
      val j0 = System.currentTimeMillis()
      val once = secs(Trace.span(q, "query")(Run.noop(graft.SparkEntry.queries(q)(spark, qdir))))
      Engine.drain(spark.sparkContext)
      m(s"query.$q.first_s") = first
      m(s"query.$q.p50_s") = if (warm.isNaN) once else warm
      m(s"query.$q.jobs") = listener.jobsSince(j0).toDouble
    }

    // ---- ops: the flagship as a prefix chain ----
    val en = w match {
      case e: Enrich => e
      case _ => val e = new Enrich(ctx, dir); e.buildProbes(spark); e
    }
    val (from, to) = en.slice(0, Sizes.suiteReps)
    // the program's own entity source and, last, its own composition of
    // the flagship (`Enrich.pipeline`); the PIP and kNN prefixes add one
    // probe column at a time in between
    val ents = Pipeline.entitiesAmplifiedRange(spark, dir, from, to, 1000)
    val pip = ents.withColumn("poly_ids", en.containing(col("lon"), col("lat")))
    val knn = pip.withColumn("knn_pois", en.knn(col("lon"), col("lat")))
    val stages = Seq(ents, pip, knn, en.pipeline(spark, from, to))
    val names = Seq("synth_extract", "pip", "knn", "tile")
    val ts = stages.zip(names).map { case (d, n) =>
      Run.noop(d)
      med(2)(secs(Trace.span(s"prefix +$n", "ops")(Run.noop(d))))
    }
    names.indices.foreach(i => m(s"ops.${names(i)}_s") = ts(i) - (if (i == 0) 0.0 else ts(i - 1)))
    val agg = pip.agg(count(lit(1)), sum(size(col("poly_ids")))).head()
    val entities = agg.getLong(0)
    m("ops.entities") = entities.toDouble
    m("ops.pip_hits_per_entity") = agg.getLong(1).toDouble / entities
    val fpsN = entities / ts.last

    // scaling: the full flagship again at max(1, nproc/4) task slots
    val q = math.max(1, ctx.nproc / 4)
    Run.stop(spark)
    spark = Trace.span("session start", "session") { Run.session(q, ctx.work) }
    Trace.sc = Some(spark.sparkContext)
    Trace.listener = Some(Engine.attach(spark.sparkContext))
    en.buildProbes(spark)
    val full = en.pipeline(spark, from, to)
    Run.noop(full)
    val tq = med(2)(secs(Trace.span(s"flagship at local[$q]", "ops")(Run.noop(full))))
    m("ops.fps_nproc") = fpsN
    m("ops.fps_quarter") = entities / tq
    m("ops.scaling_efficiency") = fpsN / ((ctx.nproc.toDouble / q) * (entities / tq))
    Result(m.toMap, spark)
  }

  /** Nanoseconds per item of `body` over `n` items: one warm-up pass, then
    * the median of five. */
  private def nsPer(n: Int, name: String, layer: String)(body: => Unit): Double = {
    body
    med(5)(secs(Trace.span(name, layer)(body))) * 1e9 / math.max(1, n)
  }

  private def serializedBytes(o: AnyRef): Long = {
    val b = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(b)
    out.writeObject(o); out.close()
    b.size().toLong
  }

  /** One thread over the executor-side parser of each format. */
  private def parseOneThread(fmt: String, path: String): Long = fmt match {
    case "geojson" =>
      val schema = GeoJsonReader.inferSchemaStream(() => Files.newInputStream(Paths.get(path)))
      GeoJsonReader.parseRowsStream(() => new java.io.BufferedInputStream(Files.newInputStream(Paths.get(path)), 1 << 20),
        schema, 4326, None).size.toLong
    case "shapefile" =>
      val schema = ShapefileReader.inferSchema(Files.readAllBytes(Paths.get(path.stripSuffix(".shp") + ".dbf")))
      ShapefileReader.parseFileRows(path, schema, 4326, None).size.toLong
    case "osmpbf" =>
      OsmPbfReader.indexBlobs(path).filter(_.blobType == "OSMData").map { b =>
        val (n, w) = OsmPbfReader.parsePrimitiveBlock(OsmPbfReader.blobData(path, b))
        (n.size + w.size).toLong
      }.sum
  }
}
