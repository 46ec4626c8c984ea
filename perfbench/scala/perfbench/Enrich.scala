package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.io.WKBReader

import graft.Pipeline
import graft.ops.GeoExpressions
import graft.sources.Layers

/** The benchmark's own closed-form model of the flagship input and its
  * brute-force answers, used to check sampled enrich output rows. */
object EnrichCheck {
  // entity coordinates of page `d`, mention `k` (0.05-degree units)
  def nEnts(d: Long): Int = (1 + d % 3).toInt
  def lonm(d: Long, k: Int): Long =
    if ((d * 7 + k * 3) % 4 == 0) 4000 + (d * 13 + k * 5) % 20 else (d * 131 + k * 2347) % 7200
  def latm(d: Long, k: Int): Long =
    if ((d * 7 + k * 3) % 4 == 0) 1400 + (d * 11 + k * 7) % 20 else (d * 197 + k * 1069) % 2800

  /** Entities produced by replication slice [from, to) of `total`. */
  def entityCount(docIds: Array[Long], from: Int, to: Int, total: Int): Long = {
    var n = 0L
    docIds.foreach(d => (from until to).foreach(r => n += nEnts(d * total + r)))
    n
  }

  def tileX(lon: Double, z: Int): Long = clamp(math.floor((lon + 180.0) / 360.0 * (1 << z)).toLong, z)
  def tileY(lat: Double, z: Int): Long = {
    val r = lat * math.Pi / 180.0
    clamp(math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0 * (1 << z)).toLong, z)
  }
  private def clamp(v: Long, z: Int): Long = math.max(0L, math.min((1L << z) - 1, v))

  /** Polygon and POI layers, collected once, for brute-force answers. */
  final class Truth(polyIds: Array[Long], polys: Array[Geometry], poiIds: Array[Long],
                    px: Array[Double], py: Array[Double]) {
    private val gf = new GeometryFactory()
    def containing(lon: Double, lat: Double): Seq[Long] = {
      val pt = gf.createPoint(new Coordinate(lon, lat))
      polys.indices.filter { i =>
        polys(i).getEnvelopeInternal.contains(lon, lat) && polys(i).contains(pt)
      }.map(polyIds).sorted
    }
    def knn(lon: Double, lat: Double, k: Int): Seq[Long] =
      poiIds.indices.map { i => val dx = lon - px(i); val dy = lat - py(i); (dx * dx + dy * dy, poiIds(i)) }
        .sorted.take(k).map(_._2)
  }

  def truth(spark: SparkSession, dir: String): Truth = {
    val p = Layers.polygons(spark, dir).select("poly_id", "geom").collect()
    val q = Layers.pois(spark, dir).select("poi_id", "px", "py").collect()
    val rd = new WKBReader()
    new Truth(p.map(_.getLong(0)), p.map(r => rd.read(r.getAs[Array[Byte]](1))),
      q.map(_.getLong(0)), q.map(_.getDouble(1)), q.map(_.getDouble(2)))
  }

  /** First problem in one sampled output row, if any. */
  def row(r: Row, t: Truth): Option[String] = {
    val url = r.getAs[String]("url")
    val d = url.substring(url.lastIndexOf('/') + 1).toLong
    val k = r.getAs[Int]("ent_idx")
    val lon = lonm(d, k) / 20.0 - 180.0
    val lat = latm(d, k) / 20.0 - 70.0
    val polyIds = r.getAs[Seq[Long]]("poly_ids")
    val knn = r.getAs[Seq[Long]]("knn_pois")
    if (r.getAs[Double]("lon") != lon || r.getAs[Double]("lat") != lat)
      Some(s"$url#$k at (${r.getAs[Double]("lon")},${r.getAs[Double]("lat")}) expected ($lon,$lat)")
    else if (polyIds != t.containing(lon, lat)) Some(s"$url#$k poly_ids $polyIds expected ${t.containing(lon, lat)}")
    else if (knn != t.knn(lon, lat, Pipeline.K)) Some(s"$url#$k knn $knn expected ${t.knn(lon, lat, Pipeline.K)}")
    else if (r.getAs[Long]("tile_x") != tileX(lon, Pipeline.TileZ) || r.getAs[Long]("tile_y") != tileY(lat, Pipeline.TileZ))
      Some(s"$url#$k tile (${r.getAs[Long]("tile_x")},${r.getAs[Long]("tile_y")})")
    else None
  }
}

/** Enrich workload: the flagship pipeline from `Pipeline` (amplified pages
  * -> EntityExtract -> broadcast PIP -> kNN-3 -> TileAssign) into the noop
  * sink. The broadcast probes are built once per session; each operation
  * is one pass over a replication slice the seed picks. */
final class Enrich(ctx: Ctx, dir: String) extends Workload {
  def this(ctx: Ctx) = this(ctx, ctx.tables)
  val ops: Seq[String] = Seq("pass")
  private val total = 1000
  private var passes = 0
  private var docIds: Array[Long] = Array.empty
  var containing: (Column, Column) => Column = _
  var knn: (Column, Column) => Column = _
  private var truth: EnrichCheck.Truth = _
  private val expected = scala.collection.mutable.Map.empty[String, Long]

  def prepare(): Unit = ()

  override def headline(samples: Seq[Sample]): Map[String, Double] =
    Map("enrich_features_per_s" -> samples.map(_.items).sum / samples.map(_.seconds).sum)

  /** Build both broadcast probes: the once-per-job driver cost. */
  def buildProbes(spark: SparkSession): Unit = {
    containing = Trace.span("containingCol", "index") {
      GeoExpressions.containingCol(spark, Layers.polygons(spark, dir), Pipeline.CellLevel)
    }
    knn = Trace.span("knnCol", "index") {
      GeoExpressions.knnCol(spark, Layers.pois(spark, dir), Pipeline.K, Pipeline.CellLevel)
    }
  }

  def setupRound(spark: SparkSession): Unit = {
    buildProbes(spark)
    if (truth == null) Trace.span("check truth", "check") {
      truth = EnrichCheck.truth(spark, dir)
      docIds = spark.read.parquet(s"$dir/documents.parquet").select("doc_id").collect().map(_.getLong(0))
    }
    ctx.record(this, spark, "pass")
  }

  /** The replication slice of pass `i`: seeded start, `reps` wide. */
  def slice(i: Int, reps: Int): (Int, Int) = {
    val from = ((ctx.seed * 7919L + i.toLong * reps) % (total - reps)).toInt
    (from, from + reps)
  }

  def pipeline(spark: SparkSession, from: Int, to: Int): DataFrame =
    Pipeline.enrichPrebuilt(Pipeline.entitiesAmplifiedRange(spark, dir, from, to, total), containing, knn)

  def run(spark: SparkSession, op: String): OpResult = {
    val (from, to) = slice(passes, Sizes.enrichReps)
    passes += 1
    val obs = Observation()
    val pick = ctx.seed % 4001
    val sample = collect_list(when(pmod(xxhash64(col("url"), col("ent_idx")), lit(4001L)) === pick,
      struct(col("url"), col("ent_idx"), col("lon"), col("lat"), col("poly_ids"), col("knn_pois"),
        col("tile_x"), col("tile_y"))))
    Trace.span("enrich pass", "ops") {
      Run.noop(pipeline(spark, from, to).observe(obs, count(lit(1)).as("n"), sample.as("sample")))
    }
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    val id = s"$from-$to#$passes"
    expected(id) = EnrichCheck.entityCount(docIds, from, to, total)
    OpResult(op, n, 0L, id, rows = n, sample = m("sample").asInstanceOf[Seq[Row]])
  }

  def check(spark: SparkSession, op: String, r: OpResult): Option[String] = Trace.span("check pass", "check") {
    val want = expected.remove(r.artifact).getOrElse(-1L)
    if (r.rows != want) Some(s"pass ${r.artifact}: ${r.rows} entities, closed form says $want")
    else r.sample.iterator.map(EnrichCheck.row(_, truth)).collectFirst { case Some(e) => e }
  }
}
