package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** Input sizes, chosen so that an 8 s window holds several operations of
  * each kind and a whole run fits in about a minute on 4 cores. */
object Sizes {
  /** set-up rounds per run; their median is `setup_s` */
  val setupRounds = 2
  val geojsonFeatures = 6000
  val shapefileFeatures = 6000
  val pbfNodes = 160000
  val pbfWays = 20000
  val dirFiles = 8
  val dirFeaturesPerFile = 3000
  /** replications of the documents table per enrich pass (x 5000 docs x
    * 2 entities per doc at sf0.1 = 240k entities) */
  val enrichReps = 24
  /** replications per pass in the layer suite's prefix chain */
  val suiteReps = 12
}

final case class OpResult(op: String, items: Long, bytes: Long, artifact: String,
                          rows: Long = 0L, hash: Long = 0L, sample: Seq[Row] = Nil)

final case class Sample(op: String, seconds: Double, items: Long, bytes: Long, traced: Boolean)

trait Workload {
  /** Seeded input generation; excluded from set-up time. */
  def prepare(): Unit
  /** Operations, cycled in [[order]] during the timed window. */
  def ops: Seq[String]
  def order: Seq[String] = ops
  /** One set-up round in a fresh session: broadcast builds plus the first
    * (cold) execution of every operation. */
  def setupRound(spark: SparkSession): Unit
  def run(spark: SparkSession, op: String): OpResult
  /** First problem with an operation's output, if any. */
  def check(spark: SparkSession, op: String, r: OpResult): Option[String]
  def afterWindow(spark: SparkSession): Unit = ()
  /** Workload-specific figures for the detail record (names as in the
    * README), from the untraced window samples. */
  def headline(samples: Seq[Sample]): Map[String, Double] = Map.empty
}

final class Ctx(val workload: String, val seed: Long, val seconds: Double, val trace: Boolean,
                val work: String, val tables: String, val qtables: String, val nproc: Int) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Run one operation, timed, then check its output (outside the timing).
    * A throw or a failed check counts as a failed operation. */
  def record(w: Workload, spark: SparkSession, op: String): (Option[OpResult], Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Some(w.run(spark, op)) catch {
      case e: Throwable => fail(s"$op threw ${e.toString.take(300)}"); None
    }
    val s = Run.secondsSince(t0)
    res.foreach { r =>
      val err = try w.check(spark, op, r) catch { case e: Throwable => Some(s"check threw ${e.toString.take(300)}") }
      err.foreach(e => fail(s"$op: $e"))
    }
    (res, s)
  }
}

/** Benchmark entry point, one workload per JVM:
  * {{{
  * perfbench.Main --workload ingest|enrich|query-mix --seed N --seconds S
  *   --trace 0|1 --work DIR --tables DIR --qtables DIR --launch-ms EPOCH_MS
  *   --out FILE
  * }}}
  * `--launch-ms` is the wall-clock time the JVM was launched, so set-up
  * time includes JVM start. `--tables` holds the sf0.1 star schema (enrich,
  * index and ops layers), `--qtables` the query-mix tables. The result (metrics, counters, box facts) is
  * written as one JSON object to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      opt("work"), opt("tables"), opt("qtables"), Runtime.getRuntime.availableProcessors())
    val launchMs = opt("launch-ms").toLong
    val loadStart = loadavg()
    val w: Workload = ctx.workload match {
      case "ingest" => new Ingest(ctx)
      case "enrich" => new Enrich(ctx)
      case "query-mix" => new QueryMix(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    Trace.enabled = ctx.trace
    Trace.runId = s"${ctx.workload}-seed${ctx.seed}"

    val (_, prepS) = Run.timed(w.prepare())

    // set-up rounds: round 1 counts from JVM launch, later rounds from a
    // fresh session in the same JVM
    var spark: SparkSession = null
    var listener: EngineListener = null
    val setupS = (1 to Sizes.setupRounds).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) Run.stop(spark)
      spark = Trace.span("session start", "session") { Run.session(ctx.nproc, ctx.work) }
      listener = Engine.attach(spark.sparkContext)
      Trace.listener = Some(listener); Trace.sc = Some(spark.sparkContext)
      w.setupRound(spark)
      if (k == 1) (System.currentTimeMillis() - launchMs) / 1e3 - prepS else Run.secondsSince(t0)
    }

    // timed window; a traced run traces only its second half, so the two
    // halves give the tracing overhead
    val samples = mutable.ArrayBuffer.empty[Sample]
    val order = w.order
    Trace.enabled = false
    Engine.drain(spark.sparkContext)
    listener.resetBlockPeak()
    HeapWatch.arm()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tracedFromNs = Long.MaxValue
    // whole cycles only: every operation runs equally often in a window;
    // a traced run goes on until it has traced at least one cycle
    val cycle = w.ops.size
    var i = 0
    while (Run.secondsSince(t0) < ctx.seconds || i % cycle != 0 || (ctx.trace && !Trace.enabled)) {
      if (ctx.trace && !Trace.enabled && Run.secondsSince(t0) >= ctx.seconds / 2 && i % cycle == 0) {
        Trace.enabled = true; tracedFromNs = System.nanoTime()
      }
      val op = order(i % order.size)
      val (r, s) = ctx.record(w, spark, op)
      r.foreach(x => samples += Sample(op, s, x.items, x.bytes, Trace.enabled))
      i += 1
    }
    val windowEndNs = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val heapMb = HeapWatch.disarm()
    Engine.drain(spark.sparkContext)
    val engine = listener.summary(w0, w1, ctx.nproc)
    w.afterWindow(spark)

    val perLayer: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else {
        val suite = Suite.run(ctx, w, spark, samples.toSeq)
        spark = suite.spark // the suite may end on another session
        val tracedSpans = Trace.all.filter(s => s.startNs >= tracedFromNs && s.endNs <= windowEndNs)
        val topNs = tracedSpans.filter(s => !tracedSpans.exists(_.id == s.parent)).map(s => s.endNs - s.startNs).sum
        val self = Trace.selfTimes(Trace.all)
        val tracing = Map(
          "trace.uncovered_s" -> ((windowEndNs - tracedFromNs) - topNs) / 1e9,
          "trace.overhead_share" -> overhead(samples.toSeq)) ++
          Suite.LayerNames.map(l => s"trace.self_s.$l" -> self.getOrElse(l, 0.0))
        writeTrace(ctx, self)
        suite.metrics ++ engine ++ tracing + ("driver_heap_peak_mb" -> heapMb)
      }

    val untraced = samples.filterNot(_.traced).toSeq
    val opS = untraced.map(_.seconds)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "op_s_p50" -> Stats.median(opS),
      "items_per_s" -> untraced.map(_.items).sum / opS.sum,
      "op_ok_share" -> (ctx.attempted - ctx.failed).toDouble / ctx.attempted)
    val detail = Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures.toSeq,
      "end_to_end" -> e2e, "per_layer" -> perLayer,
      "headline" -> (w.headline(untraced) ++ Map("op_s_p90" -> Stats.quantile(opS, 0.9),
        "driver_heap_peak_mb" -> heapMb,
        "op_fail_share" -> ctx.failed.toDouble / ctx.attempted)),
      "samples" -> Map("setup_rounds" -> setupS.size, "ops" -> opS.size,
        "ops_traced" -> samples.count(_.traced), "ops_by_name" -> untraced.groupBy(_.op).view.mapValues(_.size).toMap),
      "setup_rounds_s" -> setupS, "prepare_s" -> prepS,
      "window_s" -> (windowEndNs - t0) / 1e9,
      "op_seconds" -> untraced.map(x => Seq(x.op, x.seconds)),
      "op_p50_by_name" -> untraced.groupBy(_.op).view.mapValues(ss => Stats.median(ss.map(_.seconds))).toMap,
      "window_engine" -> engine,
      "facts" -> Map("nproc" -> ctx.nproc, "loadavg_1m_start" -> loadStart, "loadavg_1m_end" -> loadavg(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6, "jdk" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION))
    Files.writeString(Paths.get(opt("out")), Json(detail))
    Run.stop(spark)
  }

  /** Mean over operation names of (traced median / untraced median - 1). */
  private def overhead(samples: Seq[Sample]): Double = {
    val byOp = samples.groupBy(_.op).values.flatMap { ss =>
      val (t, u) = ss.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds)) - 1.0)
    }
    if (byOp.isEmpty) 0.0 else byOp.sum / byOp.size
  }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Span file plus the per-layer self-time table. */
  private def writeTrace(ctx: Ctx, self: Map[String, Double]): Unit = {
    val spans = Trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> s.run,
      "jobs" -> s.jobs, "task_ms" -> s.taskMs))
    val f = new File(ctx.work, "trace.json")
    Files.writeString(f.toPath, Json(Map("run" -> Trace.runId, "self_s" -> self, "spans" -> spans)))
  }
}
