package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Spans recorded at the benchmark's own call sites into each layer. Off
  * by default; when off, [[span]] only evaluates its body. Spans live in
  * memory and are written out once, when the run ends. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        startNs: Long, endNs: Long, run: String, jobs: Int, taskMs: Long)

  @volatile var enabled = false
  var runId = ""
  var listener: Option[EngineListener] = None
  var sc: Option[org.apache.spark.SparkContext] = None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.foreach(Engine.drain)
        val (jobs, taskMs) = listener.map(l => (l.jobsSince(wall0), l.taskRunMsSince(wall0))).getOrElse((0, 0L))
        spans += Span(id, parent, name, layer, t0, t1, runId, jobs, taskMs)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Per-layer self time: each span's duration minus the time its direct
    * children cover (children run inside the parent, one after another). */
  def selfTimes(within: Seq[Span]): Map[String, Double] = {
    val childNs = within.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    within.groupBy(_.layer).view.mapValues { ss =>
      ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }.toMap
  }
}

/** Shared helpers for the workloads. */
object Run {
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Run `df` into the noop sink while observing its row count and an
    * order-independent content hash (sum of a 32-bit row hash over the
    * columns in name order). Returns (rows, hash). */
  def noopCounted(df: DataFrame): (Long, Long) = {
    val obs = Observation()
    val cols = df.columns.sorted.map(col)
    val h: Column = if (cols.isEmpty) lit(0L) else hash(cols.toIndexedSeq: _*).cast("long")
    df.observe(obs, count(lit(1)).as("rows"), coalesce(sum(h), lit(0L)).as("hash"))
      .write.mode("overwrite").format("noop").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  def dirBytes(f: java.io.File, keep: java.io.File => Boolean): (Long, Int) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .map(dirBytes(_, keep)).foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (keep(f)) (f.length(), 1) else (0L, 0)
}
