package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Query-mix workload: short analytic queries from the driver contract,
  * run warm into the noop sink in an order the seed shuffles. Every
  * execution's row count and content hash must equal the query's first
  * (cold) execution, and that first result is compared with the query's
  * oracle SQL in DuckDB once per run, after the JVM exits. */
final class QueryMix(ctx: Ctx) extends Workload {
  val ops: Seq[String] = QueryMix.queries
  private var round = 0
  private def dir = s"${ctx.qtables}/r$round"
  def lastDir: String = dir
  /** (rows, hash) of each query's first execution */
  val reference = scala.collection.mutable.Map.empty[String, (Long, Long)]
  /** first execution of each query in this JVM, seconds */
  val firstS = scala.collection.mutable.Map.empty[String, Double]

  /** One table directory per setup round (hard links to the generated
    * tables), so the program's per-directory memos start cold each round. */
  def prepare(): Unit = (1 to Sizes.setupRounds).foreach { k =>
    val d = new File(s"${ctx.qtables}/r$k"); d.mkdirs()
    new File(ctx.qtables).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val link = new File(d, f.getName)
      if (!link.exists()) Files.createLink(link.toPath, f.toPath)
    }
  }

  /** Round 1 runs each query into parquet instead of the noop sink: that
    * output goes to the DuckDB oracle comparison after the run, and its
    * read-back, in [[check]] and so outside the timing, gives the
    * (rows, hash) every later execution must equal. */
  def setupRound(spark: SparkSession): Unit = {
    round += 1
    ops.foreach { q =>
      val (_, s) = ctx.record(this, spark, q)
      firstS.getOrElseUpdate(q, s)
    }
  }

  private def out = new File(ctx.work, "qout")

  override def headline(samples: Seq[Sample]): Map[String, Double] = {
    val s = samples.map(_.seconds)
    Map("query_s_p50" -> Stats.median(s), "query_s_p90" -> Stats.quantile(s, 0.9))
  }

  override def order: Seq[String] = {
    val r = new scala.util.Random(ctx.seed)
    Iterator.continually(r.shuffle(ops)).take(1000).flatten.toSeq
  }

  def run(spark: SparkSession, q: String): OpResult =
    if (round == 1 && !firstS.contains(q)) {
      Trace.span(q, "query") { SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$out/$q") }
      OpResult(q, 1L, 0L, s"$out/$q")
    } else {
      val (rows, hash) = Trace.span(q, "query") { Run.noopCounted(SparkEntry.queries(q)(spark, dir)) }
      OpResult(q, 1L, 0L, q, rows = rows, hash = hash)
    }

  def check(spark: SparkSession, q: String, r: OpResult): Option[String] = {
    val got =
      if (r.artifact == q) (r.rows, r.hash)
      else Trace.span(s"read back $q", "check") { Run.noopCounted(spark.read.parquet(r.artifact)) }
    val want = reference.getOrElseUpdate(q, got)
    if (got != want) Some(s"$q: rows/hash $got differ from first execution $want")
    else None
  }

  /** The oracle SQL of each query, for the DuckDB comparison. */
  override def afterWindow(spark: SparkSession): Unit = {
    val sql = ops.map(q => q -> SparkEntry.oracleSql(q)).toMap
    Files.writeString(new File(out, "oracle_sql.json").toPath, Json(sql))
  }
}

object QueryMix {
  val queries: Seq[String] = Seq("q13_pip_join", "q14_pip_join_salted", "q18_osm_ways",
    "q55_overlay_join", "q57_pruned_bbox", "q72_pyramid_count", "q86_pagerank", "q118_local_moran")
}
