package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Extra (non-contract) benchmark main for optimization work — guide §1.4:
  * per-query noop-sink isolation with repeat samples (cold vs warm), plus a
  * listener that attributes jobs/stages/tasks and task time to each query.
  * Never used by the driver; `Bench` stays the frozen contract surface.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR       data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS         local[N] (default 32)
  *   SPARK_GRAFT_EXTRA_FILTER comma list of query names (default: all)
  *   SPARK_GRAFT_EXTRA_REPS   samples per query (default 3)
  *   SPARK_GRAFT_EXTRA_PLANS  if set, write .explain("formatted") to this dir
  */
object BenchExtra {

  final class Counts {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L }
    override def toString: String =
      s"jobs=$jobs stages=$stages tasks=$tasks taskTimeMs=$taskTimeMs"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "3").toInt
    val plansDir = sys.env.get("SPARK_GRAFT_EXTRA_PLANS")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", Scratch.dir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))

    val counts = new Counts
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = counts.jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        counts.stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        counts.tasks += 1
        if (t.taskMetrics != null) counts.taskTimeMs += t.taskMetrics.executorRunTime
      }
    })

    def force(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val filter = sys.env.get("SPARK_GRAFT_EXTRA_FILTER")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.contains(n)) }

    // session warmup (same discipline as Bench)
    try force(TableMemo.parquet(spark, s"$sfDir/lineitem.parquet")
      .limit(1000).groupBy("l_returnflag").count())
    catch { case _: Throwable => () }

    selected.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      val samples = (1 to reps).map { _ =>
        counts.reset()
        val t0 = System.nanoTime()
        val ok = try { force(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[extra] $name FAILED: ${e.getMessage}"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        (if (ok) sec else -1.0, counts.toString)
      }
      val secs = samples.map(_._1).map(s => f"$s%.2f").mkString(",")
      println(f"[extra] $name%-28s samples=[$secs] last(${samples.last._2})")
      plansDir.foreach { d =>
        try {
          val p = java.nio.file.Paths.get(d)
          java.nio.file.Files.createDirectories(p)
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(p.resolve(s"$name.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[extra] plan dump $name failed: $e") }
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
