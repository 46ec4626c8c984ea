package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Probes shared by the suites: Spark jobs started, file descriptors held
  * open, and what a physical plan shuffles. */
object Probes {

  /** Every node of `df`'s executed plan. A plain `executedPlan.collect`
    * stops at the `AdaptiveSparkPlanExec` that adaptive execution puts over
    * any plan with an exchange, so it can never see one; this looks inside. */
  def planNodes(df: DataFrame): Seq[SparkPlan] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p }

  /** One entry per shuffle exchange of `df`: the column names a hash
    * partitioning is keyed on, empty for any other partitioning. */
  def shuffleKeys(df: DataFrame): Seq[Seq[String]] = planNodes(df).collect {
    case e: ShuffleExchangeLike => e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
      case _ => Nil
    }
  }

  /** Number of Spark jobs `body` starts on the calling thread (counted by
    * a job group, so jobs of other threads do not count). */
  def jobs(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"probe-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      ListenerDrain(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }

  /** Targets of this process's open file descriptors under `dir`. */
  def openFdsUnder(dir: String): List[String] =
    Using.resource(Files.list(Paths.get("/proc/self/fd")))(_.iterator().asScala
      .flatMap(fd => Try(Files.readSymbolicLink(fd).toString).toOption)
      .filter(_.startsWith(dir)).toList)
}
