package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Probes shared by the suites: Spark jobs started, file descriptors held
  * open, what a physical plan shuffles, and which kernels it calls where. */
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

  /** Whether `e` calls the kernel method `name`: the `StaticInvoke` the
    * optimizer leaves in place of a [[graft.ops.Kernel]]. */
  def callsKernel(e: Expression, name: String): Boolean =
    e.exists { case s: StaticInvoke => s.functionName == name; case _ => false }

  /** The nodes of `plan` that evaluate the kernel method `name`. A file
    * scan lists the filters above it as its data filters, but only pushes
    * the ones a source can translate and evaluates none, so it is no
    * caller. */
  def kernelCallers(plan: Seq[SparkPlan], name: String): Seq[SparkPlan] = plan.filter {
    case _: FileSourceScanExec => false
    case p => p.expressions.exists(callsKernel(_, name))
  }

  /** Every node of `df`'s final plan, and those of them that run inside a
    * whole-stage-codegen stage. Runs `df` first: adaptive execution plans
    * each stage, and collapses it into codegen, only as it runs it. */
  def codegenSplit(df: DataFrame): (Seq[SparkPlan], Seq[SparkPlan]) = {
    df.queryExecution.toRdd.count()
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    val all = planNodes(df)
    (all, all.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten)
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
