package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Side-effect probes shared by the suites: Spark jobs started and file
  * descriptors held open. */
object Probes {

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
