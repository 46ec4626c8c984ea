package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). A
  * suite that stops it leaves the next suite a new one. */
object SparkTest {
  private var current: SparkSession = _

  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = build()
    current
  }

  private def build(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", Scratch.dir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTest {
  lazy val spark: SparkSession = SparkTest.session
  lazy val Sf = "/root/testdata/sf0.001"
}
