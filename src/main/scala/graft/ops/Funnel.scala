package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Funnel analysis — the product-analytics sequence statistic ("of the
  * users who viewed, how many later clicked, and then purchased?"),
  * ClickHouse's windowFunnel with an unbounded span: a user reaches
  * depth d if events s_1 < ... < s_d exist in order (ties on timestamp
  * break by event_id, so the result is exactly reproducible).
  *
  * One-pass plan: within each user's (ts, event_id)-ordered stream,
  * chained conditional running minima — v1 = earliest view so far,
  * c2 = earliest click seen after a view, p3 = earliest purchase seen
  * after such a click; each is one CASE inside the SAME ROWS-frame
  * window spec, so the three stacked Window operators share one
  * partitioning and Catalyst inserts a single exchange.
  *
  * Scale shape: ONE hash exchange on user_id serves the window chain AND
  * the final per-user max (the [[Sessionize]] partitioning-reuse
  * discipline); per-user work is linear in the user's events. Output is
  * per user, bounded by the user domain.
  */
object Funnel {

  /** The three funnel steps, in order. */
  val Steps = Seq("view", "click", "purchase")

  /** @return (user_id, depth): deepest funnel stage reached, 0..3 */
  def depth(spark: SparkSession, sfDir: String): DataFrame =
    depthOf(TableMemo.parquet(spark, s"$sfDir/events.parquet")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"), col("event_type")))

  /** Same, over explicit (user_id, event_id, us, event_type) rows. */
  def depthOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v1 = min(when(col("event_type") === Steps(0), col("us"))).over(w)
    val rows = ev.withColumn("v1", v1)
    val c2 = min(when(col("event_type") === Steps(1) && col("v1").isNotNull,
      col("us"))).over(w)
    val rows2 = rows.withColumn("c2", c2)
    val p3 = min(when(col("event_type") === Steps(2) && col("c2").isNotNull,
      col("us"))).over(w)
    rows2.withColumn("p3", p3)
      .groupBy("user_id")
      .agg(max(when(col("p3").isNotNull, 3L)
        .when(col("c2").isNotNull, 2L)
        .when(col("v1").isNotNull, 1L)
        .otherwise(0L)).as("depth"))
  }

  /** DuckDB replica: identical window chain and tie order. */
  def depthSql(): String =
    s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
       |     FROM events),
       | s1 AS (SELECT *, min(CASE WHEN event_type = '${Steps(0)}' THEN us END)
       |     OVER w AS v1 FROM ev
       |   WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
       |     ROWS UNBOUNDED PRECEDING)),
       | s2 AS (SELECT *, min(CASE WHEN event_type = '${Steps(1)}'
       |       AND v1 IS NOT NULL THEN us END) OVER w AS c2 FROM s1
       |   WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
       |     ROWS UNBOUNDED PRECEDING)),
       | s3 AS (SELECT *, min(CASE WHEN event_type = '${Steps(2)}'
       |       AND c2 IS NOT NULL THEN us END) OVER w AS p3 FROM s2
       |   WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
       |     ROWS UNBOUNDED PRECEDING))
       | SELECT user_id, CAST(max(CASE WHEN p3 IS NOT NULL THEN 3
       |     WHEN c2 IS NOT NULL THEN 2 WHEN v1 IS NOT NULL THEN 1
       |     ELSE 0 END) AS BIGINT) AS depth
       | FROM s3 GROUP BY 1"""
      .stripMargin.replace("\n", " ")
}
