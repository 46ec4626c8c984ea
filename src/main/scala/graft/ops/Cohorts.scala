package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Cohort retention — the product-analytics triangle: users are grouped
  * by FIRST-activity day (their cohort), and for every (cohort, day
  * offset) the matrix counts how many of that cohort's users were active
  * again offset days later. Row 0 is the cohort size; retention rate is
  * n_users / cohort size, a division left to the consumer.
  *
  * Scale shape: distinct (user, day) activity — ONE map-side-combinable
  * groupBy over the event stream (the fact exchange); cohorts are a min
  * over that already-collapsed table (a second, users x days-bounded
  * exchange on user_id that the equi-join back then reuses); the final
  * matrix groupBy is bounded by days^2 / 2 keys regardless of event
  * count.
  */
object Cohorts {

  /** @return (cohort_day, day_offset, n_users): BIGINT triangle rows */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val act = TableMemo.parquet(spark, s"$sfDir/events.parquet")
      .select(col("user_id"),
        expr(s"unix_micros(CAST(ts AS TIMESTAMP)) div ${SpaceTime.DayUs}L").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_ev"))
    val cohort = act.groupBy("user_id").agg(min("day").as("cohort_day"))
    act.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** DuckDB replica. */
  def retentionSql(): String =
    s"""WITH act AS (SELECT user_id, epoch_us(ts) // ${SpaceTime.DayUs} AS day
       |     FROM events GROUP BY 1, 2),
       | cohort AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
       | SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
       |   count(*) AS n_users
       | FROM act a JOIN cohort c USING (user_id) GROUP BY 1, 2"""
      .stripMargin.replace("\n", " ")
}
