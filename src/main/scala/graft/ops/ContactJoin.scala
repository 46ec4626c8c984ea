package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Space-time contact / companion join — the co-movement primitive
  * (contact tracing, travel-companion detection, co-location pattern
  * mining): two users are in CONTACT when they visit the same spatial
  * cell in the same day bucket; companions are pairs with at least
  * `MinShared` distinct shared (cell, day) buckets. Event location is
  * the user's home lattice point (the [[SpaceTime]] derived-column
  * discipline) plus a per-event wander of roughly a cell radius, so
  * near-home users co-occur OFTEN (companions) while far pairs brush
  * past once — the MinShared filter is genuinely binding, as is the
  * crowded-bucket exclusion (both spec-pinned).
  *
  * Crowded buckets are EXCLUDED, not just capped: a (cell, day) shared
  * by more than `MaxBucketUsers` distinct users (the stadium / hub
  * bucket) is no evidence of companionship, and it is exactly the
  * bucket whose self-join fans out quadratically — the same
  * semantics-plus-scale cap as [[Dedup.MaxShingleFreqDefault]],
  * mirrored in the oracle.
  *
  * Scale shape: visits collapse to distinct (user, cell, day) rows
  * under ONE hash exchange on (cx, cy, day) — a subset of the distinct
  * key, so the same partitioning satisfies the distinct, the
  * bucket-size aggregate, AND both sides of the pair self-join
  * (exchange reuse, the [[Sessionize]] discipline); multiplicity
  * (many events, one visit) dies at the partial aggregate. The pair
  * join is a hash equi-join on (cx, cy, day) whose per-bucket fan-out
  * is bounded by MaxBucketUsers²; the final pair count is map-side
  * combinable. Nothing is all-pairs, the driver never sees rows.
  */
object ContactJoin {
  val Grid = 8L
  val MaxBucketUsers = 8L
  val MinShared = 2L

  /** Distinct (user_id, cx, cy, day) visits. Jitter keeps every
    * coordinate on the integer lattice; clamping keeps it in-world. */
  def visits(spark: SparkSession, sfDir: String): DataFrame =
    TableMemo.parquet(spark, s"$sfDir/events.parquet")
      .select(col("user_id"),
        expr(s"greatest(0L, least(7199L, (user_id * 467 + 3) % 7200 + event_id % 1201 - 600))")
          .as("x"),
        expr(s"greatest(0L, least(2799L, (user_id * 911 + 5) % 2800 + event_id % 701 - 350))")
          .as("y"),
        expr(s"unix_micros(CAST(ts AS TIMESTAMP)) div ${SpaceTime.DayUs}L").as("day"))
      .select(col("user_id"),
        expr(s"x * $Grid div 7200").as("cx"),
        expr(s"y * $Grid div 2800").as("cy"),
        col("day"))
      .repartition(col("cx"), col("cy"), col("day"))
      .distinct()

  /** Companion pairs: (user_a, user_b, n_shared) with user_a < user_b
    * and n_shared >= MinShared distinct co-visited buckets, crowded
    * buckets excluded. */
  def companions(spark: SparkSession, sfDir: String): DataFrame = {
    val v = visits(spark, sfDir).localCheckpoint(false)
    val calm = v.groupBy("cx", "cy", "day")
      .agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") <= MaxBucketUsers)
      .select("cx", "cy", "day")
    val vc = v.join(calm, Seq("cx", "cy", "day"))
    val a = vc.select(col("cx"), col("cy"), col("day"), col("user_id").as("user_a"))
    val b = vc.select(col("cx"), col("cy"), col("day"), col("user_id").as("user_b"))
    a.join(b, Seq("cx", "cy", "day"))
      .filter(col("user_a") < col("user_b"))
      .groupBy("user_a", "user_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
  }

  /** DuckDB replica: same jitter/clamp/cell/day math, same crowded-bucket
    * exclusion, same pair count. */
  def companionsSql(): String =
    s"""WITH v AS (SELECT DISTINCT user_id,
       |   greatest(0, least(7199, (user_id * 467 + 3) % 7200 + event_id % 1201 - 600)) * $Grid // 7200 AS cx,
       |   greatest(0, least(2799, (user_id * 911 + 5) % 2800 + event_id % 701 - 350)) * $Grid // 2800 AS cy,
       |   epoch_us(ts) // ${SpaceTime.DayUs} AS day FROM events),
       | calm AS (SELECT cx, cy, day FROM v GROUP BY 1, 2, 3
       |   HAVING count(*) <= $MaxBucketUsers),
       | vc AS (SELECT v.* FROM v JOIN calm USING (cx, cy, day))
       | SELECT a.user_id AS user_a, b.user_id AS user_b,
       |   CAST(count(*) AS BIGINT) AS n_shared
       | FROM vc a JOIN vc b ON a.cx = b.cx AND a.cy = b.cy AND a.day = b.day
       |   AND a.user_id < b.user_id
       | GROUP BY 1, 2 HAVING count(*) >= $MinShared"""
      .stripMargin.replace("\n", " ")
}
