package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Space-time cube trend analysis — the "emerging hot spot" statistic
  * (ArcGIS emerging-hot-spot / Mann-Kendall trend test, Kendall 1975):
  * bucket an event stream into (cell, day) counts, zero-fill each
  * occupied cell's series over the GLOBAL day domain, and compute the
  * exact Mann-Kendall S statistic per cell — S = sum over day pairs
  * i < j of sign(n_j - n_i). S > 0 = intensifying cell, S < 0 =
  * diminishing; the variance normalization (z-score) is a closed-form
  * function of (n_days, tie counts) left to the consumer so the output
  * stays BIGINT/VARCHAR-exact.
  *
  * Event location: the closed-form user home cell (same derived-column
  * discipline as [[LinkGraph.synthEdges]]) — integer-only math
  * `((user_id * 467 + 3) % 7200) * 64 // 7200`, so no float ever enters.
  *
  * Scale shape: ONE map-side-combinable groupBy over the event stream is
  * the only fact-table exchange; everything after (domain scalars,
  * zero-fill explode, day-pair self-join) runs on <= cells x days rows —
  * lattice- and window-bounded regardless of event count. The day-pair
  * join is an equi-join on the cell key with a range predicate inside
  * the bounded group, never a theta join over events. */
object SpaceTime {

  /** Microseconds per day (ts bucketing: integer floor division). */
  val DayUs = 86400000000L

  /** q130 entry: Mann-Kendall S per occupied cell over the events table.
    * Output (cx, cy, n_days, s_stat, trend), BIGINT + VARCHAR. */
  def mannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    // integer `div` end to end — Column./ is double division and would
    // put a float in the op sequence the oracle must mirror exactly
    val ev = TableMemo.parquet(spark, s"$sfDir/events.parquet")
      .select(
        expr("(((user_id * 467 + 3) % 7200) * 64) div 7200").as("cx"),
        expr("(((user_id * 911 + 5) % 2800) * 64) div 2800").as("cy"),
        expr(s"unix_micros(CAST(ts AS TIMESTAMP)) div ${DayUs}L").as("day"))
    val cnt = ev.groupBy("cx", "cy", "day").agg(count(lit(1)).as("n"))
    val dom = ev.agg(min("day").as("d0"), max("day").as("d1"))
    val cells = cnt.select("cx", "cy").distinct()
    // materialize the zero-filled cube ONCE (cells x days rows): both
    // sides of the day-pair self-join read it, and without the cut each
    // side re-executes the whole event scan + groupBy + domain subtree
    // (guide §2.4 applied to repeated subtrees; cube-sized, never
    // event-sized)
    val grid = Scalars.join(cells, dom)
      .select(col("cx"), col("cy"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(cnt, Seq("cx", "cy", "day"), "left").na.fill(0L, Seq("n"))
      .localCheckpoint(false)
    val a = grid.select(col("cx"), col("cy"), col("day").as("di"), col("n").as("ni"))
    val b = grid.select(col("cx"), col("cy"), col("day").as("dj"), col("n").as("nj"))
    val s = a.join(b, Seq("cx", "cy")).filter(col("dj") > col("di"))
      .groupBy("cx", "cy")
      .agg(
        (max("dj") - min("di") + 1).as("n_days"),
        sum(when(col("nj") > col("ni"), 1L)
          .when(col("nj") < col("ni"), -1L).otherwise(0L)).as("s_stat"))
    s.select(col("cx"), col("cy"), col("n_days"), col("s_stat"),
      when(col("s_stat") > 0, "UP").when(col("s_stat") < 0, "DOWN")
        .otherwise("FLAT").as("trend"))
  }

  /** Spatial Markov chain (Rey 2001, PySAL giddy): class-transition
    * counts over the space-time cube, CONDITIONED on the queen-lag class
    * — "does a low cell surrounded by high cells move up more often than
    * one surrounded by low cells?". Each occupied cell's zero-filled
    * daily count is classified Z/L/H (0, 1..2, >=3); its spatial lag
    * (sum of queen-neighbor counts that day) is classified the same way
    * at 3x the thresholds (9 inclusive cells vs 1 — order-of-magnitude
    * parity, exact integers either way); consecutive-day transitions are
    * counted by (lag_cls, c_from, c_to). All counts BIGINT-exact.
    *
    * Scale shape: the [[mannKendall]] discipline — ONE map-side-
    * combinable groupBy over the event stream, then every join
    * (zero-fill explode, queen-neighbor lag, day-successor) runs on
    * <= occupied-cells x days rows. Unoccupied neighbor cells hold zero
    * every day, so restricting the lag join to occupied cells is exact,
    * not an approximation. */
  def spatialMarkov(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = TableMemo.parquet(spark, s"$sfDir/events.parquet")
      .select(
        expr("(((user_id * 467 + 3) % 7200) * 64) div 7200").as("cx"),
        expr("(((user_id * 911 + 5) % 2800) * 64) div 2800").as("cy"),
        expr(s"unix_micros(CAST(ts AS TIMESTAMP)) div ${DayUs}L").as("day"))
    val cnt = ev.groupBy("cx", "cy", "day").agg(count(lit(1)).as("n"))
    val dom = ev.agg(min("day").as("d0"), max("day").as("d1"))
    val cells = cnt.select("cx", "cy").distinct()
    // materialized once: the cube feeds the lag explode, the lag join
    // probe, and the state classification — three full re-executions of
    // the event scan + groupBy without the cut (same rationale as
    // [[mannKendall]]'s grid checkpoint; cube-sized)
    val grid = Scalars.join(cells, dom)
      .select(col("cx"), col("cy"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(cnt, Seq("cx", "cy", "day"), "left").na.fill(0L, Seq("n"))
      .localCheckpoint(false)
    // queen-lag count per (cell, day): address each occupied cell's count
    // at its 8 neighbors, join back to the grid — missing neighbors are
    // exactly the always-zero cells
    val offs = Seq((-1L, -1L), (-1L, 0L), (-1L, 1L), (0L, -1L), (0L, 1L),
      (1L, -1L), (1L, 0L), (1L, 1L))
    val offCol = array(offs.map { case (dx, dy) =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)
    val lag = grid
      .select(col("cx"), col("cy"), col("day"), col("n").as("nn"), explode(offCol).as("o"))
      .select((col("cx") + col("o.dx")).as("cx"), (col("cy") + col("o.dy")).as("cy"),
        col("day"), col("nn"))
      .join(grid.select("cx", "cy", "day"), Seq("cx", "cy", "day"))
      .groupBy("cx", "cy", "day").agg(sum("nn").as("lagn"))
    def cls(c: Column, hi: Long): Column =
      when(c === 0L, "Z").when(c < hi, "L").otherwise("H")
    // st feeds both the from-side and (shifted) the to-side of the
    // transition join — materialize so the lag join runs once, not twice
    val st = grid.join(lag, Seq("cx", "cy", "day"), "left").na.fill(0L, Seq("lagn"))
      .select(col("cx"), col("cy"), col("day"),
        cls(col("n"), 3L).as("c"), cls(col("lagn"), 9L).as("lag_cls"))
      .localCheckpoint(false)
    val nxt = st.select(col("cx"), col("cy"), (col("day") - 1L).as("day"),
      col("c").as("c_to"))
    st.join(nxt, Seq("cx", "cy", "day"))
      .groupBy(col("lag_cls"), col("c").as("c_from"), col("c_to"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** DuckDB replica of [[spatialMarkov]]: same cube, same queen lag, same
    * class cuts and successor join. */
  def spatialMarkovSql(): String =
    s"""WITH ev AS (SELECT
       |     (((user_id * 467 + 3) % 7200) * 64) // 7200 AS cx,
       |     (((user_id * 911 + 5) % 2800) * 64) // 2800 AS cy,
       |     epoch_us(ts) // $DayUs AS day FROM events),
       | cnt AS (SELECT cx, cy, day, count(*) AS n FROM ev GROUP BY 1, 2, 3),
       | dom AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
       | cells AS (SELECT DISTINCT cx, cy FROM cnt),
       | gridd AS (SELECT cx, cy, unnest(range(d0, d1 + 1)) AS day
       |   FROM cells CROSS JOIN dom),
       | grid AS (SELECT g.cx, g.cy, g.day, coalesce(t.n, 0) AS n
       |   FROM gridd g
       |   LEFT JOIN cnt t ON t.cx = g.cx AND t.cy = g.cy AND t.day = g.day),
       | offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1))
       |   AS o(dx, dy)),
       | lag AS (SELECT b.cx, b.cy, b.day, sum(a.n) AS lagn
       |   FROM grid a CROSS JOIN offs o
       |   JOIN grid b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy AND b.day = a.day
       |   GROUP BY 1, 2, 3),
       | st AS (SELECT g.cx, g.cy, g.day,
       |     CASE WHEN g.n = 0 THEN 'Z' WHEN g.n < 3 THEN 'L' ELSE 'H' END AS c,
       |     CASE WHEN coalesce(l.lagn, 0) = 0 THEN 'Z'
       |          WHEN coalesce(l.lagn, 0) < 9 THEN 'L' ELSE 'H' END AS lag_cls
       |   FROM grid g LEFT JOIN lag l
       |     ON l.cx = g.cx AND l.cy = g.cy AND l.day = g.day)
       | SELECT a.lag_cls, a.c AS c_from, b.c AS c_to,
       |   CAST(count(*) AS BIGINT) AS cnt
       | FROM st a JOIN st b ON b.cx = a.cx AND b.cy = a.cy AND b.day = a.day + 1
       | GROUP BY 1, 2, 3"""
      .stripMargin.replace("\n", " ")

  /** DuckDB replica: same integer cell math, same day bucketing, same
    * zero-filled domain and sign pairs. */
  def mannKendallSql(): String =
    s"""WITH ev AS (SELECT
       |     (((user_id * 467 + 3) % 7200) * 64) // 7200 AS cx,
       |     (((user_id * 911 + 5) % 2800) * 64) // 2800 AS cy,
       |     epoch_us(ts) // $DayUs AS day FROM events),
       | cnt AS (SELECT cx, cy, day, count(*) AS n FROM ev GROUP BY 1, 2, 3),
       | dom AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
       | cells AS (SELECT DISTINCT cx, cy FROM cnt),
       | gridd AS (SELECT cx, cy, unnest(range(d0, d1 + 1)) AS day
       |   FROM cells CROSS JOIN dom),
       | grid AS (SELECT g.cx, g.cy, g.day, coalesce(t.n, 0) AS n
       |   FROM gridd g
       |   LEFT JOIN cnt t ON t.cx = g.cx AND t.cy = g.cy AND t.day = g.day),
       | s AS (SELECT a.cx, a.cy,
       |     max(b.day) - min(a.day) + 1 AS n_days,
       |     sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END) AS s_stat
       |   FROM grid a JOIN grid b ON b.cx = a.cx AND b.cy = a.cy AND b.day > a.day
       |   GROUP BY 1, 2)
       | SELECT cx, cy, CAST(n_days AS BIGINT) AS n_days,
       |   CAST(s_stat AS BIGINT) AS s_stat,
       |   CASE WHEN s_stat > 0 THEN 'UP' WHEN s_stat < 0 THEN 'DOWN'
       |        ELSE 'FLAT' END AS trend
       | FROM s"""
      .stripMargin.replace("\n", " ")
}
