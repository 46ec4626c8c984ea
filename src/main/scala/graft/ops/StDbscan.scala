package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** ST-DBSCAN (Birant & Kut 2007) — spatio-temporal density clustering of
  * the event stream: neighbors must be close in BOTH space (L2 <= eps1)
  * and time (|dt| <= eps2 days), so a place that is busy in January and
  * again in March forms TWO clusters where plain DBSCAN would merge them
  * — the event-burst / festival-detection operator.
  *
  * Event location is the closed-form user home point (the
  * [[SpaceTime]] derived-column discipline, un-bucketed: integer lattice
  * x = (user_id*467+3) % 7200, y = (user_id*911+5) % 2800), day is the
  * integer epoch-day — no float enters any op sequence.
  *
  * Scale shape = [[PointPattern.dbscan]] lifted to 3D: events collapse to
  * distinct (x, y, day) coords with multiplicity (ONE map-side-combinable
  * fact exchange); candidate pairs come from a half-neighborhood block-grid
  * equi-join (block = (eps1, eps1, eps2); self block + the 13 positive
  * offsets, complete by the block bound, each unordered pair exactly once,
  * mirrored back to the directed form after the join); the core test is a
  * groupBy-sum of
  * neighbor multiplicities; core-core edges feed the large/small-star CC;
  * borders take the MIN core-neighbor label. Output is per distinct
  * spatio-temporal coord — all BIGINT, hash-checkable.
  */
object StDbscan {

  /** Spatial radius (lattice units = 10 degrees at 1/20-deg units). */
  val Eps1 = 200L

  /** Temporal radius (days). */
  val Eps2 = 2L

  /** Core threshold (events in the st-neighborhood, self included). */
  val MinPts = 8L

  /** Injective (x, y, day) key: y < 10000, day < 1000000. */
  val KeyMul = 10000L
  val DayMul = 1000000L

  private[graft] def evCoords(spark: SparkSession, sfDir: String): DataFrame =
    TableMemo.parquet(spark, s"$sfDir/events.parquet").select(
      expr("(user_id * 467 + 3) % 7200").as("x"),
      expr("(user_id * 911 + 5) % 2800").as("y"),
      expr(s"unix_micros(CAST(ts AS TIMESTAMP)) div ${SpaceTime.DayUs}L").as("day"))

  /** @return (x, y, day, m, cluster): every distinct spatio-temporal
    *         coord with its event multiplicity and cluster label (the
    *         component's minimum coord key; -1 = noise). */
  def cluster(spark: SparkSession, sfDir: String,
              eps1: Long = Eps1, eps2: Long = Eps2, minPts: Long = MinPts): DataFrame =
    clusterCoords(evCoords(spark, sfDir), eps1, eps2, minPts)

  /** Same, over explicit (x, y, day) rows — the testable core. */
  def clusterCoords(ev: DataFrame, eps1: Long = Eps1, eps2: Long = Eps2,
                    minPts: Long = MinPts): DataFrame = {
    require(eps1 >= 1 && eps2 >= 1, s"eps must be >= 1: $eps1/$eps2")
    // materialized once (r6): cs feeds the join's left side, its right
    // side, and the final label attach — three executions of the event
    // scan + groupBy without the cut. Distinct-coord sized.
    val cs = ev.groupBy("x", "y", "day").agg(count(lit(1)).as("m"))
      .localCheckpoint(false)
    // half-neighborhood: of the 27 block offsets, only the self block plus
    // the 13 lexicographically-positive ones are probed — each unordered
    // pair of blocks meets exactly once (for a negative delta the reversed
    // pair carries the positive one), and the self block keeps ka <= kc.
    // The directed pair table is then rebuilt by mirroring, so the exploded
    // candidate stream entering the exchange is 14/27 of the full form
    // while prs stays row-identical (profiled: join 2.3 s -> 1.6 s at
    // sf0.1; at scale the candidate shuffle halves).
    val offsHalf = (for { dx <- -1 to 1; dy <- -1 to 1; dt <- -1 to 1
        if dt > 0 || (dt == 0 && (dy > 0 || (dy == 0 && dx > 0))) }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"), lit(dt.toLong).as("dt")))
    val selfOff = struct(lit(0L).as("dx"), lit(0L).as("dy"), lit(0L).as("dt"))
    val left = cs
      .select(col("x").as("ax"), col("y").as("ay"), col("day").as("ad"), col("m").as("ma"),
        explode(array(selfOff +: offsHalf: _*)).as("o"),
        expr(s"x div ${eps1}L").as("bx0"), expr(s"y div ${eps1}L").as("by0"),
        expr(s"day div ${eps2}L").as("bt0"))
      .select(col("ax"), col("ay"), col("ad"), col("ma"),
        (col("bx0") + col("o.dx")).as("bx"), (col("by0") + col("o.dy")).as("by"),
        (col("bt0") + col("o.dt")).as("bt"),
        (col("o.dx") === 0L && col("o.dy") === 0L && col("o.dt") === 0L).as("self"))
    val right = cs.select(col("x").as("cx"), col("y").as("cy"), col("day").as("cd"),
      col("m").as("mc"),
      expr(s"x div ${eps1}L").as("bx"), expr(s"y div ${eps1}L").as("by"),
      expr(s"day div ${eps2}L").as("bt"))
    val d2 = (col("ax") - col("cx")) * (col("ax") - col("cx")) +
      (col("ay") - col("cy")) * (col("ay") - col("cy"))
    val kA = (col("ax") * KeyMul + col("ay")) * DayMul + col("ad")
    val kC = (col("cx") * KeyMul + col("cy")) * DayMul + col("cd")
    val undirected = left.join(right, Seq("bx", "by", "bt"))
      .filter(d2 <= lit(eps1 * eps1) && abs(col("ad") - col("cd")) <= eps2)
      .filter(!col("self") || kA <= kC)
      .select(kA.as("ka"), kC.as("kc"), col("ma"), col("mc"))
    val prs = undirected
      .unionAll(undirected.filter(col("ka") =!= col("kc"))
        .select(col("kc").as("ka"), col("ka").as("kc"),
          col("mc").as("ma"), col("ma").as("mc")))
      .localCheckpoint(false) // reused by core test, core edges, and borders
    val core = prs.groupBy("ka").agg(sum("mc").as("nm"))
      .filter(col("nm") >= minPts).select(col("ka").as("k"))
      .localCheckpoint(false)
    val coreEdges = prs
      .join(core.withColumnRenamed("k", "ka"), Seq("ka"), "left_semi")
      .join(core.withColumnRenamed("k", "kc"), Seq("kc"), "left_semi")
      .filter(col("ka") < col("kc"))
      .select(col("ka").as("doc_a"), col("kc").as("doc_b"))
    // core-core edges are dense (every eps-close core pair), so the edge
    // count sits well above the node count while the byte size stays tiny:
    // 4M edges = 64 MB on the driver, cheaper than the ~5 star-contraction
    // shuffle rounds the distributed path would spend shrinking it. Past
    // the threshold the large/small-star path engages unchanged.
    val comp = Dedup.components(coreEdges, localThreshold = 4000000L)
      .select(col("doc_id").as("k"), col("component"))
    val coreLbl = core.join(comp, Seq("k"), "left")
      .select(col("k"), coalesce(col("component"), col("k")).as("lbl"))
      .localCheckpoint(false)
    val border = prs
      .join(core.withColumnRenamed("k", "ka"), Seq("ka"), "left_anti")
      .join(coreLbl.withColumnRenamed("k", "kc"), Seq("kc"))
      .groupBy("ka").agg(min("lbl").as("lbl"))
      .select(col("ka").as("k"), col("lbl"))
    val labels = coreLbl.unionAll(border)
    cs.withColumn("k", (col("x") * KeyMul + col("y")) * DayMul + col("day"))
      .join(labels, Seq("k"), "left")
      .select(col("x"), col("y"), col("day"), col("m"),
        coalesce(col("lbl"), lit(-1L)).as("cluster"))
  }

  /** DuckDB replica: same blocks become a direct theta join (oracle
    * scale), same core/edge/border rules, recursive-CTE connectivity. */
  def clusterSql(eps1: Long = Eps1, eps2: Long = Eps2, minPts: Long = MinPts): String =
    s"""WITH RECURSIVE ev AS (SELECT
       |     (user_id * 467 + 3) % 7200 AS x,
       |     (user_id * 911 + 5) % 2800 AS y,
       |     epoch_us(ts) // ${SpaceTime.DayUs} AS day FROM events),
       | cs AS (SELECT x, y, day, count(*) AS m FROM ev GROUP BY 1, 2, 3),
       | prs AS (SELECT (a.x * $KeyMul + a.y) * $DayMul + a.day AS ka,
       |     (b.x * $KeyMul + b.y) * $DayMul + b.day AS kc, a.m AS ma, b.m AS mc
       |   FROM cs a JOIN cs b
       |   ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= ${eps1 * eps1}
       |     AND abs(a.day - b.day) <= $eps2),
       | core AS (SELECT ka AS k FROM prs GROUP BY ka HAVING sum(mc) >= $minPts),
       | cedges AS (SELECT p.ka AS u, p.kc AS v FROM prs p
       |   JOIN core a ON a.k = p.ka JOIN core c ON c.k = p.kc WHERE p.ka <> p.kc),
       | creach AS (SELECT u, v FROM cedges
       |   UNION SELECT r.u, e.v FROM creach r JOIN cedges e ON r.v = e.u),
       | ccomp AS (SELECT u AS k, least(u, min(v)) AS lbl FROM creach GROUP BY u),
       | corelbl AS (SELECT c.k, coalesce(cc.lbl, c.k) AS lbl
       |   FROM core c LEFT JOIN ccomp cc USING (k)),
       | border AS (SELECT p.ka AS k, min(l.lbl) AS lbl FROM prs p
       |   JOIN corelbl l ON l.k = p.kc
       |   WHERE p.ka NOT IN (SELECT k FROM core) GROUP BY p.ka),
       | labels AS (SELECT * FROM corelbl UNION ALL SELECT * FROM border)
       | SELECT c.x, c.y, c.day, c.m,
       |   CAST(coalesce(l.lbl, -1) AS BIGINT) AS cluster
       | FROM cs c LEFT JOIN labels l
       |   ON l.k = (c.x * $KeyMul + c.y) * $DayMul + c.day"""
      .stripMargin.replace("\n", " ")
}
