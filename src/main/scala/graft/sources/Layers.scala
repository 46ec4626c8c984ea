package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.WkbCodec
import graft.TableMemo

/** Deterministic vector layers derived from the read-only TPC-H-ish dim
  * tables: an admin-like polygon layer (diamonds, incl. overlapping dense
  * "urban" polygons over the hot square for skew tests) and a POI point
  * layer for kNN. Centers sit on the half-integer lattice and radii on the
  * quarter-of-a-grid-step lattice so synthetic points (0.05-degree grid)
  * are never within 0.025 degrees of a polygon boundary — float rounding
  * can therefore never flip a containment verdict between JTS (Spark side)
  * and closed-form arithmetic (DuckDB oracle side).
  */
object Layers {

  // ---- polygon layer (from `part`): diamond |x-cx|+|y-cy| <= r ----
  // Urban polygons (10%) are SMALL diamonds scattered on a half-grid-offset
  // lattice inside the 1-degree urban square (lon 20..21, lat 0..1): the
  // covering CELL stays hot (all of them + ~25% of points land in it, the
  // skew case), but each point matches only a handful of polygons — with
  // one shared center the PIP output would explode quadratically.
  // Gap guarantee: point coords are k/20, urban centers (m+0.5)/20-offset,
  // so manhattan distances are multiples of 0.05; r=0.1125 keeps >=0.0125
  // clearance; non-urban centers are at half-integers, r in {.375,.425,.475}
  // keeps >=0.025 clearance.
  def polyIsUrban(p: Column): Column = p % 10 === 0
  private def udiv10(p: Column): Column = (p / 10).cast("long")
  def polyCx(p: Column): Column =
    when(polyIsUrban(p), lit(20.0) + ((udiv10(p) * 7) % 20) / 20.0 + 0.025)
      .otherwise(((p * 131) % 360) - lit(179.5))
  def polyCy(p: Column): Column =
    when(polyIsUrban(p), ((udiv10(p) * 13) % 20) / 20.0 + 0.025)
      .otherwise(((p * 37) % 140) - lit(69.5))
  def polyR(p: Column): Column = when(polyIsUrban(p), 0.1125).otherwise(lit(0.375) + (p % 3) * 0.05)

  val polyIsUrbanSql = "(p_partkey % 10 = 0)"
  val polyCxSql =
    s"(CASE WHEN $polyIsUrbanSql THEN 20.0 + (((p_partkey // 10) * 7) % 20) / 20.0 + 0.025" +
      s" ELSE ((p_partkey * 131) % 360) - 179.5 END)"
  val polyCySql =
    s"(CASE WHEN $polyIsUrbanSql THEN (((p_partkey // 10) * 13) % 20) / 20.0 + 0.025" +
      s" ELSE ((p_partkey * 37) % 140) - 69.5 END)"
  val polyRSql = s"(CASE WHEN $polyIsUrbanSql THEN 0.1125 ELSE 0.375 + (p_partkey % 3) * 0.05 END)"

  /** (poly_id long, cx, cy, r double, geom binary WKB) — the geom column is
    * real JTS-built WKB; downstream spatial ops consume only the WKB. */
  def polygons(spark: SparkSession, sfDir: String): DataFrame = {
    val p = TableMemo.parquet(spark, s"$sfDir/part.parquet")
    val pk = col("p_partkey")
    val mkDiamond = udf((cx: Double, cy: Double, r: Double) =>
      WkbCodec.write(WkbCodec.diamond(cx, cy, r)))
    p.select(pk.as("poly_id"), polyCx(pk).as("cx"), polyCy(pk).as("cy"), polyR(pk).as("r"))
      .withColumn("geom", mkDiamond(col("cx"), col("cy"), col("r")))
  }

  // ---- second polygon layer (from `customer`): diamonds for the overlay
  // join. Centers on the half-integer lattice, radii in {1.6,1.65,1.7}.
  // Center L1 distances to A's non-urban diamonds are EVEN integers only:
  // distance 0 would need p_partkey % 10 = 0 (the urban branch, different
  // lattice) and odd distances are killed by parity: dx+dy ==
  // (131p-97c)+(37p-41c) = 168p-138c is even, and reducing mod 360/140
  // (both even) preserves parity. So the nearest pairs sit at distance 2,
  // radius sums 1.975..2.175 straddle 2: most (rA,rB) combos intersect,
  // the smallest (0.375+1.6) does not — the predicate is genuinely
  // radius-dependent, and no combo equals 2 exactly (tie-free). Distances
  // to A's urban polygons are multiples of 0.05 and radius sums
  // {1.7125,1.7625,1.8125} are never a multiple of 0.05. So two diamonds
  // are never tangent and JTS `intersects` always agrees with the
  // closed-form L1 test |dcx|+|dcy| <= rA+rB (L1 balls are homothetic:
  // their Minkowski sum is the L1 ball of the summed radius). ----
  def polyBCx(c: Column): Column = ((c * 97) % 360) - lit(179.5)
  def polyBCy(c: Column): Column = ((c * 41) % 140) - lit(69.5)
  def polyBR(c: Column): Column = lit(1.6) + (c % 3) * 0.05
  val polyBCxSql = "(((c_custkey * 97) % 360) - 179.5)"
  val polyBCySql = "(((c_custkey * 41) % 140) - 69.5)"
  val polyBRSql = "(1.6 + (c_custkey % 3) * 0.05)"

  /** (polyb_id long, cx, cy, r double, geom binary WKB). */
  def polygonsB(spark: SparkSession, sfDir: String): DataFrame = {
    val c = TableMemo.parquet(spark, s"$sfDir/customer.parquet")
    val ck = col("c_custkey")
    val mkDiamond = udf((cx: Double, cy: Double, r: Double) =>
      WkbCodec.write(WkbCodec.diamond(cx, cy, r)))
    c.select(ck.as("polyb_id"), polyBCx(ck).as("cx"), polyBCy(ck).as("cy"), polyBR(ck).as("r"))
      .withColumn("geom", mkDiamond(col("cx"), col("cy"), col("r")))
  }

  // ---- POI layer (from `supplier`) ----
  def poiX(s: Column): Column = ((s * 211) % 7200) / 20.0 - 180.0
  def poiY(s: Column): Column = ((s * 89) % 2800) / 20.0 - 70.0
  val poiXSql = "(((s_suppkey * 211) % 7200) / 20.0 - 180.0)"
  val poiYSql = "(((s_suppkey * 89) % 2800) / 20.0 - 70.0)"

  /** (poi_id long, px, py double, geom binary WKB point). */
  def pois(spark: SparkSession, sfDir: String): DataFrame = {
    val s = TableMemo.parquet(spark, s"$sfDir/supplier.parquet")
    val sk = col("s_suppkey")
    val mkPoint = udf((x: Double, y: Double) => WkbCodec.write(WkbCodec.point(x, y)))
    s.select(sk.as("poi_id"), poiX(sk).as("px"), poiY(sk).as("py"))
      .withColumn("geom", mkPoint(col("px"), col("py")))
  }
}
