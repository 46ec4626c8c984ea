package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.TableMemo
import graft.ops.Kernel

/** Deterministic OSM-style element tables (FIXTURES.md §4): nodes and ways
  * with the decoded shape of the reference's PBF scan output
  * (`/root/reference/src/format/osmpbf.rs:19-51` nodes,
  * `:90-114` ways). Derived from the read-only `customer`/`orders` parquet
  * via integer arithmetic so the DuckDB oracle can rebuild them:
  *
  *  - nodes: node_id = c_custkey, point on the 0.05-degree grid, tags
  *    ["name=<c_name>"] (the reference's "k=v" tag projection, P5).
  *  - ways: way_id = o_orderkey; 4 + way_id%5 refs;
  *    ref_i = 1 + (way_id*31 + i*17) % (ncust + ncust/5) — the +ncust/5
  *    headroom makes ~1/6 of refs dangle (missing nodes are silently
  *    dropped by the reference = inner-join semantics);
  *    ways with way_id % 3 == 0 get last ref := first ref (closed).
  */
object OsmElements {

  def nodes(spark: SparkSession, sfDir: String): DataFrame = {
    val c = TableMemo.parquet(spark, s"$sfDir/customer.parquet")
    c.select(
      col("c_custkey").as("node_id"),
      (((col("c_custkey") * 61) % 7200) / 20.0 - 180.0).as("lon"),
      (((col("c_custkey") * 113) % 2800) / 20.0 - 70.0).as("lat"),
      array(concat(lit("name="), col("c_name"))).as("tags"))
  }

  def ways(spark: SparkSession, sfDir: String): DataFrame = {
    val o = TableMemo.parquet(spark, s"$sfDir/orders.parquet")
    // the customer count drives the ref modulus: counted once per version
    // of the customer table, so repeated ways() calls run no count job
    val c = TableMemo.parquet(spark, s"$sfDir/customer.parquet")
    val ncust = TableMemo.derived(spark, "rowCount", c)(TableMemo.Held(c.count(), 0L, () => ()))
    val w = col("o_orderkey")
    val refs = Kernel.column("way_refs", this, "wayRefs", ArrayType(LongType, containsNull = false))(
      w -> LongType, lit(ncust + ncust / 5) -> LongType)
    o.select(w.as("way_id"), refs.as("refs"),
      array(concat(lit("order="), col("o_orderstatus"))).as("tags"))
  }

  /** The refs of way `wayId` for the ref modulus `m` (the rule above): one
    * kernel call, where a `transform` lambda would take the operator that
    * builds the refs, and the way assembly fused with it, out of
    * whole-stage codegen. */
  def wayRefs(wayId: Long, m: Long): ArrayData = {
    val refs = Array.tabulate((4 + wayId % 5).toInt)(i => 1 + (wayId * 31 + i * 17) % m)
    if (wayId % 3 == 0) refs(refs.length - 1) = refs(0)
    UnsafeArrayData.fromPrimitiveArray(refs)
  }

  // ---- DuckDB oracle fragments ----
  val nodesSql =
    "(SELECT c_custkey AS node_id, ((c_custkey * 61) % 7200) / 20.0 - 180.0 AS lon, " +
      "((c_custkey * 113) % 2800) / 20.0 - 70.0 AS lat FROM customer)"

  /** refs exploded with ordinality: (way_id, i 0-based, ref). */
  val wayRefsSql = {
    val m = "((SELECT count(*) FROM customer) + (SELECT count(*) FROM customer) // 5)"
    s"""(SELECT way_id, i,
       |   CASE WHEN way_id % 3 = 0 AND i = 3 + way_id % 5
       |        THEN 1 + (way_id * 31) % $m
       |        ELSE 1 + (way_id * 31 + i * 17) % $m END AS ref
       | FROM (SELECT o_orderkey AS way_id, unnest(range(4 + o_orderkey % 5)) AS i FROM orders) t)"""
      .stripMargin.replace("\n", " ")
  }
}
