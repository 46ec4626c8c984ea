package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** HyperANF (Boldi, Rosa & Vigna, WWW 2011) — the neighborhood-function
  * sketch: after r rounds each node holds an HLL register vector of the
  * set of nodes reachable within r hops, so |ball(v, r)| is estimable
  * for EVERY node at once without ever materializing a reach set (the
  * exact sets are Σ|ball| = quadratic on a web graph; the sketch is
  * O(m) registers total). This is the standard way effective diameter /
  * "degrees of separation" is measured on real web crawls.
  *
  * Determinism: the per-node hash is closed-form integer arithmetic
  * (two multiply-mod-2^32 mixing rounds — no engine hash function, so
  * the DuckDB replica reproduces it bit-for-bit), the register value is
  * a CASE ladder over trailing zeros (capped at [[RhoMax]]), and the
  * round update is max-merge — all BIGINT, hash-checkable. The widest
  * intermediate is doc_id · 2654435761 < 2^63 for doc_id < 2^31 — far
  * past the synthetic id range — so ANSI overflow never trips.
  *
  * Scale shape per round: one equi-join of the sparse register table
  * (node, reg, val) against the edge list (state.node = e.dst, emitting
  * e.src) + one map-side-combinable groupBy-max merge; state is bounded
  * by 64 registers per node REGARDLESS of reach size — that bound is
  * the whole algorithm. Lineage is cut per round ([[Dedup.components]]
  * discipline). Nothing driver-side. */
object HyperAnf {

  /** Register count (p = 6). 64 registers ≈ 13% relative std error —
    * the published HyperANF operating point for per-node estimates. */
  val M = 64L

  /** Trailing-zero cap: rho saturates here (P ≈ 2^-16 per node). */
  val RhoMax = 16

  /** Propagation rounds: the sketch covers ball(v, Rounds). */
  val Rounds = 3

  /** The shared CASE ladder: 1 + trailing zeros of `rest`, saturated at
    * [[RhoMax]] — identical text runs in Spark SQL and DuckDB. */
  private def rhoCase(rest: String): String = {
    val whens = (1 to RhoMax - 1).map { k =>
      s"WHEN $rest % ${1L << k} = ${1L << (k - 1)} THEN $k"
    }
    s"CASE ${whens.mkString(" ")} ELSE $RhoMax END"
  }

  /** Initial sparse state: every node owns one register set by its own
    * hash — (node, reg, val). */
  private def initState(nodes: DataFrame): DataFrame =
    nodes.select(col("doc_id").as("node"),
      expr("(doc_id * 2654435761) % 4294967296").as("h1"))
      .select(col("node"), expr("(h1 * 40503 + 17) % 4294967296").as("h2"))
      .select(col("node"), expr(s"h2 % $M").as("reg"),
        expr(rhoCase(s"(h2 div $M)")).cast("long").as("val"))

  /** @return final sparse register table (doc_id, reg, val) after
    *         [[Rounds]] max-merge propagations over OUT-links. */
  def anf(nodes: DataFrame, edges: DataFrame, rounds: Int = Rounds): DataFrame = {
    val e = edges.localCheckpoint(false)
    var state = initState(nodes).localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val prop = e.join(state, e("dst") === state("node"))
        .select(e("src").as("node"), col("reg"), col("val"))
      state = state.unionAll(prop)
        .groupBy("node", "reg").agg(max("val").as("val"))
        .localCheckpoint(false)
    }
    state.select(col("node").as("doc_id"), col("reg"), col("val"))
  }

  /** q152 entry: HyperANF over the synthetic link graph of `documents`. */
  def docAnf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    anf(docs.select("doc_id"), LinkGraph.synthEdges(docs))
  }

  /** DuckDB replica of [[docAnf]]: same edges, same mixing arithmetic,
    * same CASE ladder, `rounds` unrolled max-merge CTEs. */
  def anfSql(rounds: Int = Rounds): String = {
    val base =
      s"""nn AS (SELECT count(*) AS n_docs FROM documents),
         | e AS (SELECT DISTINCT src, dst FROM (
         |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
         |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
         |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
         | h AS (SELECT doc_id AS node,
         |     ((doc_id * 2654435761) % 4294967296 * 40503 + 17) % 4294967296 AS h2
         |   FROM documents),
         | s0 AS (SELECT node, h2 % $M AS reg,
         |     CAST(${rhoCase(s"(h2 // $M)")} AS BIGINT) AS val FROM h)"""
    val rs = (1 to rounds).map { k =>
      s"""s$k AS (SELECT node, reg, max(val) AS val FROM (
         |   SELECT node, reg, val FROM s${k - 1}
         |   UNION ALL
         |   SELECT e.src AS node, s.reg, s.val
         |   FROM s${k - 1} s JOIN e ON e.dst = s.node) GROUP BY node, reg)"""
    }
    (Seq("WITH " + base) ++ rs).mkString(", ")
      .stripMargin.replace("\n", " ") +
      s" SELECT node AS doc_id, reg, val FROM s$rounds"
  }
}
