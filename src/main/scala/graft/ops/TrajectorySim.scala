package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.sql.functions._

/** Trajectory similarity join — discrete symmetric Hausdorff distance
  * between point trails (the ST_HausdorffDistance / trajectory-clustering
  * primitive): H(A,B) = max( max_a min_b d(a,b), max_b min_a d(a,b) ),
  * computed on squared lattice distances so every value is exact BIGINT.
  *
  * Candidate generation is the eps-block discipline: trails are paired
  * only when their FIRST points share a `Block`-sized lattice cell — a
  * plain equi-join on (bx, by), each unordered pair emitted exactly once
  * via the url ordering, never an all-pairs product. That co-started
  * restriction IS the query semantics (compare trails from the same
  * origin area), not an approximation of a global join.
  *
  * Scale shape: each trail is collapsed ONCE into an array of packed
  * points (one `collect_list` exchange, linear in the input), and the
  * pairs table joins that dim twice — so the shuffle carries one row per
  * trail plus one row per pair, never the (pairs × |A| × |B|)
  * point-point stream. The quadratic work still exists, but it runs
  * CPU-local inside [[hausdorffSq]]'s single O(|A|·|B|) loop over two
  * flat long arrays (both directed maxes in one pass, no allocation per
  * candidate), instead of materializing quadratically many rows through
  * an explode and two aggregate exchanges. Trails are bounded (points
  * per url), so the arrays are small; block size remains the skew knob
  * for the pair count, same as eps in [[PointPattern.dbscan]].
  */
object TrajectorySim {

  /** Start-cell block edge in lattice units (120 u = 6 degrees). */
  val Block = 120L

  /** (packed-point array, packed-point array) -> squared symmetric
    * Hausdorff. Points are packed (x << 32) | (y & 0xFFFFFFFF); exact for
    * |x|,|y| < 2^31 (lattice coords here are < 10^4). One fused loop
    * computes max_a min_b directly and folds min_a d(a,b) per b on the
    * way, so the b->a direction costs no second pass. */
  def hausdorffSq(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements(); val m = b.numElements()
    val bx = new Array[Long](m); val by = new Array[Long](m)
    val minB = new Array[Long](m)
    var j = 0
    while (j < m) {
      val p = b.getLong(j)
      bx(j) = p >> 32; by(j) = (p << 32) >> 32
      minB(j) = Long.MaxValue
      j += 1
    }
    var h = 0L
    var i = 0
    while (i < n) {
      val p = a.getLong(i)
      val ax = p >> 32; val ay = (p << 32) >> 32
      var mn = Long.MaxValue
      j = 0
      while (j < m) {
        val dx = ax - bx(j); val dy = ay - by(j)
        val d = dx * dx + dy * dy
        if (d < mn) mn = d
        if (d < minB(j)) minB(j) = d
        j += 1
      }
      if (mn > h) h = mn
      i += 1
    }
    j = 0
    while (j < m) { if (minB(j) > h) h = minB(j); j += 1 }
    h
  }

  private def hausdorffSq(a: Column, b: Column): Column =
    Kernel.column("hausdorff_sq", this, "hausdorffSq", LongType)(
      a -> ArrayType(LongType), b -> ArrayType(LongType))

  /** @param pts rows of (`keyCol`, `seqCol`, lonm, latm) — integer lattice
    *            coordinates, `seqCol` = 0 marks the trail start.
    *            PRECONDITION (ADVICE r5): (`keyCol`, `seqCol`) pairs must
    *            be UNIQUE — `n_sides` is computed as na + nb raw point-row
    *            counts, which equals the oracle's distinct-side-tag count
    *            only when no trail row repeats; a caller with duplicate
    *            trail rows must pre-distinct or count distinct `seqCol`
    *            per trail.
    * @return (url_a, url_b, n_sides, h2): co-started trail pairs with
    *         point-count sum and squared symmetric Hausdorff, all BIGINT */
  def hausdorffPairs(pts: DataFrame, keyCol: String = "url",
                     seqCol: String = "ent_idx"): DataFrame = {
    val starts = pts.filter(col(seqCol) === lit(0))
      .select(col(keyCol).as("u"),
        expr(s"lonm div ${Block}L").as("bx"), expr(s"latm div ${Block}L").as("by"))
    val pairs = starts.as("a").join(starts.as("b"),
        col("a.bx") === col("b.bx") && col("a.by") === col("b.by") &&
          col("a.u") < col("b.u"))
      .select(col("a.u").as("url_a"), col("b.u").as("url_b"))
    // one row per trail: packed points + count (collect_list order is
    // engine-dependent, but Hausdorff and count are order-independent)
    val trails = pts.groupBy(col(keyCol).as("u"))
      .agg(collect_list(shiftleft(col("lonm"), 32)
        .bitwiseOR(col("latm").bitwiseAND(lit(0xFFFFFFFFL)))).as("ps"),
        count(lit(1)).as("n"))
    pairs
      .join(trails.select(col("u").as("url_a"), col("ps").as("pa"), col("n").as("na")), "url_a")
      .join(trails.select(col("u").as("url_b"), col("ps").as("pb"), col("n").as("nb")), "url_b")
      .select(col("url_a"), col("url_b"), (col("na") + col("nb")).as("n_sides"),
        hausdorffSq(col("pa"), col("pb")).as("h2"))
  }

  /** DuckDB replica: same start-block pairing, same squared distances,
    * side-tagged max-of-mins over the explicit point-point table. */
  def hausdorffPairsSql(entsCte: String): String =
    s"""WITH $entsCte,
       | pt AS (SELECT url, ent_idx, lonm, latm FROM ents e),
       | st AS (SELECT url, lonm // $Block AS bx, latm // $Block AS by
       |   FROM pt WHERE ent_idx = 0),
       | prs AS (SELECT a.url AS ua, b.url AS ub FROM st a JOIN st b
       |   ON a.bx = b.bx AND a.by = b.by AND a.url < b.url),
       | pp AS (SELECT p.ua, p.ub, pa.ent_idx AS ia, pb.ent_idx AS ib,
       |     (pa.lonm - pb.lonm) * (pa.lonm - pb.lonm)
       |       + (pa.latm - pb.latm) * (pa.latm - pb.latm) AS d2
       |   FROM prs p JOIN pt pa ON pa.url = p.ua JOIN pt pb ON pb.url = p.ub),
       | sides AS (SELECT ua, ub, ia * 2 AS side, min(d2) AS m
       |     FROM pp GROUP BY 1, 2, 3
       |   UNION ALL
       |   SELECT ua, ub, ib * 2 + 1 AS side, min(d2) AS m
       |     FROM pp GROUP BY 1, 2, 3)
       | SELECT ua AS url_a, ub AS url_b, count(*) AS n_sides,
       |   CAST(max(m) AS BIGINT) AS h2
       | FROM sides GROUP BY 1, 2"""
      .stripMargin.replace("\n", " ")
}
