package graft

import org.scalatest.funsuite.AnyFunSuite

class LinkGraphSpec extends AnyFunSuite with SparkTest {

  test("integer PageRank == brute-force reference; ranks differentiate") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val n = docs.count().toInt
    // brute-force reference off the same closed-form edge list
    val edges = (0 until n).flatMap { i =>
      (0L to 2 + i % 3).map(j => (i.toLong, (i * 31 + j * 17 + 7) % n))
    }.filter { case (s, d) => s != d }.distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val inEdges = edges.groupBy(_._2)
    var pr = Array.fill(n)(graft.ops.LinkGraph.Scale)
    for (_ <- 1 to 5) {
      val next = Array.ofDim[Long](n)
      for (d <- 0 until n) {
        val s = inEdges.getOrElse(d.toLong, Nil)
          .map { case (src, _) => math.floor(pr(src.toInt).toDouble / outdeg(src)).toLong }
          .sum
        next(d) = graft.ops.LinkGraph.Teleport + math.floor(0.85 * s).toLong
      }
      pr = next
    }
    val got = graft.ops.LinkGraph.docPageRank(spark, Sf)
      .as[(Long, Long)].collect().toMap
    assert(got.size === n)
    (0 until n).foreach(i => assert(got(i.toLong) === pr(i), s"doc $i"))
    // the graph must actually differentiate ranks (not a regular lattice)
    assert(pr.distinct.length > 10)
    // and mass is roughly conserved (no dangling nodes by construction)
    val total = pr.sum.toDouble / (n.toLong * graft.ops.LinkGraph.Scale)
    assert(total > 0.9 && total < 1.01, s"mass $total")
  }

  test("pageRank on a hand graph == the Scala fixpoint: dangling ids, no in-links, a duplicate edge") {
    import spark.implicits._
    import graft.ops.LinkGraph.{Scale, Teleport}
    val nodes = (0L to 5L)
    // (2, 9): dst outside nodes, still counted in 2's out-degree;
    // (7, 3): src outside nodes, never ranked; 5 has no in-link;
    // (0, 1) twice: both copies count and contribute
    val edges = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 2L), (1L, 4L), (2L, 0L), (2L, 9L),
      (7L, 3L), (3L, 4L), (4L, 0L), (5L, 1L))
    val deg = edges.groupBy(_._1).map { case (src, es) => src -> es.size.toLong }
    var pr = nodes.map(_ -> Scale).toMap
    for (_ <- 1 to 5) {
      pr = nodes.map { d =>
        val s = edges.collect { case (src, `d`) if pr.contains(src) => math.floor(pr(src).toDouble / deg(src)).toLong }.sum
        d -> (Teleport + math.floor(0.85 * s).toLong)
      }.toMap
    }
    val got = graft.ops.LinkGraph.pageRank(nodes.toDF("doc_id"), edges.toDF("src", "dst"))
      .as[(Long, Long)].collect()
    assert(got.length === nodes.size, "one row per node")
    assert(got.toMap === pr)
    assert(pr(5L) === Teleport && pr(3L) === Teleport, "no in-link from a ranked node")
  }

  test("synthEdges == the closed form deduped by a global distinct") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def distinctForm(docs: org.apache.spark.sql.DataFrame) = {
      val n = docs.count()
      docs.select(col("doc_id").as("src"), explode(sequence(lit(0L), lit(2L) + col("doc_id") % 3)).as("j"))
        .select(col("src"), ((col("src") * 31 + col("j") * 17 + 7) % n).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().sorted.toSeq
    // 17 docs: j * 17 vanishes mod N, so each doc's targets all coincide
    for (docs <- Seq(spark.read.parquet(s"$Sf/documents.parquet"), (0L until 17L).toDF("doc_id"))) {
      val got = rows(graft.ops.LinkGraph.synthEdges(docs))
      assert(got.nonEmpty)
      assert(got === rows(distinctForm(docs)))
    }
  }

  test("triangles == brute-force per-node count; orientation emits each once") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val n = docs.count().toInt
    val und = (0 until n).flatMap { i =>
      (0L to 2 + i % 3).map(j => (i.toLong, (i * 31 + j * 17 + 7) % n))
    }.filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.distinct.toSet
    val adj = und.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    val triPerNode = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var nTri = 0L
    for ((a, b) <- und; c <- adj.getOrElse(a, Set.empty) if c > b && und((b, c))) {
      nTri += 1
      Seq(a, b, c).foreach(v => triPerNode(v) += 1)
    }
    val got = graft.ops.LinkGraph.docTriangles(spark, Sf)
      .as[(Long, Long)].collect().toMap
    assert(got.size === n)
    assert(nTri > 0, "fixture graph must contain triangles")
    (0 until n).foreach(i => assert(got(i.toLong) === triPerNode(i.toLong), s"doc $i"))
    // total incidence = 3 * number of triangles (each counted exactly once)
    assert(got.values.sum === 3 * nTri)
  }

  test("BFS hops == brute-force reference on the sf fixture graph") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val n = docs.count().toInt
    val adj = (0 until n).flatMap { i =>
      (0L to 2 + i % 3).map(j => (i.toLong, (i * 31 + j * 17 + 7) % n))
    }.filter { case (s, d) => s != d }.distinct
      .groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    val want = Array.fill(n)(-1L)
    var frontier = (0 until n).filter(_ % graft.ops.LinkGraph.BfsSeedMod == 0).map(_.toLong)
    frontier.foreach(v => want(v.toInt) = 0L)
    for (r <- 1 to graft.ops.LinkGraph.BfsMaxHops) {
      frontier = frontier.flatMap(v => adj.getOrElse(v, Nil)).distinct
        .filter(v => want(v.toInt) == -1L)
      frontier.foreach(v => want(v.toInt) = r.toLong)
    }
    val got = graft.ops.LinkGraph.docBfsHops(spark, Sf)
      .as[(Long, Long)].collect().toMap
    assert(got.size === n)
    (0 until n).foreach(i => assert(got(i.toLong) === want(i), s"doc $i"))
    // the fixture must exercise seeds, several hop levels, and ideally the
    // unreached label; at minimum hops 0..2 appear
    assert(Set(0L, 1L, 2L).subsetOf(want.toSet), s"hop levels: ${want.distinct.sorted.toSeq}")
  }

  test("BFS: chain graph gives exact depths, cap cuts it, frontier exhausts early") {
    import spark.implicits._
    // directed chain 0 -> 1 -> ... -> 9 plus an isolated node 10
    val edges = (0L until 9L).map(v => (v, v + 1)).toDF("src", "dst")
    val nodes = (0L to 10L).toDF("doc_id")
    val seeds = Seq(0L).toDF("doc_id")
    val capped = graft.ops.LinkGraph.bfsHops(nodes, edges, seeds, maxHops = 4)
      .as[(Long, Long)].collect().toMap
    (0L to 4L).foreach(v => assert(capped(v) === v, s"node $v"))
    (5L to 10L).foreach(v => assert(capped(v) === -1L, s"node $v past the cap"))
    // a cap beyond the diameter terminates via the empty-frontier exit and
    // still labels everything reachable
    val full = graft.ops.LinkGraph.bfsHops(nodes, edges, seeds, maxHops = 50)
      .as[(Long, Long)].collect().toMap
    (0L to 9L).foreach(v => assert(full(v) === v))
    assert(full(10L) === -1L, "isolated node stays unreached")
    // multi-source: nearest seed wins
    val two = graft.ops.LinkGraph.bfsHops(nodes, edges, Seq(0L, 7L).toDF("doc_id"), 50)
      .as[(Long, Long)].collect().toMap
    assert(two(8L) === 1L && two(9L) === 2L && two(6L) === 6L)
  }

  test("triangles: planted hub stays bounded — oriented out-degree caps fan-out") {
    import spark.implicits._
    // star graph (hub 0 to 1..100) + one triangle 1-2 edge: the hub's
    // ORIENTED out-degree must be ~0 (highest degree => sink), so the
    // wedge join never fans out hub-squared; and the only triangle is
    // (0,1,2)
    val edges = ((1L to 100L).map(v => (0L, v)) :+ (1L, 2L)).toDF("src", "dst")
    val nodes = (0L to 100L).toDF("doc_id")
    val got = graft.ops.LinkGraph.triangles(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got(0L) === 1 && got(1L) === 1 && got(2L) === 1)
    assert((3L to 100L).forall(got(_) === 0))
  }

  test("SSSP == brute-force Bellman-Ford on the sf fixture graph") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val n = docs.count().toInt
    val edges = (0 until n).flatMap { i =>
      (0L to 2 + i % 3).map(j => (i.toLong, (i * 31 + j * 17 + 7) % n))
    }.filter { case (s, d) => s != d }.distinct
    val w = edges.map { case (s, d) => (s, d) -> (1L + (s * 7 + d * 13) % 9) }.toMap
    var dist = (0 until n).map(i =>
      i.toLong -> (if (i % graft.ops.LinkGraph.BfsSeedMod == 0) 0L else Long.MaxValue)).toMap
    for (_ <- 1 to graft.ops.LinkGraph.SsspRounds) {
      val relaxed = edges.filter { case (s, _) => dist(s) != Long.MaxValue }
        .groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s, _) => dist(s) + w((s, d)) }.min
        }
      dist = dist.map { case (v, c) => v -> math.min(c, relaxed.getOrElse(v, Long.MaxValue)) }
    }
    val got = graft.ops.LinkGraph.docSssp(spark, Sf).as[(Long, Long)].collect().toMap
    assert(got.size === n)
    (0 until n).foreach { i =>
      val want = if (dist(i.toLong) == Long.MaxValue) -1L else dist(i.toLong)
      assert(got(i.toLong) === want, s"doc $i")
    }
    // the fixture must exercise real weighted choice: some node's cost must
    // differ from (min hop count) — i.e. not all weights behave like 1
    val hops = graft.ops.LinkGraph.docBfsHops(spark, Sf).as[(Long, Long)].collect().toMap
    assert((0 until n).exists(i => got(i.toLong) > 0 && got(i.toLong) != hops(i.toLong)))
  }

  test("SSSP: cheaper 2-hop path beats the direct edge; the round cap bounds path length") {
    import spark.implicits._
    // weights are closed-form 1+(7s+13d)%9: direct (0,4) costs 8, the
    // detour 0->3->4 costs 4+2=6 — relaxation must pick the detour
    val nodes = (0L to 9L).toDF("doc_id")
    val seeds = Seq(0L).toDF("doc_id")
    def wt(s: Long, d: Long) = 1L + (s * 7 + d * 13) % 9
    val edgePairs = Seq((0L, 4L), (0L, 3L), (3L, 4L), (4L, 5L), (5L, 7L), (7L, 8L), (8L, 9L))
    val direct = wt(0, 4)
    val detour = wt(0, 3) + wt(3, 4)
    assert(detour < direct, s"fixture must exercise relaxation: direct=$direct detour=$detour")
    val got = graft.ops.LinkGraph.sssp(nodes, edgePairs.toDF("src", "dst"), seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got(0L) === 0L && got(3L) === wt(0, 3))
    assert(got(4L) === detour, "min cost over <= 3-edge paths")
    // node 5: detour+w45 (3 edges) beats direct+w45 (2 edges)
    assert(got(5L) === detour + wt(4, 5))
    // node 7 needs 3 edges via the DIRECT route (the cheaper 4-edge route
    // is outside the cap): bounded-path semantics, not full shortest path
    assert(got(7L) === direct + wt(4, 5) + wt(5, 7))
    assert(got(8L) === -1L && got(9L) === -1L, "past the round cap")
    // a larger cap admits the cheap route to 7 and reaches 8/9
    val full = graft.ops.LinkGraph.sssp(nodes, edgePairs.toDF("src", "dst"), seeds, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(full(7L) === detour + wt(4, 5) + wt(5, 7))
    assert(full(9L) === detour + wt(4, 5) + wt(5, 7) + wt(7, 8) + wt(8, 9))
    assert(full(6L) === -1L, "isolated node stays unreached")
  }
}
