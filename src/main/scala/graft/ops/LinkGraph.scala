package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Link-graph analysis over the document corpus — PageRank, the canonical
  * web-scale quality prior for training-data curation.
  *
  * Determinism: the whole computation is INTEGER arithmetic, so it is
  * hash-checked against a DuckDB replica. Ranks are scaled by [[Scale]];
  * the two float-looking steps are IEEE double ops on exact integers that
  * both engines execute identically (floor(pr / outdeg): the operands are
  * exact, the division is correctly rounded, so both engines floor the
  * same double; floor(0.85 * s): same argument), and every SUM is over
  * BIGINTs — order-independent, unlike a float PageRank whose partial-sum
  * order makes cross-engine hashing impossible.
  *
  * Shape per iteration (the canonical distributed PageRank): contributions
  * = one equi-join of the rank vector with the edge list on src (edges
  * materialized once), then one partial-aggregating groupBy on the target
  * that also gives every node its rank ([[pageRankFrom]]): one exchange
  * per round. Nothing driver-side, no adjacency materialized per node.
  * Fixed iteration count keeps the lineage shallow (5 rounds); at larger R
  * cut it with localCheckpoint like [[Dedup.components]] does per round.
  *
  * The synthetic edge list is closed-form from doc_id (deterministic k-out
  * graph, self-loops removed, duplicates deduped) so the oracle re-derives
  * it from the same formula.
  */
object LinkGraph {

  /** Rank fixed-point scale (1.0 == 1e6). */
  val Scale = 1000000L
  /** Damping 0.85 as (teleport, damp) integer/double pair. */
  val Teleport = 150000L // floor(0.15 * Scale)

  /** Most targets a doc links to: j runs over 0..2 + i % 3. */
  private val MaxOut = 5

  /** Closed-form k-out link graph over the documents table:
    * doc i links to (i * 31 + j * 17 + 7) % N for j in 0..2 + i % 3,
    * self-loops dropped, duplicate targets deduped. A duplicate (src, dst)
    * can only come from one doc's own targets, so each doc's target array
    * is deduped in its row (`array_distinct`) and exploded: no exchange,
    * given unique doc_id. Array functions, no lambda, so the row work
    * stays in whole-stage codegen. N is counted once per version of the
    * documents table ([[TableMemo]]). */
  def synthEdges(docs: DataFrame): DataFrame = {
    val n = TableMemo.derived(docs.sparkSession, "rowCount", docs)(
      TableMemo.Held(docs.count(), 0L, () => ()))
    val src = col("doc_id")
    val targets = array((0 until MaxOut).map(j => (src * 31 + j * 17 + 7) % n): _*)
    docs.select(src.as("src"), explode(array_distinct(array_remove(
      slice(targets, lit(1), (lit(3L) + src % 3).cast("int")), src))).as("dst"))
  }

  /** `iters` rounds of integer PageRank over (src, dst) edges from the
    * uniform start (every node at [[Scale]]); every node in `nodes` gets
    * a rank (teleport-only if nothing links to it).
    * Output: (doc_id, pr) — BIGINT scaled by [[Scale]]. */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 5): DataFrame =
    pageRankFrom(nodes, edges, nodes.select(col("doc_id"), lit(Scale).as("pr")), iters)

  /** q86 entry: PageRank over the synthetic link graph of `documents`. */
  def docPageRank(spark: SparkSession, sfDir: String, iters: Int = 5): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    pageRank(docs.select("doc_id"), synthEdges(docs), iters)
  }

  /** [[pageRank]]'s iterate with an EXPLICIT starting vector — the
    * warm-start primitive for incremental maintenance.
    *
    * One exchange per round: a round is
    * `(e ⋈ pr → (dst AS doc_id, c)) ∪ (nodes → (doc_id, 0))` under one
    * groupBy(doc_id).sum(c), then the teleport formula. The zero rows give
    * every node a rank and alone set `node`, so the groups of targets
    * outside `nodes` drop after the sum. The rows are those of
    * `nodes LEFT JOIN sums`, given unique doc_id, without a second join.
    * The degree window leaves `e` partitioned on src and the aggregate
    * leaves the rank vector partitioned on doc_id, so the next round's
    * join shuffles neither. */
  def pageRankFrom(nodes: DataFrame, edges: DataFrame, start: DataFrame,
                   iters: Int): DataFrame = {
    // materialize the (src, dst, deg) table once: every iteration probes
    // it, and without the cut the edge synthesis + degree window replay
    // `iters` times (lineage also stays flat across rounds)
    val e = edges
      .select(col("src"), col("dst"), count(lit(1)).over(Window.partitionBy("src")).as("deg"))
      .localCheckpoint(false)
      // a NULL target reaches no node, as in a LEFT JOIN from `nodes`;
      // saying so here, not by inference from the next round's join, keeps
      // every round's `e` one plan, so one broadcast of it serves them all
      .filter(col("dst").isNotNull)
    val zeros = nodes.select(col("doc_id"), lit(0L).as("c"), lit(true).as("node"))
    var pr = start.select(col("doc_id"), col("pr"))
    for (_ <- 1 to iters) {
      pr = e.join(pr, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), floor(col("pr") / col("deg")).cast("long").as("c"),
          lit(false).as("node"))
        .unionAll(zeros)
        .groupBy("doc_id").agg(sum("c").as("s"), max("node").as("node"))
        .filter(col("node"))
        .select(col("doc_id"), (lit(Teleport) + floor(lit(0.85) * col("s")).cast("long")).as("pr"))
    }
    pr
  }

  /** Incremental PageRank maintenance (the recurring-crawl move): when
    * the next crawl's link delta is small (q158: 1/17 of pages die,
    * 1/13 gain a link), don't recompute ranks from the uniform vector —
    * WARM-START the iterate from the previous snapshot's ranks and run
    * `repairIters` rounds on the NEW edges. The fixpoint is a
    * contraction with factor 0.85, so starting ||x0 − x*|| small buys
    * the same accuracy in far fewer rounds than the cold 1-vector
    * start. The advantage scales with how far the fixpoint sits from
    * uniform: the spec shows >5x closer (L1) on a planted hub graph,
    * and never-worse on the near-uniform synthetic k-out fixture.
    *
    * Scale shape: exactly one [[pageRank]] round per repair iteration
    * (rank⋈edges equi-join + partial-agg groupBy) — the savings IS the
    * removed rounds; nothing else changes. Output deterministic BIGINT,
    * hash-checked via the chained-CTE oracle (old 5-round fixpoint on
    * e1 feeding 2 rounds on e2). */
  def docPageRankIncremental(spark: SparkSession, sfDir: String,
                             repairIters: Int = 2): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    val nodes = docs.select("doc_id")
    val e1 = synthEdges(docs).localCheckpoint(false)
    val old = pageRank(nodes, e1, 5).localCheckpoint(false)
    pageRankFrom(nodes, HostGraph.edgesT2(docs, e1), old, repairIters)
  }

  /** DuckDB replica of [[docPageRankIncremental]]: the q86 CTE chain on
    * e1 (5 rounds) continued for `repairIters` rounds on e2. */
  def pageRankIncrementalSql(repairIters: Int = 2): String = {
    val base =
      s"""nodes AS (SELECT doc_id FROM documents),
         | nn AS (SELECT count(*) AS n_docs FROM documents),
         | e AS (SELECT DISTINCT src, dst FROM (
         |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
         |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
         |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
         | e2 AS (SELECT DISTINCT src, dst FROM (
         |   SELECT src, dst FROM e WHERE src % 17 <> 0
         |   UNION ALL
         |   SELECT d.doc_id AS src, (d.doc_id * 37 + 11) % nn.n_docs AS dst
         |   FROM documents d, nn WHERE d.doc_id % 13 = 0
         |     AND d.doc_id % 17 <> 0
         |     AND d.doc_id <> (d.doc_id * 37 + 11) % nn.n_docs)),
         | od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         | od2 AS (SELECT src, count(*) AS deg FROM e2 GROUP BY src),
         | pr0 AS (SELECT doc_id, CAST($Scale AS BIGINT) AS pr FROM nodes)"""
    def round(k: Int, prev: String, eT: String, odT: String) =
      s"""pr$k AS (SELECT n.doc_id,
         |   $Teleport + CAST(floor(0.85 * COALESCE(s.s, 0)) AS BIGINT) AS pr
         | FROM nodes n LEFT JOIN (
         |   SELECT $eT.dst AS doc_id, sum(CAST(floor(p.pr / $odT.deg) AS BIGINT)) AS s
         |   FROM $prev p JOIN $odT ON $odT.src = p.doc_id
         |     JOIN $eT ON $eT.src = p.doc_id
         |   GROUP BY $eT.dst) s ON s.doc_id = n.doc_id)"""
    val cold = (1 to 5).map(k => round(k, s"pr${k - 1}", "e", "od"))
    val warm = (6 until 6 + repairIters).map(k => round(k, s"pr${k - 1}", "e2", "od2"))
    (Seq("WITH " + base) ++ cold ++ warm).mkString(", ")
      .stripMargin.replace("\n", " ") +
      s" SELECT doc_id, pr FROM pr${5 + repairIters}"
  }

  /** DuckDB replica: edges from the same closed form, `iters` chained
    * rank CTEs, identical integer/floor op sequence. */
  def pageRankSql(iters: Int = 5): String = {
    val base =
      s"""nodes AS (SELECT doc_id FROM documents),
         | nn AS (SELECT count(*) AS n_docs FROM documents),
         | e AS (SELECT DISTINCT src, dst FROM (
         |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
         |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
         |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
         | od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         | pr0 AS (SELECT doc_id, CAST($Scale AS BIGINT) AS pr FROM nodes)"""
    val rounds = (1 to iters).map { k =>
      s"""pr$k AS (SELECT n.doc_id,
         |   $Teleport + CAST(floor(0.85 * COALESCE(s.s, 0)) AS BIGINT) AS pr
         | FROM nodes n LEFT JOIN (
         |   SELECT e.dst AS doc_id, sum(CAST(floor(p.pr / od.deg) AS BIGINT)) AS s
         |   FROM pr${k - 1} p JOIN od ON od.src = p.doc_id JOIN e ON e.src = p.doc_id
         |   GROUP BY e.dst) s ON s.doc_id = n.doc_id)"""
    }
    (Seq("WITH " + base) ++ rounds).mkString(", ")
      .stripMargin.replace("\n", " ") + s" SELECT doc_id, pr FROM pr$iters"
  }

  /** Per-node triangle counts over the undirected closure of `edges` —
    * the web-graph clustering signal (link farms and boilerplate nav
    * rings are triangle-dense; organic link neighborhoods are sparse).
    *
    * Scale shape: the naive wedge join fans out as sum(deg^2), which a
    * single hub (the web-graph norm) turns into a cross product. The
    * standard fix (Suri & Vassilvitskii, WWW 2011): orient every
    * undirected edge from its (degree, id)-smaller endpoint to the
    * larger, so each triangle is generated by exactly one wedge at its
    * lowest-degree corner and per-node join fan-out is bounded by
    * ORIENTED out-degree = O(sqrt(m)) — hubs become near-sinks. The rest
    * is two equi-joins (wedge build + closing-edge semi-join) and one
    * partial-aggregating count; nothing driver-side, no adjacency lists.
    *
    * Output: (doc_id, n_tri) for every node in `nodes`, zeros included. */
  def triangles(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val lo = deg.select(col("v").as("a"), col("d").as("da"))
    val hi = deg.select(col("v").as("b"), col("d").as("db"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // three consumers below (both wedge sides + the closing probe) — cut
    // once so the orientation joins don't replay per consumer
    val o = und.join(lo, "a").join(hi, "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint(false)
    val wedges = o.as("o1").join(o.as("o2"), col("o1.dst") === col("o2.src"))
      .select(col("o1.src").as("u"), col("o1.dst").as("v"), col("o2.dst").as("w"))
    val tri = wedges.join(o.as("o3"),
      col("u") === col("o3.src") && col("w") === col("o3.dst"), "leftsemi")
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("v0"))
      .groupBy("v0").agg(count(lit(1)).as("c"))
    nodes.join(perNode, nodes("doc_id") === perNode("v0"), "left")
      .select(col("doc_id"), coalesce(col("c"), lit(0L)).as("n_tri"))
  }

  /** q103 entry: triangle counts over the synthetic link graph. */
  def docTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    triangles(docs.select("doc_id"), synthEdges(docs))
  }

  /** Seed predicate modulus for q108 (doc_id % 97 == 0 — ~1% of docs). */
  val BfsSeedMod = 97L
  /** q108 round cap. */
  val BfsMaxHops = 4

  /** Multi-source BFS hop distance — "crawl depth from the seed list", the
    * standard frontier-quality signal for web corpora (pages far from any
    * trusted seed are spam-heavier; OPIC/harmonic-style priors start from
    * exactly this). Every node gets the length of its shortest DIRECTED
    * path from any seed: 0 for seeds, -1 if unreached within `maxHops`.
    *
    * Scale shape — the canonical distributed BFS, one pair of equi-key
    * exchanges per round, nothing driver-side:
    *   - expand: frontier ⋈ edges on src (the frontier is the small side
    *     and shrinks as the graph saturates; edges are materialized once
    *     and probed every round);
    *   - dedupe: distinct on the candidate set (map-side combined);
    *   - visited check: LEFT ANTI join against the union of the previous
    *     LEVELS — each level is localCheckpointed once when produced, so
    *     the visited set is a union of materialized frames, never a
    *     re-materialized running table;
    *   - early exit when a frontier empties (a driver-side isEmpty on the
    *     already-checkpointed level, not an extra job).
    * Hop counts are assigned the round a node is FIRST reached, which is
    * the BFS shortest-distance invariant; everything is BIGINT, so the
    * result hash-checks against the oracle's recursive closure. */
  def bfsHops(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
              maxHops: Int = BfsMaxHops): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e = edges.localCheckpoint(false)
    var levels = List(seeds.select(col("doc_id"), lit(0L).as("hop")).localCheckpoint(false))
    var frontier = levels.head.select("doc_id")
    var r = 1
    var exhausted = false
    while (r <= maxHops && !exhausted) {
      val visited = levels.map(_.select("doc_id")).reduce(_ unionAll _)
      val next = frontier.join(e, frontier("doc_id") === e("src"))
        .select(col("dst").as("doc_id")).distinct()
        .join(visited, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(r.toLong).as("hop"))
        .localCheckpoint(false)
      if (next.isEmpty) exhausted = true
      else { levels ::= next; frontier = next.select("doc_id") }
      r += 1
    }
    val dist = levels.reduce(_ unionAll _)
    nodes.join(dist, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hop"), lit(-1L)).as("hop"))
  }

  /** q108 entry: hop distance from the % [[BfsSeedMod]] seed set over the
    * synthetic link graph. */
  def docBfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    bfsHops(docs.select("doc_id"), synthEdges(docs),
      docs.filter(col("doc_id") % BfsSeedMod === 0).select("doc_id"))
  }

  /** DuckDB replica of [[docBfsHops]]: same closed-form edges, capped
    * recursive closure, min depth per node. */
  def bfsSql(maxHops: Int = BfsMaxHops): String =
    s"""WITH RECURSIVE nn AS (SELECT count(*) AS n_docs FROM documents),
       | e AS (SELECT DISTINCT src, dst FROM (
       |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
       | r(v, d) AS (SELECT doc_id, 0 FROM documents WHERE doc_id % $BfsSeedMod = 0
       |   UNION SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.v WHERE r.d < $maxHops),
       | m AS (SELECT v AS doc_id, min(d) AS d FROM r GROUP BY v)
       | SELECT doc_id, CAST(COALESCE(m.d, -1) AS BIGINT) AS hop
       | FROM documents n LEFT JOIN m USING (doc_id)"""
      .stripMargin.replace("\n", " ")

  /** q120 relaxation-round cap. */
  val SsspRounds = 4

  /** Deterministic integer edge weight in [1, 9] — closed-form from the
    * endpoints so the oracle re-derives it (crawl-cost proxy). */
  private def edgeWeight = lit(1L) + (col("src") * 7 + col("dst") * 13) % 9

  /** Weighted single-source (multi-seed) shortest path, Bellman-Ford
    * style: after `rounds` relaxations every node holds the exact min
    * cost over directed paths of <= `rounds` edges from any seed (-1 if
    * none) — BFS's weighted sibling, the crawl-cost / link-distance prior.
    *
    * Scale shape — one equi-join + one map-side-combinable min-groupBy per
    * round, nothing driver-side: the dist table (<= |V| rows) joins edges
    * on src, candidates union the previous table, min per node;
    * localCheckpoint per round keeps lineage flat (same discipline as
    * [[pageRank]]/[[bfsHops]]). All-BIGINT costs, so the result
    * hash-checks against the oracle's capped recursive closure. A
    * frontier-only variant (relax just improved nodes, the delta-stepping
    * direction) drops per-round join size once the graph saturates —
    * worth it past ~10^9 edges; at fixed small `rounds` the full-table
    * relax is one exchange either way. */
  def sssp(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
           rounds: Int = SsspRounds): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e = edges.withColumn("w", edgeWeight).localCheckpoint(false)
    var dist = seeds.select(col("doc_id"), lit(0L).as("d")).localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val cand = dist.join(e, dist("doc_id") === e("src"))
        .select(col("dst").as("doc_id"), (col("d") + col("w")).as("d"))
      dist = dist.unionAll(cand)
        .groupBy("doc_id").agg(min("d").as("d")).localCheckpoint(false)
    }
    nodes.join(dist, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("d"), lit(-1L)).as("dist"))
  }

  /** q120 entry: weighted shortest path from the % [[BfsSeedMod]] seed
    * set over the synthetic link graph. */
  def docSssp(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    sssp(docs.select("doc_id"), synthEdges(docs),
      docs.filter(col("doc_id") % BfsSeedMod === 0).select("doc_id"))
  }

  /** DuckDB replica of [[docSssp]]: same closed-form edges + weights,
    * cost-carrying capped recursive closure, min cost per node. */
  def ssspSql(rounds: Int = SsspRounds): String =
    s"""WITH RECURSIVE nn AS (SELECT count(*) AS n_docs FROM documents),
       | e AS (SELECT src, dst, 1 + (src * 7 + dst * 13) % 9 AS w FROM (
       |   SELECT DISTINCT src, dst FROM (
       |     SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |     FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |     WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst)),
       | r(v, c, h) AS (SELECT doc_id, CAST(0 AS BIGINT), 0 FROM documents
       |     WHERE doc_id % $BfsSeedMod = 0
       |   UNION SELECT e.dst, r.c + e.w, r.h + 1 FROM r JOIN e ON e.src = r.v
       |     WHERE r.h < $rounds),
       | m AS (SELECT v AS doc_id, min(c) AS c FROM r GROUP BY v)
       | SELECT doc_id, CAST(COALESCE(m.c, -1) AS BIGINT) AS dist
       | FROM documents n LEFT JOIN m USING (doc_id)"""
      .stripMargin.replace("\n", " ")

  /** DuckDB replica of [[docTriangles]]: same closed-form edges, same
    * degree orientation (explicit OR/AND form, not tuple compare, so both
    * engines evaluate the identical predicate), same one-wedge-per-
    * triangle count. */
  def trianglesSql: String =
    s"""WITH nn AS (SELECT count(*) AS n_docs FROM documents),
       | nodes AS (SELECT doc_id FROM documents),
       | e AS (SELECT DISTINCT src, dst FROM (
       |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
       | und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
       | deg AS (SELECT v, count(*) AS d FROM
       |   (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v),
       | o AS (SELECT
       |     CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.a ELSE u.b END AS src,
       |     CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.b ELSE u.a END AS dst
       |   FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
       | tri AS (SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
       |   FROM o o1 JOIN o o2 ON o2.src = o1.dst
       |   WHERE EXISTS (SELECT 1 FROM o o3 WHERE o3.src = o1.src AND o3.dst = o2.dst)),
       | pern AS (SELECT v0, count(*) AS c FROM
       |   (SELECT u AS v0 FROM tri UNION ALL SELECT v AS v0 FROM tri
       |    UNION ALL SELECT w AS v0 FROM tri) GROUP BY v0)
       | SELECT n.doc_id, CAST(COALESCE(p.c, 0) AS BIGINT) AS n_tri
       | FROM nodes n LEFT JOIN pern p ON p.v0 = n.doc_id"""
      .stripMargin.replace("\n", " ")

  /** q141 parameters: k-core threshold and unrolled peel rounds. The
    * sparsified graph ((src + dst) % 3 != 0 thins the too-regular k-out
    * synth so peeling has somewhere to go) reaches its 4-core fixpoint in
    * 8 rounds on the fixture; round 9 is the spec-pinned fixpoint check. */
  val KCoreK = 4L
  val KCoreRounds = 9

  /** k-core decomposition (bounded-round peel): repeatedly drop nodes
    * with fewer than k neighbors inside the surviving set; the fixpoint
    * is the maximal subgraph of minimum degree k — the standard
    * link-graph "dense nucleus" signal (spam farms and boilerplate
    * navigation cliques concentrate in high cores).
    *
    * Semantics: a FIXED `rounds`-round peel — exact k-core whenever the
    * fixpoint lands within the budget (KCoreSpec pins that on the
    * fixture; the survivors' output degrees are all >= k, a driver-
    * visible certificate). Unbounded inputs use a driver loop with an
    * emptiness check, the [[bfsHops]]/[[Dedup.components]] discipline.
    *
    * Scale shape per round: two left-semi equi-joins of the symmetric
    * edge list against the alive set + one map-side-combinable degree
    * groupBy — no adjacency ever materializes per node; localCheckpoint
    * keeps the 9-round lineage flat. */
  def kCore(nodes: DataFrame, edges: DataFrame,
            k: Long = KCoreK, rounds: Int = KCoreRounds): DataFrame = {
    val sym = edges.select("src", "dst")
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(false)
    def coreDeg(alive: DataFrame): DataFrame = sym
      .join(alive.withColumnRenamed("doc_id", "src"), Seq("src"), "left_semi")
      .join(alive.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("deg"))
    var alive = nodes.select("doc_id")
    for (_ <- 1 to rounds)
      alive = coreDeg(alive).filter(col("deg") >= k)
        .select(col("src").as("doc_id")).localCheckpoint(false)
    coreDeg(alive).select(col("src").as("doc_id"), col("deg"))
  }

  /** q141 entry: 4-core of the sparsified doc link graph. */
  def docKCore(docs: DataFrame): DataFrame =
    kCore(docs.select("doc_id"),
      synthEdges(docs).filter((col("src") + col("dst")) % 3 =!= 0))

  /** DuckDB replica: same sparsified symmetric edges, `rounds` unrolled
    * peel CTEs, final in-core degrees. */
  def kCoreSql(k: Long = KCoreK, rounds: Int = KCoreRounds): String = {
    val base =
      s"""WITH nn AS (SELECT count(*) AS n_docs FROM documents),
         | e AS (SELECT DISTINCT src, dst FROM (
         |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
         |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
         |   WHERE j.j <= 2 + d.doc_id % 3)
         |   WHERE src <> dst AND (src + dst) % 3 <> 0),
         | sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         | a0 AS (SELECT doc_id FROM documents)"""
    val steps = (1 to rounds).map { r =>
      s""" d$r AS (SELECT s.src AS doc_id, count(*) AS deg FROM sym s
         |   JOIN a${r - 1} x ON x.doc_id = s.src
         |   JOIN a${r - 1} y ON y.doc_id = s.dst GROUP BY 1),
         | a$r AS (SELECT doc_id FROM d$r WHERE deg >= $k)"""
    }.mkString(",")
    s"""$base,$steps
       | SELECT s.src AS doc_id, count(*) AS deg FROM sym s
       |   JOIN a$rounds x ON x.doc_id = s.src
       |   JOIN a$rounds y ON y.doc_id = s.dst GROUP BY 1"""
      .stripMargin.replace("\n", " ")
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) — the two-sided
    * companion of [[pageRank]]: a page is a good AUTHORITY when good hubs
    * link to it and a good HUB when it links to good authorities; the
    * mutual recursion separates directories/link lists from content
    * pages, which one-sided PageRank cannot.
    *
    * Determinism: ENTIRELY integer — raw scores are BIGINT sums over
    * in/out-neighbors, and the per-round L1 normalization is
    * `floor(raw * Scale / total)` (integer multiply + integer div — no
    * float op anywhere, unlike pageRank's floor-on-exact-double), so the
    * fixpoint iterate hash-checks against the DuckDB replica. Overflow
    * headroom: post-normalization scores sum to <= Scale * N, raw * Scale
    * <= maxdeg * Scale^2 ~ 1e14 per row and totals <= 1e6 * N — BIGINT is
    * safe past N = 1e12.
    *
    * Shape per round (x2 for the two sides): one equi-join of the score
    * vector with the edge list + one map-side-combinable groupBy, then a
    * scalar total broadcast ([[Scalars.join]] pins the broadcast-one-row
    * form against constant folding). Standard HITS order: authorities
    * from CURRENT hubs, then hubs from the NEW authorities. Edges are
    * materialized once; nothing driver-side. */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = edges.localCheckpoint(false)
    val n = nodes.select("doc_id")
    var hub = n.select(col("doc_id"), lit(Scale).as("h"))
    var auth = n.select(col("doc_id"), lit(Scale).as("a"))
    for (_ <- 1 to iters) {
      val araw = e.join(hub, e("src") === hub("doc_id"))
        .groupBy("dst").agg(sum("h").as("raw"))
      auth = normalizeL1(n, araw.withColumnRenamed("dst", "doc_id"), "a")
      val hraw = e.join(auth, e("dst") === auth("doc_id"))
        .groupBy("src").agg(sum("a").as("raw"))
      hub = normalizeL1(n, hraw.withColumnRenamed("src", "doc_id"), "h")
    }
    hub.join(auth, "doc_id").select("doc_id", "h", "a")
  }

  /** score = floor(raw * Scale / sum(raw)), 0 for nodes with no raw row.
    * `raw` is materialized once (node-sized): BOTH the scalar total and
    * the join probe read it, and without the cut the raw subtree — which
    * by round k contains every earlier round — replays twice per
    * normalization, compounding across rounds (the [[pageRank]] edge-
    * checkpoint argument, but per round because HITS consumes each
    * intermediate twice where PageRank consumes it once). */
  private def normalizeL1(nodes: DataFrame, raw: DataFrame, out: String): DataFrame = {
    val r = raw.localCheckpoint(false)
    val tot = r.agg(sum("raw").as("tot"))
    Scalars.join(nodes.join(r, Seq("doc_id"), "left"), tot)
      .select(col("doc_id"),
        coalesce(expr(s"raw * ${Scale}L div tot"), lit(0L)).as(out))
  }

  /** q146 entry: HITS over the synthetic link graph of `documents`. */
  def docHits(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    hits(docs.select("doc_id"), synthEdges(docs), iters)
  }

  /** DuckDB replica of [[docHits]]: same edges, `iters` chained
    * (authority, hub) CTE pairs with the identical integer op sequence. */
  def hitsSql(iters: Int = 3): String = {
    val base =
      s"""nodes AS (SELECT doc_id FROM documents),
         | nn AS (SELECT count(*) AS n_docs FROM documents),
         | e AS (SELECT DISTINCT src, dst FROM (
         |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
         |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
         |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
         | h0 AS (SELECT doc_id, CAST($Scale AS BIGINT) AS h FROM nodes),
         | a0 AS (SELECT doc_id, CAST($Scale AS BIGINT) AS a FROM nodes)"""
    val rounds = (1 to iters).map { k =>
      s"""ar$k AS (SELECT e.dst AS doc_id, CAST(sum(p.h) AS BIGINT) AS raw
         |   FROM h${k - 1} p JOIN e ON e.src = p.doc_id GROUP BY 1),
         | a$k AS (SELECT n.doc_id, CAST(
         |   COALESCE(ar.raw * $Scale // (SELECT CAST(sum(raw) AS BIGINT) FROM ar$k), 0)
         |   AS BIGINT) AS a
         |   FROM nodes n LEFT JOIN ar$k ar ON ar.doc_id = n.doc_id),
         | hr$k AS (SELECT e.src AS doc_id, CAST(sum(p.a) AS BIGINT) AS raw
         |   FROM a$k p JOIN e ON e.dst = p.doc_id GROUP BY 1),
         | h$k AS (SELECT n.doc_id, CAST(
         |   COALESCE(hr.raw * $Scale // (SELECT CAST(sum(raw) AS BIGINT) FROM hr$k), 0)
         |   AS BIGINT) AS h
         |   FROM nodes n LEFT JOIN hr$k hr ON hr.doc_id = n.doc_id)"""
    }
    (Seq("WITH " + base) ++ rounds).mkString(", ")
      .stripMargin.replace("\n", " ") +
      s" SELECT h.doc_id, h.h, a.a FROM h$iters h JOIN a$iters a USING (doc_id)"
  }

  /** Seed selector for [[docTrustRank]]: every 47th doc is "manually
    * vetted" (a deterministic stand-in for the human-reviewed seed list). */
  val TrustSeedMod = 47L

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004) — PageRank
    * with the teleport restricted to a trusted SEED set: trust flows out
    * of the vetted pages along links and decays with distance, so spam
    * farms — which PageRank's uniform teleport funds unconditionally —
    * receive only what legitimate pages (mistakenly) link to them. The
    * canonical web-corpus curation prior alongside [[pageRank]]; the same
    * loop with a biased-teleport vector is personalized PageRank.
    *
    * Integer discipline identical to [[pageRank]] (floor(tr/deg)
    * contributions, floor(0.85·s) damping — IEEE ops on exact integers,
    * BIGINT sums, order-independent): seeds start at [[Scale]] and
    * receive [[Teleport]] per round, everything else starts at 0 and
    * receives only damped in-link mass. Same 2^53 headroom argument.
    *
    * Shape per round: one rank⋈edges equi-join + one map-side-combinable
    * groupBy(dst) — the seed flag rides the node table (one extra
    * node-sized column, no extra exchange). */
  def trustRank(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                iters: Int = 5): DataFrame = {
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val e = edges.join(outdeg, "src").localCheckpoint(false)
    // node table with the per-round teleport vector (Teleport on seeds, 0
    // elsewhere) — probed every round, so materialized once
    val base = nodes.select("doc_id")
      .join(seeds.select(col("doc_id"), lit(Teleport).as("tel")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("tel"), lit(0L)).as("tel"))
      .localCheckpoint(false)
    var tr = base.select(col("doc_id"),
      when(col("tel") > 0, lit(Scale)).otherwise(lit(0L)).as("tr"))
    for (_ <- 1 to iters) {
      val sums = e.join(tr, e("src") === tr("doc_id"))
        .select(col("dst"), floor(col("tr") / col("deg")).cast("long").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      tr = base.join(sums, base("doc_id") === sums("dst"), "left")
        .select(col("doc_id"),
          (col("tel") + floor(lit(0.85) * coalesce(col("s"), lit(0L))).cast("long")).as("tr"))
    }
    tr
  }

  /** q147 entry: TrustRank over the synthetic link graph of `documents`,
    * seeds = every [[TrustSeedMod]]-th doc. */
  def docTrustRank(spark: SparkSession, sfDir: String, iters: Int = 5): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    trustRank(docs.select("doc_id"), synthEdges(docs),
      docs.select("doc_id").filter(col("doc_id") % TrustSeedMod === 0), iters)
  }

  /** DuckDB replica of [[docTrustRank]]: same edges, same seed rule,
    * `iters` chained trust CTEs with the identical op sequence. */
  def trustRankSql(iters: Int = 5): String = {
    val base =
      s"""nodes AS (SELECT doc_id,
         |   CASE WHEN doc_id % $TrustSeedMod = 0
         |     THEN CAST($Teleport AS BIGINT) ELSE 0 END AS tel
         |   FROM documents),
         | nn AS (SELECT count(*) AS n_docs FROM documents),
         | e AS (SELECT DISTINCT src, dst FROM (
         |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
         |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
         |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
         | od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         | tr0 AS (SELECT doc_id, CASE WHEN tel > 0
         |   THEN CAST($Scale AS BIGINT) ELSE 0 END AS tr FROM nodes)"""
    val rounds = (1 to iters).map { k =>
      s"""tr$k AS (SELECT n.doc_id,
         |   n.tel + CAST(floor(0.85 * COALESCE(s.s, 0)) AS BIGINT) AS tr
         | FROM nodes n LEFT JOIN (
         |   SELECT e.dst AS doc_id, sum(CAST(floor(p.tr / od.deg) AS BIGINT)) AS s
         |   FROM tr${k - 1} p JOIN od ON od.src = p.doc_id JOIN e ON e.src = p.doc_id
         |   GROUP BY e.dst) s ON s.doc_id = n.doc_id)"""
    }
    (Seq("WITH " + base) ++ rounds).mkString(", ")
      .stripMargin.replace("\n", " ") + s" SELECT doc_id, tr FROM tr$iters"
  }

  /** Degree assortativity numerators (Newman, PRL 2002) — do pages link
    * to pages of similar connectivity? Positive mixing = core-periphery
    * web structure; strongly negative = hub-and-spoke (or a link farm
    * funneling into one target). Per directed edge, x = out-degree(src)
    * and y = in-degree(dst); the output is ONE row of exact BIGINT moment
    * sums (m, Σx, Σy, Σxy, Σx², Σy²) — the consumer computes Pearson
    * r = (m·Σxy − Σx·Σy) / sqrt((m·Σx² − Σx²)(m·Σy² − Σy²)), the single
    * float op left outside the engine (the [[Collocations]] discipline).
    *
    * Shape: edges materialized once and reused by both degree groupBys
    * and the fact pass; two node-keyed equi-joins decorate each edge with
    * its endpoint degrees; ONE global partial aggregate. Degree sums are
    * ≤ maxdeg²·m — BIGINT-safe for any real web graph. */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges.localCheckpoint(false)
    val od = e.groupBy("src").agg(count(lit(1)).as("x"))
    val id = e.groupBy("dst").agg(count(lit(1)).as("y"))
    e.join(od, "src").join(id, "dst")
      .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
  }

  /** q148 entry: assortativity over the synthetic link graph. */
  def docAssortativity(spark: SparkSession, sfDir: String): DataFrame =
    assortativity(synthEdges(TableMemo.parquet(spark, s"$sfDir/documents.parquet")))

  /** DuckDB replica of [[docAssortativity]]. */
  def assortativitySql(): String =
    s"""WITH nn AS (SELECT count(*) AS n_docs FROM documents),
       | e AS (SELECT DISTINCT src, dst FROM (
       |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
       | od AS (SELECT src, count(*) AS x FROM e GROUP BY src),
       | id AS (SELECT dst, count(*) AS y FROM e GROUP BY dst)
       | SELECT count(*) AS m,
       |   CAST(sum(od.x) AS BIGINT) AS sx, CAST(sum(id.y) AS BIGINT) AS sy,
       |   CAST(sum(od.x * id.y) AS BIGINT) AS sxy,
       |   CAST(sum(od.x * od.x) AS BIGINT) AS sx2,
       |   CAST(sum(id.y * id.y) AS BIGINT) AS sy2
       | FROM e JOIN od ON od.src = e.src JOIN id ON id.dst = e.dst"""
      .stripMargin.replace("\n", " ")

  /** Co-citation cap: pages citing more than this are treated as
    * navigation/link lists, not topical evidence. */
  val CoCiteMaxOut = 64L

  /** Minimum common citers for a pair to be "related". */
  val CoCiteMin = 2L

  /** Co-citation similarity (Small, JASIS 1973; the "related pages"
    * primitive behind HITS communities and bipartite-core trawling) —
    * two pages are related when many pages cite BOTH:
    * cocite(a,b) = |in(a) ∩ in(b)|.
    *
    * Scale shape: candidates come from an edges SELF-JOIN ON THE CITING
    * PAGE (equi-join on src — never an all-pairs product over targets);
    * the fan-out is Σ outdeg², so the out-degree cap is a
    * semantics-plus-scale guard in the [[ContactJoin]] mold: a mega-hub
    * directory page is navigation, not evidence two targets are related,
    * AND it is exactly the page whose deg² explodes the join — dropped
    * rows change the SEMANTICS the oracle mirrors, not just the cost.
    * One groupBy on the unordered pair, min-support filter, all BIGINT. */
  def coCitation(edges: DataFrame, maxOutDeg: Long = CoCiteMaxOut,
                 minCommon: Long = CoCiteMin): DataFrame = {
    val e = edges.localCheckpoint(false)
    val keep = e.join(
      e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") <= maxOutDeg), "src")
    val a = keep.select(col("src"), col("dst").as("doc_a"))
    val b = keep.select(col("src"), col("dst").as("doc_b"))
    a.join(b, "src").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }

  /** q149 entry: co-citation pairs over the synthetic link graph. */
  def docCoCitation(spark: SparkSession, sfDir: String): DataFrame =
    coCitation(synthEdges(TableMemo.parquet(spark, s"$sfDir/documents.parquet")))

  /** DuckDB replica of [[docCoCitation]]. */
  def coCitationSql(): String =
    s"""WITH nn AS (SELECT count(*) AS n_docs FROM documents),
       | e AS (SELECT DISTINCT src, dst FROM (
       |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
       | keep AS (SELECT e.src, e.dst FROM e JOIN (
       |     SELECT src, count(*) AS deg FROM e GROUP BY src
       |     HAVING count(*) <= $CoCiteMaxOut) d ON d.src = e.src)
       | SELECT a.dst AS doc_a, b.dst AS doc_b, count(*) AS n_common
       | FROM keep a JOIN keep b ON a.src = b.src AND a.dst < b.dst
       | GROUP BY 1, 2 HAVING count(*) >= $CoCiteMin"""
      .stripMargin.replace("\n", " ")

  /** SALSA (Lempel & Moran, WWW 2000) — HITS with random-walk
    * normalization: each propagation divides a node's score by its degree
    * before summing, so scores spread as a walk alternating link
    * directions rather than as raw sums. The practical delta vs [[hits]]:
    * HITS lets one tightly-knit community absorb ALL the mass (the TKC
    * effect — a dense nav ring outranks genuinely authoritative pages);
    * SALSA's degree division caps what any single mega-hub can inject, so
    * it is the link-spam-resistant variant (the form used for Twitter
    * who-to-follow). The same integer discipline as [[hits]]: per-edge
    * contribution is BIGINT floor-division score div degree, per-round
    * rescale is floor(raw * Scale / total) — no float op anywhere.
    *
    * Shape per round (x2 for the two sides): one equi-join of the score
    * vector against the degree-annotated edge list + one
    * map-side-combinable groupBy + a broadcast-one-row scalar rescale.
    * The edge list is annotated with BOTH degrees and materialized once;
    * nothing driver-side. */
  def salsa(nodes: DataFrame, edges: DataFrame, iters: Int = 3): DataFrame = {
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("odeg"))
    val indeg = edges.groupBy("dst").agg(count(lit(1)).as("ideg"))
    val e = edges.join(outdeg, "src").join(indeg, "dst").localCheckpoint(false)
    val n = nodes.select("doc_id")
    var hub = n.select(col("doc_id"), lit(Scale).as("h"))
    var auth = n.select(col("doc_id"), lit(Scale).as("a"))
    for (_ <- 1 to iters) {
      val araw = e.join(hub, e("src") === hub("doc_id"))
        .select(col("dst"), expr("h div odeg").as("c"))
        .groupBy("dst").agg(sum("c").as("raw"))
      auth = normalizeL1(n, araw.withColumnRenamed("dst", "doc_id"), "a")
      val hraw = e.join(auth, e("dst") === auth("doc_id"))
        .select(col("src"), expr("a div ideg").as("c"))
        .groupBy("src").agg(sum("c").as("raw"))
      hub = normalizeL1(n, hraw.withColumnRenamed("src", "doc_id"), "h")
    }
    hub.join(auth, "doc_id").select("doc_id", "h", "a")
  }

  /** q150 entry: SALSA over the synthetic link graph of `documents`. */
  def docSalsa(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    salsa(docs.select("doc_id"), synthEdges(docs), iters)
  }

  /** DuckDB replica of [[docSalsa]]: same edges, same degree-divided
    * integer walk, same L1 rescale per round. */
  def salsaSql(iters: Int = 3): String = {
    val base =
      s"""nodes AS (SELECT doc_id FROM documents),
         | nn AS (SELECT count(*) AS n_docs FROM documents),
         | e0 AS (SELECT DISTINCT src, dst FROM (
         |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
         |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
         |   WHERE j.j <= 2 + d.doc_id % 3) WHERE src <> dst),
         | e AS (SELECT e0.src, e0.dst, od.odeg, id.ideg FROM e0
         |   JOIN (SELECT src, count(*) AS odeg FROM e0 GROUP BY src) od ON od.src = e0.src
         |   JOIN (SELECT dst, count(*) AS ideg FROM e0 GROUP BY dst) id ON id.dst = e0.dst),
         | h0 AS (SELECT doc_id, CAST($Scale AS BIGINT) AS h FROM nodes),
         | a0 AS (SELECT doc_id, CAST($Scale AS BIGINT) AS a FROM nodes)"""
    val rounds = (1 to iters).map { k =>
      s"""ar$k AS (SELECT e.dst AS doc_id, CAST(sum(p.h // e.odeg) AS BIGINT) AS raw
         |   FROM h${k - 1} p JOIN e ON e.src = p.doc_id GROUP BY 1),
         | a$k AS (SELECT n.doc_id, CAST(
         |   COALESCE(ar.raw * $Scale // (SELECT CAST(sum(raw) AS BIGINT) FROM ar$k), 0)
         |   AS BIGINT) AS a
         |   FROM nodes n LEFT JOIN ar$k ar ON ar.doc_id = n.doc_id),
         | hr$k AS (SELECT e.src AS doc_id, CAST(sum(p.a // e.ideg) AS BIGINT) AS raw
         |   FROM a$k p JOIN e ON e.dst = p.doc_id GROUP BY 1),
         | h$k AS (SELECT n.doc_id, CAST(
         |   COALESCE(hr.raw * $Scale // (SELECT CAST(sum(raw) AS BIGINT) FROM hr$k), 0)
         |   AS BIGINT) AS h
         |   FROM nodes n LEFT JOIN hr$k hr ON hr.doc_id = n.doc_id)"""
    }
    (Seq("WITH " + base) ++ rounds).mkString(", ")
      .stripMargin.replace("\n", " ") +
      s" SELECT h.doc_id, h.h, a.a FROM h$iters h JOIN a$iters a USING (doc_id)"
  }

  /** Bow-tie radius cap (matches [[BfsMaxHops]] semantics). */
  val BowTieHops = 6

  /** Bow-tie decomposition (Broder et al., WWW 2000) — THE published
    * macro-structure of the web graph: relative to a pivot inside the
    * giant strongly-connected component, every page is CORE (reaches the
    * pivot AND is reached by it — the SCC), IN (reaches it only — new
    * pages linking into the web), OUT (reached only — link sinks like
    * per-item pages), or OTHER (tendrils/tubes/disconnected). The
    * radius-capped variant: reach = within `maxHops`, which keeps the
    * classification deterministic and oracle-replicable (an uncapped SCC
    * needs a full transitive closure).
    *
    * Scale shape: two [[bfsHops]] runs — forward from the pivot and
    * forward over the REVERSED edge list (= backward reach) — then one
    * node-keyed join and a row-local CASE. BFS is the canonical
    * frontier ⋈ edges per-round plan; the classification adds no new
    * exchange beyond the final join. */
  def bowTie(nodes: DataFrame, edges: DataFrame, pivot: DataFrame,
             maxHops: Int = BowTieHops): DataFrame = {
    val fwd = bfsHops(nodes, edges, pivot, maxHops)
      .select(col("doc_id"), (col("hop") >= 0).as("f"))
    val bwd = bfsHops(nodes,
      edges.select(col("dst").as("src"), col("src").as("dst")), pivot, maxHops)
      .select(col("doc_id"), (col("hop") >= 0).as("b"))
    fwd.join(bwd, "doc_id").select(col("doc_id"),
      when(col("f") && col("b"), "core")
        .when(col("b"), "in").when(col("f"), "out")
        .otherwise("other").as("cls"))
  }

  /** q153 entry: bow-tie classes over a deterministic sparsification of
    * the synthetic link graph (keep edges with (src+dst) % 3 == 0, avg
    * out-degree ~1.3), pivot = page 0. The full deg-4 k-out graph
    * saturates within the hop cap (ball(h) ~ 4^h swallows the whole
    * graph ⇒ everything "core"); the sparse subgraph exposes all four
    * regions, which is what the operator exists to measure. */
  def docBowTie(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TableMemo.parquet(spark, s"$sfDir/documents.parquet")
    bowTie(docs.select("doc_id"),
      synthEdges(docs).filter((col("src") + col("dst")) % 3 === 0),
      docs.filter(col("doc_id") === 0L).select("doc_id"))
  }

  /** DuckDB replica of [[docBowTie]]: two capped recursive closures
    * (forward / reversed) + the same CASE. */
  def bowTieSql(maxHops: Int = BowTieHops): String =
    s"""WITH RECURSIVE nn AS (SELECT count(*) AS n_docs FROM documents),
       | e AS (SELECT DISTINCT src, dst FROM (
       |   SELECT d.doc_id AS src, (d.doc_id * 31 + j.j * 17 + 7) % nn.n_docs AS dst
       |   FROM documents d, nn, (SELECT unnest(range(6)) AS j) j
       |   WHERE j.j <= 2 + d.doc_id % 3)
       |   WHERE src <> dst AND (src + dst) % 3 = 0),
       | rf(v, d) AS (SELECT CAST(0 AS BIGINT), 0
       |   UNION SELECT e.dst, rf.d + 1 FROM rf JOIN e ON e.src = rf.v
       |   WHERE rf.d < $maxHops),
       | rb(v, d) AS (SELECT CAST(0 AS BIGINT), 0
       |   UNION SELECT e.src, rb.d + 1 FROM rb JOIN e ON e.dst = rb.v
       |   WHERE rb.d < $maxHops),
       | f AS (SELECT DISTINCT v FROM rf), b AS (SELECT DISTINCT v FROM rb)
       | SELECT n.doc_id, CASE
       |   WHEN f.v IS NOT NULL AND b.v IS NOT NULL THEN 'core'
       |   WHEN b.v IS NOT NULL THEN 'in'
       |   WHEN f.v IS NOT NULL THEN 'out'
       |   ELSE 'other' END AS cls
       | FROM documents n LEFT JOIN f ON f.v = n.doc_id
       |   LEFT JOIN b ON b.v = n.doc_id"""
      .stripMargin.replace("\n", " ")
}
