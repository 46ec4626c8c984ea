package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Training-data deduplication suite over the `documents` table: exact
  * (hash groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket join),
  * SimHash, and n-gram Jaccard. All are shuffle-on-key group-bys/joins
  * with map-side partial aggregation — the 100 TB shape: no driver
  * collection, no cross joins; candidate generation is always via an
  * equi-join on a bucket/shingle key.
  *
  * Two token-id schemes:
  *  - oracle-parity: token id = rank of token in the sorted distinct vocab
  *    (expressible in DuckDB SQL, exact integer arithmetic end-to-end);
  *  - production: `xxhash64(token)` (no global dictionary; the scale path —
  *    [[minhashPairsProd]] exercises it, rows-only checked).
  */
object Dedup {

  /** Corpus with planted exact duplicates: every doc_id % 3 == 0 document
    * is mirrored at doc_id + 1000000 (documents themselves are unique). */
  def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TableMemo.parquet(spark, s"$sfDir/documents.parquet").select("doc_id", "text")
    d.unionAll(d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }
  val corpusSql =
    "(SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0)"

  /** Corpus with planted QUOTE docs for [[containmentPairs]]: every
    * doc_id % 5 == 0 document also appears at +2000000 truncated to its
    * first max(3, 2·len div 5) tokens — a short doc fully CONTAINED in
    * the original (containment 1.0) whose Jaccard is only ~0.4 (the
    * union is dominated by the original), i.e. invisible to the q23
    * near-dup test by construction. */
  def quoteCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TableMemo.parquet(spark, s"$sfDir/documents.parquet").select("doc_id", "text")
    val quotes = d.filter(col("doc_id") % 5 === 0)
      .withColumn("a", filter(split(col("text"), " "), t => t =!= ""))
      .select((col("doc_id") + 2000000).as("doc_id"),
        array_join(slice(col("a"), lit(1),
          greatest(lit(3), expr("(2 * size(a)) div 5"))), " ").as("text"))
    d.unionAll(quotes)
  }
  val quoteCorpusSql =
    """(SELECT doc_id, text FROM documents UNION ALL
      | SELECT doc_id + 2000000 AS doc_id,
      |   array_to_string(a[1:greatest(3, (2 * len(a)) // 5)], ' ') AS text
      | FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
      |   FROM documents) WHERE doc_id % 5 = 0)"""
      .stripMargin.replace("\n", " ")

  /** Exact dedup: one row per distinct text; keep lowest doc_id. */
  def exact(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distributed dense ids: key -> 1-based rank in GLOBAL sorted order,
    * computed without a single-partition window (the scale-killer at a
    * 10^9-entry vocabulary). Two phases: range-partition + sort-within the
    * distinct keys (each partition sorts only its key range), then assign
    * contiguous ids from per-partition counts + cumulative offsets
    * (zipWithIndex). Identical ids to `row_number() OVER (ORDER BY key)`,
    * so the DuckDB oracle SQL is unchanged. */
  def denseIds(keys: DataFrame, key: String): DataFrame = {
    val spark = keys.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val sorted = keys.select(key).distinct()
      .repartitionByRange(n, col(key)).sortWithinPartitions(key)
    val indexed = sorted.rdd
      .map(_.getString(0))
      .zipWithIndex().map { case (k, i) => (k, i + 1) }
    // localCheckpoint: the dictionary materializes ONCE (an un-cached RDD
    // would replay distinct+sort+zipWithIndex per consumer); lazy (r6) so
    // the count below is the materializing action instead of a separate
    // checkpoint job
    val df = spark.createDataFrame(indexed).toDF(key, "tid").localCheckpoint(false)
    // The id join's probe side is the exploded (doc, token) stream — the
    // widest intermediate of the whole dedup suite. A dictionary that fits
    // an executor broadcasts (the stream never enters an exchange; without
    // the hint Catalyst can't pick it — an RDD-backed plan has no size
    // stats, so it defaults to Long.Max and always shuffle-joins). Past
    // the limit it falls back to the shuffle join: a 10^9-entry vocabulary
    // is not a dim and must range-partition.
    if (df.count() <= BroadcastVocabLimit) broadcast(df) else df
  }

  /** Max dictionary entries to broadcast in [[denseIds]] (~100 MB of short
    * token strings — well under the executor broadcast comfort zone). */
  val BroadcastVocabLimit: Long = 2000000L

  /** Oracle-parity vocab: tok -> dense 1-based rank in sorted order. */
  def vocab(tokens: DataFrame): DataFrame = denseIds(tokens, "tok")

  // MinHash parameters: H hashes in B bands of R rows; h_i(t) = (A_i*t + B_i) mod P.
  // Multipliers must be of order P so products wrap — with small A_i every
  // h_i is monotone in t and all 12 signatures collapse to min(t).
  val P = 2147483647L
  val HashA: Array[Long] = Array.tabulate(12)(i => ((i + 11) * 2654435761L) % P)
  val HashB: Array[Long] = Array.tabulate(12)(i => ((i + 5) * 1299709L) % P)
  val NumHashes = 12
  val Bands = 3
  val RowsPerBand = 4

  /** Default heavy-hitter caps — ON by default (round-2 review: the
    * uncapped forms are not the queries to run at 100 TB; one degenerate
    * bucket/shingle shared by n docs emits n(n-1)/2 join rows). The caps
    * are mirrored in the DuckDB oracle SQL ([[graft.Oracles]]) so the
    * capped defaults are themselves hash-verified, not just the uncapped
    * parity forms. */
  val MaxBucketDefault = 1000
  val MaxShingleFreqDefault = 1000

  /** LSH band-key structs (band, bkey) over signature columns m0..m11 —
    * ONE definition shared by the batch bucket join and the streaming band
    * explode: stream-vs-batch pair parity depends on byte-identical keys. */
  private[graft] def bandKeyStructs: Seq[Column] = (0 until Bands).map { b =>
    val key = concat_ws("_",
      (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}").cast("string")): _*)
    struct(lit(b).as("band"), key.as("bkey"))
  }

  private def minhashSig(tokenIds: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map(i =>
      min((col("tid") * HashA(i) + HashB(i)) % P).as(s"m$i"))
    tokenIds.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  private[ops] def bandPairs(sigs0: DataFrame, maxBucket: Option[Int] = None): DataFrame = {
    // one explode, NOT a union of per-band selects: Catalyst does not share
    // common subtrees across union branches, so the union form re-derived
    // the whole corpus->shingle->vocab->sig pipeline once per band.
    // The sig table (ONE row per doc, 12 longs) is materialized first: the
    // bucket self-join otherwise recomputes the whole corpus->shingle->
    // vocab->sig pipeline on BOTH sides (measured: zero ReusedExchange in
    // the executed plan, 2x wall time).
    val sigs = sigs0.localCheckpoint(false)
    val all = sigs
      .select(col("doc_id"), explode(array(bandKeyStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // heavy-hitter guard: a bucket of n docs emits n(n-1)/2 pairs — one hot
    // bucket (boilerplate band key) can dominate the whole job at 100 TB.
    // Cap = drop oversized buckets (they are near-useless for near-dup
    // anyway: hot buckets are degenerate/boilerplate signatures).
    val buckets = maxBucket match {
      case None => all // uncapped self-join: identical subtrees -> ReusedExchange
      case Some(cap) =>
        val counts = all.groupBy("band", "bkey").agg(count(lit(1)).as("bsz"))
        // materialize the capped bucket table ONCE: the self-join's two
        // sides would otherwise each re-run the count+join (measured ~2x
        // on the bench after the caps became the default)
        all.join(counts.filter(col("bsz") <= cap).drop("bsz"), Seq("band", "bkey"))
          .localCheckpoint(false)
    }
    val a = buckets.as("a"); val bb = buckets.as("b")
    a.join(bb, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
      && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
  }

  /** (doc_id, sh) — distinct word 3-shingles. Shingling (not unigrams) is
    * what makes MinHash discriminative: the synthetic corpus has a ~31-word
    * vocab, so unigram signatures would collide for nearly every pair. */
  /** Word-3-shingle array column (with duplicates) for a text column. */
  private[graft] def shingleArr: Column = {
    val arr = filter(split(col("text"), " "), t => t =!= "")
    // guard: Spark sequence(0, n) is DESCENDING for n < 0 — short docs get no shingles
    when(size(arr) >= 3,
      transform(sequence(lit(0), size(arr) - 3), i => concat_ws(" ", slice(arr, i + 1, lit(3)))))
      .otherwise(array().cast("array<string>"))
  }

  def shingled(corpus: DataFrame): DataFrame =
    // per-doc-distinct shingles computed INSIDE the row (native
    // `word_shingles`): (doc_id, sh) rows are globally distinct by
    // construction (doc_id is in every row), so the old global
    // `.distinct()` — a full shuffle of the widest string stream in the
    // dedup suite, deduping only within-document repeats — is gone. This
    // stage is now a narrow, exchange-free projection.
    corpus.select(col("doc_id"), explode(MinhashExpressions.distinctShingles(col("text"))).as("sh"))

  /** Hashed shingle ids in exploded form — the reference implementation
    * the row-local [[minhashSigProd]] is spec-checked against (bit-equal
    * signatures), kept for that parity test and for callers that need the
    * (doc, tid) stream itself. Hashes BEFORE the dedup shuffle so the
    * distinct runs on 16-byte (long, long) rows instead of shingle
    * strings; collisions are accepted by this path by definition. */
  def shingledHashedIds(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), explode(shingleArr).as("sh"))
      .select(col("doc_id"), pmod(xxhash64(col("sh")), lit(P)).as("tid"))
      .distinct()

  /** Oracle-parity shingle ids: sh -> dense 1-based rank in sorted order. */
  def shVocab(sh: DataFrame): DataFrame = denseIds(sh, "sh")

  /** Row-local production signature m0..m11: min_i over the doc's shingles
    * of `(xxhash64(sh) mod P * A_i + B_i) mod P`, computed INSIDE the row
    * by the native [[MinhashExpressions.minhashSig]] kernel — no explode, no distinct
    * shuffle, no groupBy shuffle, no per-shingle allocation. min over the
    * shingle stream WITH duplicates == min over distinct shingles (min is
    * duplicate-insensitive), so this is bit-identical to
    * `minhashSig(shingledHashedIds(corpus))` (spec-pinned). At 100 TB the
    * exploded (doc, shingle) stream is the widest intermediate of the whole
    * pipeline; this never materializes it.
    *
    * Two projections on purpose: the one-pass signature array is computed
    * under an alias and the 12 m_i columns are cheap `element_at` picks —
    * CollapseProject never inlines a non-cheap alias referenced by many
    * consumers, so the expression runs once per row.
    *
    * ONE definition shared by the batch prod path ([[minhashPairsProd]])
    * and the streaming path ([[graft.streaming.StreamDedup.bandKeys]]) —
    * stream-vs-batch signature parity is true by construction.
    *
    * @param keep passthrough columns of `docs` (e.g. doc_id, ts); docs with
    *   no shingles (< 3 tokens) are dropped (batch parity). */
  private[graft] def withProdSig(docs: DataFrame, keep: Seq[Column]): DataFrame = {
    val sigs = (0 until NumHashes).map(i => element_at(col("__sig"), i + 1).as(s"m$i"))
    docs.select(keep :+ MinhashExpressions.minhashSig(col("text")).as("__sig"): _*)
      .select(keep ++ sigs: _*)
      .filter(col("m0").isNotNull) // < 3 tokens -> no shingles -> null sig
  }

  /** One row per doc with >= 1 shingle: (doc_id, m0..m11), row-local. */
  def minhashSigProd(corpus: DataFrame): DataFrame =
    withProdSig(corpus, Seq(col("doc_id")))

  /** MinHash-LSH candidate pairs over 3-shingles, oracle-parity ids.
    * Heavy-hitter bucket cap defaults ON ([[MaxBucketDefault]]); pass
    * `maxBucket = None` for the uncapped form (quadratic in the hottest
    * bucket — only for small-corpus exact comparisons). */
  def minhashPairs(corpus: DataFrame,
                   maxBucket: Option[Int] = Some(MaxBucketDefault)): DataFrame = {
    // the shingle frame feeds BOTH the vocab build and the join probe;
    // Catalyst does not share the common subtree across the self-reference,
    // so materialize it once (lazy local checkpoint) instead of running the
    // corpus->explode->distinct derivation twice
    val sh = shingled(corpus).localCheckpoint(false)
    bandPairs(minhashSig(sh.join(shVocab(sh), "sh").select("doc_id", "tid")),
      maxBucket)
  }

  /** Production variant: shingle id = xxhash64(sh) mod P, no global
    * dictionary, heavy-hitter bucket cap on — the 100 TB path (rows-only
    * checked; [[minhashPairs]]/q21 differ only in the id dictionary — both
    * run capped by default, and q21's oracle SQL mirrors the cap).
    * Signatures are row-local ([[minhashSigProd]]): the only shuffles left
    * are the bucket-cap count and the bucket self-join. */
  def minhashPairsProd(corpus: DataFrame, maxBucket: Int = 1000): DataFrame =
    bandPairs(minhashSigProd(corpus), Some(maxBucket))

  // SimHash: 16 planes; plane j contribution of a token = +1 if
  // (tid*PA_j + PB_j) mod P < P/2 else -1 (threshold, NOT parity: the
  // parity of an affine function is itself affine and degenerates);
  // bit_j = 1 iff the sum over distinct tokens > 0.
  val Planes = 16
  val PlaneA: Array[Long] = Array.tabulate(Planes)(j => ((j + 7) * 1234567891L) % P)
  val PlaneB: Array[Long] = Array.tabulate(Planes)(j => ((j + 3) * 987654321L) % P)
  val HalfP: Long = P / 2

  def simhash(corpus: DataFrame): DataFrame = {
    // same shared-subtree materialization as minhashPairs: toks feeds both
    // the vocab build and the join probe
    // per-doc-distinct tokens row-locally (native `word_shingles` n=1): same
    // rows as tokens().distinct() with no dedup shuffle
    val toks = corpus.select(col("doc_id"),
      explode(MinhashExpressions.distinctShingles(col("text"), 1)).as("tok"))
      .localCheckpoint(false)
    val withTid = toks.join(vocab(toks), "tok").select("doc_id", "tid")
    val sums = (0 until Planes).map(j =>
      sum(when((col("tid") * PlaneA(j) + PlaneB(j)) % P < HalfP, 1L).otherwise(-1L)).as(s"s$j"))
    val agg = withTid.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val bits = (0 until Planes).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    agg.select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  /** Connected components over near-dup pairs — the step a dedup pipeline
    * needs AFTER pair generation: group transitively-linked docs into one
    * cluster and pick a canonical keeper (the min doc_id) per cluster.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — converges
    * in O(log^2 n) rounds on ANY graph shape (a naive min-label
    * propagation needs O(diameter) rounds; dedup chains a->b->c->... make
    * that unbounded). Every round is a groupBy + join (shuffle-on-key,
    * map-side combinable); the driver loop carries only a convergence
    * checksum, never rows. `localCheckpoint` truncates the growing
    * lineage each round (on a real cluster use a reliable checkpoint dir).
    *
    * Output: (doc_id, component) for every doc that appears in a pair;
    * component = min doc_id reachable. */
  /** Driver-side union-find finish for a small edge set: same output
    * contract as the converged star rounds (one row per vertex, component
    * = min id; union-by-min keeps the smaller root, so the final root IS
    * the component minimum). */
  private def localComponents(spark: SparkSession, edges: Array[Long]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < edges.length) {
      val ru = find(edges(i)); val rv = find(edges(i + 1))
      if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      i += 2
    }
    val rows = edges.distinct.map(v => (v, find(v))).toSeq
    spark.createDataFrame(rows).toDF("doc_id", "component")
  }

  /** Collect an (u, v) edge frame to the driver as ONE flat primitive
    * long[] (u at 2i, v at 2i+1) — 16 bytes/edge instead of a boxed
    * GenericRow + two boxed Longs (~80+ bytes/edge): at the 4M-edge
    * [[graft.ops.StDbscan]] threshold that is ~64 MB of transient driver
    * heap, not several hundred (ADVICE r5). Reads InternalRow buffers
    * directly; per-partition arrays concatenated on the driver. */
  private def collectEdgesPacked(e: DataFrame): Array[Long] = {
    val chunks = e.queryExecution.toRdd.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { row => buf += row.getLong(0) += row.getLong(1) }
      Iterator.single(buf.result())
    }.collect()
    val out = new Array[Long](chunks.iterator.map(_.length).sum)
    var off = 0
    chunks.foreach { c => System.arraycopy(c, 0, out, off, c.length); off += c.length }
    out
  }

  /** @param localThreshold once the (monotonically shrinking) star edge set
    *   fits under this many edges, finish with a driver-side union-find
    *   instead of more distributed rounds — each remaining round would be
    *   several near-empty shuffle jobs whose fixed cost dwarfs the work
    *   (the same small-graph cutoff GraphFrames' CC uses). 500k edges is
    *   ~8 MB collected. Pass 0 to force pure distributed rounds. */
  def components(pairs: DataFrame, maxIter: Int = 50,
                 localThreshold: Long = 500000): DataFrame = {
    // large-star: every neighbor v > u links to m = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mn = sym.groupBy("u").agg(min(col("v")).as("mn"))
      sym.join(mn, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
        .distinct()
    }
    // small-star: direct edges large->small; all smaller neighbors and the
    // node itself link to m = min(N(u) ∪ {u}) (= min neighbor, all < u)
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mn = dir.groupBy("u").agg(min(col("v")).as("mn"))
      dir.join(mn, "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .unionAll(mn.select(col("u"), col("mn").as("v")))
        .distinct()
    }
    val raw = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v")).localCheckpoint(false)
    // fast path: if the raw (pre-distinct) edge multiset already fits under
    // the local threshold, collect it directly — union-find dedups repeats
    // for free, so the distinct exchange, its checkpoint write, and the
    // checksum aggregate are all skipped. Raw count >= distinct count, so
    // this is conservative; a graph that misses here only because of
    // duplicate edges still reaches the loop's post-distinct check below.
    if (localThreshold > 0 && raw.count() <= localThreshold)
      return localComponents(pairs.sparkSession, collectEdgesPacked(raw))
    var e = raw.distinct().localCheckpoint(false)
    // order-independent, overflow-free (ANSI mode) edge-set fingerprint
    def checksum(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = checksum(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // the edge set is checkpointed, so the count/collect reads blocks
      if (prev._1 <= localThreshold)
        return localComponents(pairs.sparkSession, collectEdgesPacked(e))
      e = smallStar(largeStar(e)).localCheckpoint(false)
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      it += 1
    }
    // converged edge set = stars centered at each component's min id:
    // members point at the center; the center labels itself
    val members = e.select(col("u").as("doc_id"), col("v").as("component"))
    val centers = e.select(col("v").as("doc_id")).distinct()
      .join(e.select(col("u").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"))
    members.unionAll(centers)
  }

  /** Word 3-shingle Jaccard near-dup pairs: kept iff Jaccard >= 0.5,
    * tested as exact integers (2*inter >= union).
    *
    * Plan: AllPairs/PPJoin-style PREFIX FILTERING (Bayardo et al., WWW'07;
    * Chaudhuri et al., ICDE'06) instead of the naive full inverted-index
    * self-join. Each doc's shingles are ranked rarest-first by the total
    * order (df, tid); only the first floor(nsh/2)+1 (the Jaccard-1/2
    * prefix) enter the candidate self-join. Soundness for a qualifying
    * pair (na <= nb wlog): J >= 1/2 forces overlap o >= ceil((na+nb)/3)
    * >= ceil(nb/2) = alpha, and the prefix lemma (if |x ∩ y| >= alpha,
    * the (|x|-alpha+1)-prefixes intersect) applies since both kept
    * prefixes are at least that long — so no qualifying pair is missed,
    * and the exact verify discards every false candidate. Candidates are
    * then verified row-locally: each doc's full sorted tid array is
    * joined back and inter = |array_intersect| — exact.
    *
    * Why: the r4-flagged profile showed the naive plan's cost was the
    * 2M-distinct-group pair aggregate (the join itself was 0.33 s; no
    * skew — max df 34); the prefix filter cuts candidate instances ~4x
    * (2.33M -> 0.60M at sf0.1) BEFORE any aggregate, and the verify side
    * moves the intersection count from a shuffle aggregate into row-local
    * array math. At 100 TB the same 4x applies to the candidate shuffle,
    * the dominant stream.
    *
    * @param maxShingleFreq heavy-hitter guard: shingles appearing in more
    *   than this many docs are dropped from candidate generation (they make
    *   the inverted-index join quadratic in-bucket and carry ~no Jaccard
    *   signal). Defaults ON
    *   ([[MaxShingleFreqDefault]], mirrored in the oracle SQL); pass None
    *   for the uncapped form. */
  def jaccardPairs(corpus: DataFrame,
                   maxShingleFreq: Option[Int] = Some(MaxShingleFreqDefault)): DataFrame = {
    val ranked = rankedShingles(corpus, maxShingleFreq)
    val pref = ranked.filter(col("rn") <= expr("nsh DIV 2 + 1"))
      .select("doc_id", "tid", "nsh")
    val a = pref.as("a"); val b = pref.as("b")
    // size filter in the join: J >= 1/2 is impossible past a 2x size ratio
    val cand = a.join(b, col("a.tid") === col("b.tid")
        && col("a.doc_id") < col("b.doc_id")
        && greatest(col("a.nsh"), col("b.nsh")) <= lit(2) * least(col("a.nsh"), col("b.nsh")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .distinct()
    val arrs = ranked.groupBy("doc_id").agg(sort_array(collect_list("tid")).as("arr"))
    cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("arr").as("arr_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("arr").as("arr_b")), "doc_b")
      .withColumn("inter",
        VectorExpressions.sortedInterCount(col("arr_a"), col("arr_b")))
      .filter(col("inter") * 2 >= col("na") + col("nb") - col("inter"))
      .select("doc_a", "doc_b", "inter", "na", "nb")
  }

  /** Shared build for [[jaccardPairs]] / [[containmentPairs]]: per-doc
    * shingles as dense tids ranked rarest-first by (df, tid) with the doc
    * size, df-capped. One (doc_id)-keyed exchange; the df table is
    * vocab-sized — broadcast, mirroring denseIds. tid is the alphabetical
    * rank of sh, so (df, tid) is a total order. */
  private def rankedShingles(corpus: DataFrame,
                             maxShingleFreq: Option[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allSh = shingled(corpus).localCheckpoint(false)
    // dense ids: exact long equality for ranking and intersection (xxhash
    // would not be exact); the dictionary broadcasts below the vocab limit
    val shid = allSh.join(shVocab(allSh), "sh").select("doc_id", "tid")
    val freq = shid.groupBy("tid").agg(count(lit(1)).as("sh_df"))
    val fkept = maxShingleFreq match {
      case None => freq
      case Some(cap) => freq.filter(col("sh_df") <= cap)
    }
    val w = Window.partitionBy("doc_id").orderBy("sh_df", "tid")
    shid.join(broadcast(fkept), Seq("tid"))
      .withColumn("rn", row_number().over(w))
      .withColumn("nsh", count(lit(1)).over(Window.partitionBy("doc_id")))
      .localCheckpoint(false) // feeds the prefix join AND the array build
  }

  /** Asymmetric shingle CONTAINMENT pairs — wrapper/quote-inclusion
    * detection: the smaller doc's shingles are >= 80% inside the larger
    * (5·inter >= 4·na, exact integers) while the pair is NOT a Jaccard-1/2
    * near-dup (2·inter < na + nb − inter) — i.e. exactly the
    * boilerplate-wrapped copies and long quotes that [[jaccardPairs]]'
    * symmetric test misses, because a big wrapper dilutes the union.
    *
    * Plan: the asymmetric form of the q23 prefix filter. The probe side
    * keeps each doc's (nsh − ceil(0.8·nsh) + 1) rarest-first prefix (the
    * prefix lemma bound for required overlap ceil(0.8·na)); the INDEX
    * side must stay full — as the larger element of a pair a doc's
    * required overlap is a fraction of the OTHER doc's size, which is
    * unbounded below — so candidates are prefix ⋈ full-postings with the
    * (size, id) orientation in the join condition. No size-ratio cap (a
    * 10x wrapper is the target, not noise); the df heavy-hitter cap is
    * the same oracle-mirrored semantics guard as q23. Verify is the same
    * row-local sorted-merge intersection. */
  def containmentPairs(corpus: DataFrame,
                       maxShingleFreq: Option[Int] = Some(MaxShingleFreqDefault)): DataFrame = {
    val ranked = rankedShingles(corpus, maxShingleFreq)
    // prefix length n − ceil(0.8 n) + 1, ceil(0.8 n) = (4n + 4) div 5
    val pref = ranked.filter(col("rn") <= col("nsh") - expr("(4 * nsh + 4) DIV 5") + 1)
      .select("doc_id", "tid", "nsh")
    val full = ranked.select("doc_id", "tid", "nsh")
    val cand = pref.as("a").join(full.as("b"), col("a.tid") === col("b.tid")
        && (col("a.nsh") < col("b.nsh")
          || (col("a.nsh") === col("b.nsh") && col("a.doc_id") < col("b.doc_id"))))
      .select(col("a.doc_id").as("doc_small"), col("b.doc_id").as("doc_big"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .distinct()
    val arrs = ranked.groupBy("doc_id").agg(sort_array(collect_list("tid")).as("arr"))
    cand
      .join(arrs.select(col("doc_id").as("doc_small"), col("arr").as("arr_a")), "doc_small")
      .join(arrs.select(col("doc_id").as("doc_big"), col("arr").as("arr_b")), "doc_big")
      .withColumn("inter",
        VectorExpressions.sortedInterCount(col("arr_a"), col("arr_b")))
      .filter(col("inter") * 5 >= col("na") * 4)
      .filter(col("inter") * 2 < col("na") + col("nb") - col("inter"))
      .select("doc_small", "doc_big", "inter", "na", "nb")
  }
}
