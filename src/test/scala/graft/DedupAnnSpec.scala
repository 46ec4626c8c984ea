package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Ann, Dedup, NgramExpressions, TextStats}

class DedupAnnSpec extends AnyFunSuite with SparkTest {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id") {
    import spark.implicits._
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val out = Dedup.exact(d).as[(String, Long, Long)].collect().sortBy(_._2)
    assert(out.map(r => (r._2, r._3)).toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash: identical docs always pair; disjoint docs never do") {
    import spark.implicits._
    val base = "the fast key order sort table scan merge part window small hash"
    val other = "customer line value big agg stream spark group query row data slow"
    val d = docs((1L, base), (2L, base), (3L, other))
    val pairs = Dedup.minhashPairs(d).as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
    val prod = Dedup.minhashPairsProd(d).as[(Long, Long)].collect().toSet
    assert(prod === Set((1L, 2L)))
  }

  test("native WordShingles == column-form shingles on edge-case texts") {
    import spark.implicits._
    // multibyte UTF-8, repeated/leading/trailing spaces, exactly-3-token
    // docs, within-doc repeats, and a 2-token doc (no shingles)
    val texts = Seq(
      "héllo wörld ünïcode héllo wörld ünïcode",
      "  a  b   c  ",
      "x y z",
      "a a a a a",
      "one two",
      "日本語 テスト 文字 列 で す")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // old column form: distinct set via explode(shingleArr).distinct
    val oldForm = d.select(col("doc_id"), explode(Dedup.shingleArr).as("sh")).distinct()
      .as[(Long, String)].collect().toSet
    val newForm = Dedup.shingled(d).as[(Long, String)].collect().toSet
    assert(newForm === oldForm)
    // n=1 tokens match split+filter distinct
    val oldToks = d.select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok")).distinct()
      .as[(Long, String)].collect().toSet
    val newToks = d.select(col("doc_id"),
        explode(graft.ops.MinhashExpressions.distinctShingles(col("text"), 1)).as("tok"))
      .as[(Long, String)].collect().toSet
    assert(newToks === oldToks)
  }

  test("property: native shingles + signature match column forms on random texts") {
    import spark.implicits._
    // seeded generator (same idiom as CellGridSpec): random token counts,
    // token lengths, space runs, and codepoints across ASCII + Latin-1 +
    // CJK + astral (surrogate-pair) ranges
    val rnd = new scala.util.Random(1234567)
    val alphabets = Array("abcdef", "äöüßéñ", "日本語中文한국", "🌍🚀✓∑")
    def randTok(): String = {
      val a = alphabets(rnd.nextInt(alphabets.length))
      val cps = a.codePoints().toArray
      (0 until 1 + rnd.nextInt(4)).map(_ => new String(Character.toChars(cps(rnd.nextInt(cps.length))))).mkString
    }
    def randText(): String = {
      val n = rnd.nextInt(8)
      (0 until n).map(_ => randTok()).mkString(" " * (1 + rnd.nextInt(3))) +
        (if (rnd.nextBoolean()) " " else "")
    }
    val d = (0 until 300).map(i => (i.toLong, randText())).toDF("doc_id", "text")
    val oldSh = d.select(col("doc_id"), explode(Dedup.shingleArr).as("sh")).distinct()
      .as[(Long, String)].collect().toSet
    val newSh = Dedup.shingled(d).as[(Long, String)].collect().toSet
    assert(newSh === oldSh)
    val mins = (0 until Dedup.NumHashes).map(i =>
      min((col("tid") * Dedup.HashA(i) + Dedup.HashB(i)) % Dedup.P).as(s"m$i"))
    val oldSig = Dedup.shingledHashedIds(d).groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val newSig = Dedup.minhashSigProd(d)
      .collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(newSig === oldSig)
  }

  test("row-local prod signature == exploded distinct+groupBy signature, bit for bit") {
    import spark.implicits._
    // mixed shapes: duplicates within a doc (idempotent min), exact dup
    // docs, a short doc with zero shingles (must vanish from both forms)
    val d = docs(
      (1L, "a b c a b c a b c"),
      (2L, "the fast key order sort table scan merge part window"),
      (3L, "the fast key order sort table scan merge part window"),
      (4L, "too short"),
      (5L, "x y z w v u t s r q p o n m"))
    val rowLocal = Dedup.minhashSigProd(d)
    // the exploded reference form (what minhashPairsProd computed before the
    // row-local rewrite): distinct (doc, tid) rows then min per hash
    val mins = (0 until Dedup.NumHashes).map(i =>
      min((col("tid") * Dedup.HashA(i) + Dedup.HashB(i)) % Dedup.P).as(s"m$i"))
    val exploded = Dedup.shingledHashedIds(d).groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val a = rowLocal.collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val b = exploded.collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(a.toSeq === b.toSeq)
    assert(rowLocal.filter(col("doc_id") === 4L).isEmpty)
  }

  test("heavy-hitter guard: mega-bucket dropped from LSH candidates, small bucket kept") {
    import spark.implicits._
    // 30 identical docs -> one bucket of 30 per band; 2 similar docs -> small buckets
    val hot = (1L to 30L).map(i => (i, "the fast key order sort table scan merge part"))
    val pair = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"),
                   (101L, "alpha beta gamma delta epsilon zeta eta theta"))
    val d = docs(hot ++ pair: _*)
    // uncapped: 30*29/2 hot pairs + 1
    assert(Dedup.minhashPairsProd(d, maxBucket = 1000).count() === 30L * 29 / 2 + 1)
    // capped at 10: hot bucket dropped, the small pair survives
    val capped = Dedup.minhashPairsProd(d, maxBucket = 10).as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)))
  }

  test("heavy-hitter guard: hot shingles dropped from jaccard candidate gen") {
    import spark.implicits._
    val common = "the quick brown fox jumps over the lazy dog again"
    val hot = (1L to 20L).map(i => (i, common))
    val pair = Seq((100L, "one two three four five six seven"),
                   (101L, "one two three four five six seven"))
    val d = docs(hot ++ pair: _*)
    val capped = Dedup.jaccardPairs(d, maxShingleFreq = Some(10))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)))
    // uncapped still sees the hot block
    assert(Dedup.jaccardPairs(d).count() === 20L * 19 / 2 + 1)
  }

  test("denseIds equals a global sort rank (distributed two-phase path)") {
    import spark.implicits._
    val keys = (0 until 500).map(i => s"k${(i * 37) % 250}%03d") // dups on purpose
    val df = keys.toDF("tok")
    val got = Dedup.denseIds(df, "tok").as[(String, Long)].collect().sortBy(_._2)
    val exp = keys.distinct.sorted.zipWithIndex.map { case (k, i) => (k, i + 1L) }
    assert(got.toSeq === exp.toSeq)
  }

  test("connected components: chain, triangle, 2-cluster, singleton-pair == union-find") {
    import spark.implicits._
    // chain 1-2-3-4-5 (tests O(diameter) hazard), triangle 10-11-12 with a
    // redundant edge, pair 20-21, plus cross-component ordering noise
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L))
    val pairs = edges.toDF("doc_a", "doc_b")
    // force the DISTRIBUTED star rounds (localThreshold = 0)...
    val rows = Dedup.components(pairs, localThreshold = 0).as[(Long, Long)].collect()
    assert(rows.length === rows.toMap.size, "a doc got two component labels")
    val got = rows.toMap
    // ...and the hybrid local finish must agree exactly
    val gotLocal = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(gotLocal === got)
    // brute-force union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got === want)
    assert(got.values.toSet === Set(1L, 10L, 20L))
  }

  test("simhash equal for identical docs, differs for disjoint vocab") {
    import spark.implicits._
    val d = docs((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
    val m = Dedup.simhash(d).as[(Long, Long)].collect().toMap
    assert(m(1L) === m(2L))
    assert(m(1L) !== m(3L))
  }

  test("jaccard pairs: exact integer threshold") {
    import spark.implicits._
    // 1 vs 2: shingle sets differ by one trailing shingle -> J = 3/5 >= 0.5
    val d = docs((1L, "a b c d e"), (2L, "a b c d x"), (3L, "p q r s t"))
    val out = Dedup.jaccardPairs(d).as[(Long, Long, Long, Long, Long)].collect()
    assert(out.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    val r = out.head
    assert(r._3 === 2 && r._4 === 3 && r._5 === 3) // inter=2 of {abc,bcd}, na=nb=3
  }

  test("ANN topK matches brute force on quantized dot") {
    import spark.implicits._
    val vecs = (0L to 19L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j + 1).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Ann.topK(df, k = 3, qmod = 10)
      .as[(Long, Int, Long, Long)].collect().groupBy(_._1)
    // HALF_UP like Spark's round() (math.round differs on negative halves)
    def rnd(x: Double): Long = new java.math.BigDecimal(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val quant = vecs.map { case (i, v) => i -> v.map(x => rnd(x.toDouble * 1000.0)) }.toMap
    for ((q, rows) <- out) {
      val brute = quant.filter(_._1 != q).map { case (c, cv) =>
        val dot = quant(q).zip(cv).map { case (a, b) => a * b }.sum
        (-dot, c)
      }.toSeq.sorted.take(3).map(_._2)
      assert(rows.sortBy(_._2).map(_._3).toSeq === brute, s"query $q")
    }
  }

  test("blocked topK == brute-force topK; plan is an equi-join, no BNLJ") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val brute = Ann.topK(emb, k = 5, qmod = 20)
      .as[(Long, Long, Long, Long)].collect().toSet
    val blockedDf = Ann.topKBlocked(emb, k = 5, qmod = 20)
    val blocked = blockedDf.as[(Long, Long, Long, Long)].collect().toSet
    assert(blocked === brute)
    val plan = blockedDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan has BNLJ:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"partial top-k agg missing:\n$plan")
  }

  test("cosine topK (double scores through the bounded heap) == brute force; no BNLJ") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val df = Ann.cosineTopK(emb, k = 5, qmod = 20)
    val got = df.as[(Long, Long, Long)].collect().groupBy(_._1)
    // driver-side brute force with the SAME left-to-right IEEE fold order
    // as VectorExpressions.doubleDot
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .map { case (i, v) => i -> v.map(_.toDouble) }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val norms = vecs.map { case (i, v) => i -> math.sqrt(dot(v, v)) }
    assert(got.nonEmpty)
    for ((q, rows) <- got) {
      val brute = vecs.keys.filter(c => c != q && norms(c) > 0).map { c =>
        val cos = dot(vecs(q), vecs(c)) / (norms(q) * norms(c))
        (-cos, c)
      }.toSeq.sorted.take(5).map(_._2)
      assert(rows.sortBy(_._2).map(_._3).toSeq === brute, s"query $q")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan has BNLJ:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"partial top-k agg missing:\n$plan")
  }

  test("TopKByScore double-score ordering: sortable-bits bijection total order") {
    import spark.implicits._
    // scores straddling sign, magnitude, and -0.0/+0.0
    val rows = Seq(
      (1L, 10L, -1.5), (1L, 11L, -0.0), (1L, 12L, 0.0), (1L, 13L, 2.25),
      (1L, 14L, -2.5), (1L, 15L, 1e-300), (1L, 16L, -1e-300), (1L, 17L, 2.25))
    val df = rows.toDF("g", "id", "s").groupBy("g")
      .agg(graft.ops.TopKByScore(col("s"), col("id"), 5).as("topk"))
      .select(posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("e.nn_id"), col("e.score")).as[(Long, Double)].collect().toSeq
    // expected: score desc, id asc; 2.25 tie -> ids 13 then 17; the bit
    // bijection orders +0.0 just above -0.0 (same as java.lang.Double.compare)
    assert(df === Seq((13L, 2.25), (17L, 2.25), (15L, 1e-300), (12L, 0.0), (11L, -0.0)))
    assert(df.map(_._2).zip(df.map(_._2).drop(1)).forall { case (a, b) => a >= b })
  }

  test("multiprobe LSH topK: planted duplicate is ALWAYS rank 1; plan is equi-join") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val corpus = Ann.corpus(emb) // vec_id % 5 == 0 mirrored at +1000000
    val df = Ann.topKLsh(corpus, k = 3, qmod = 10) // queries all have a mirror
    val top1 = df.filter(col("rank") === 1)
      .select("query_id", "nn_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty)
    // identical vector => identical bucket => always a candidate => max dot
    top1.foreach { case (q, nn) =>
      assert(nn === q + 1000000L || nn === q - 1000000L,
        s"query $q top-1 was $nn, expected its planted mirror")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan has BNLJ:\n$plan")
  }

  test("IVF topK: planted duplicate is ALWAYS rank 1; no corpus-wide cartesian") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val corpus = Ann.corpus(emb) // vec_id % 5 == 0 mirrored at +1000000
    val df = Ann.topKIvf(corpus, k = 3, qmod = 10)
    val top1 = df.filter(col("rank") === 1)
      .select("query_id", "nn_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty)
    // identical vector => identical nearest cell => always a candidate => max dot
    top1.foreach { case (q, nn) =>
      assert(nn === q + 1000000L || nn === q - 1000000L,
        s"query $q top-1 was $nn, expected its planted mirror")
    }
    // the corpus-side candidate pairing must be the cid equi-join; the only
    // nested-loop join allowed is the 16-row broadcast centroid assign
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("native vector expressions: generated Java compiles and equals interpreted eval") {
    import org.apache.spark.sql.{Column, GraftShim}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    import graft.ops.{Kernel, VectorExpressions}
    val la = GraftShim.column(BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true))
    val lb = GraftShim.column(BoundReference(1, ArrayType(LongType, containsNull = false), nullable = true))
    val da = GraftShim.column(BoundReference(2, ArrayType(DoubleType, containsNull = false), nullable = true))
    // the kernel's StaticInvoke, as the optimizer leaves it in a plan
    def invoke(c: Column): Expression = GraftShim.converted(c) match {
      case Kernel(_, _, s: StaticInvoke) => s
    }
    val exprs = Seq(VectorExpressions.longDot(la, lb), VectorExpressions.hyperplaneBucket(la, 12),
      VectorExpressions.doubleDot(da, da)).map(invoke)
    // generate() throws on janino errors — an eager check that the static
    // call is valid Java (a broken one would otherwise silently fall back)
    val proj = GenerateUnsafeProjection.generate(exprs)
    val xs = ArrayData.toArrayData(Array(3L, -2L, 7L))
    val ys = ArrayData.toArrayData(Array(10L, 100L, 1000L))
    val ds = ArrayData.toArrayData(Array(0.5, -1.25, 2.0))
    val row = InternalRow(xs, ys, ds)
    val out = proj(row)
    assert(out.getLong(0) === 3L * 10 - 2L * 100 + 7L * 1000)
    assert(out.getLong(0) === exprs(0).eval(row))
    assert(out.getLong(1) === exprs(1).eval(row))
    assert(out.getDouble(2) === 0.5 * 0.5 + 1.25 * 1.25 + 4.0)
    assert(out.getDouble(2) === exprs(2).eval(row))
  }

  test("native hyperplane bucket == composable per-plane reference form") {
    import spark.implicits._
    val q = Ann.quantized(spark.read.parquet(s"$Sf/embeddings.parquet"))
    val both = q.select(
      graft.ops.VectorExpressions.hyperplaneBucket(col("q"), Ann.NumPlanes).as("native"),
      Ann.bucketReference(col("q")).as("ref"))
    assert(both.filter(col("native") =!= col("ref")).count() === 0L)
    // and the buckets actually spread (not all one value)
    assert(both.select("native").distinct().count() > 1L)
  }

  test("LSH near-dup finds planted duplicates with cos >= 0.5 predicate") {
    import spark.implicits._
    val vecs = (0L to 9L).map(i => (i, Array.tabulate(8)(j => math.cos(i * 3 + j).toFloat)))
    val out = Ann.lshNearDup(vecs.toDF("vec_id", "embedding"))
      .as[(Long, Long, Long)].collect()
    // planted mirrors: vec_id % 5 == 0 -> +1000000; identical vectors share bucket & cos=1
    assert(out.map(r => (r._1, r._2)).toSet.contains((0L, 1000000L)))
    assert(out.map(r => (r._1, r._2)).toSet.contains((5L, 1000005L)))
  }

  test("embedding near-dup clusters: mirrors co-cluster under min id, singletons keep themselves") {
    import spark.implicits._
    val vecs = (0L to 9L).map(i => (i, Array.tabulate(8)(j => math.cos(i * 3 + j).toFloat)))
    val out = Ann.embNearDupClusters(vecs.toDF("vec_id", "embedding"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // full corpus labeled: 10 originals + 2 planted mirrors (ids 0, 5)
    assert(out.size == 12)
    // planted mirrors co-cluster with their originals; the mirror (larger
    // id) is never the canonical keep
    assert(out(1000000L)._1 == out(0L)._1 && out(1000000L)._2 == 0L)
    assert(out(1000005L)._1 == out(5L)._1 && out(1000005L)._2 == 0L)
    // each cluster label is the min member id, exactly one keep per
    // cluster, and it is the member equal to the label
    val byCluster = out.groupBy(_._2._1)
    assert(byCluster.forall { case (cl, m) => cl == m.keys.min })
    assert(byCluster.forall { case (cl, m) =>
      m.count(_._2._2 == 1L) == 1 && m(cl)._2 == 1L })
  }

  test("text stats and lang id on a fixed string") {
    import spark.implicits._
    val d = docs((7L, "the table  the scan spark")) // double space -> empty token dropped
    val s = TextStats.stats(d).as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(s === ((7L, 5L, 4L, 25L, 5L, 2L)))
    val l = TextStats.langId(d).select("doc_id", "pred_lang", "s_en", "s_de", "s_es")
      .as[(Long, String, Long, Long, Long)].collect().head
    assert(l === ((7L, "en", 2L, 2L, 1L))) // tie en/de -> en precedence
  }

  test("trigram_topn expression matches the Scala reference profile (ties included)") {
    import spark.implicits._
    // tie-heavy inputs: many grams with equal counts exercise the
    // (count desc, gram asc) tie-break; "aaaa..." exercises overlap counts
    val texts = Seq(
      "abcabcabd abd abc",          // abc vs abd count ties broken by order
      "aaaaaa",                      // one gram, count 4
      TextStats.LangSeeds.head._2,   // a full seed
      "zyxwvutsrqponmlkjihgfedcba",  // 24 distinct grams, all count 1
      "ab")                          // below trigram length -> empty profile
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        explode(NgramExpressions.trigramTopN(col("text"), TextStats.TopN)).as("gr"))
      .select(col("doc_id"), col("gr.g"), col("gr.r"))
      .as[(Long, String, Int)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(v => (v._2, v._3))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = TextStats.trigramProfile(t)
      assert(got.getOrElse(i.toLong, Seq.empty) === want, s"text #$i")
    }
  }

  test("n-gram lang id: seeds self-classify, held-out sentences classify, short text deterministic") {
    import spark.implicits._
    // each seed must classify as its own language (distance 0 to itself)
    val seeds = TextStats.LangSeeds.zipWithIndex
      .map { case ((lang, text), i) => (i.toLong, text, lang) }
    // one partition, fewer than the session's cores: scoring stays in the
    // input's own partitioning, with no exchange
    val seedDf = TextStats.langIdNgram(
        seeds.map(s => (s._1, s._2)).toDF("doc_id", "text").coalesce(1))
    val exchanges = Probes.shuffleKeys(seedDf)
    assert(exchanges.isEmpty, s"lang id shuffles on: $exchanges")
    val seedPred = seedDf.as[(Long, String, Long)].collect().sortBy(_._1)
    seeds.zip(seedPred).foreach { case ((_, _, want), (_, got, dist)) =>
      assert(got === want)
      assert(dist === 0L)
    }
    // held-out sentences (disjoint from the seeds) still classify by their
    // function-word trigrams — the generalization Cavnar-Trenkle is for
    val holdout = Seq(
      (100L, "er sagte dass die kinder im garten in der naehe des wassers spielten", "de"),
      (101L, "she said that the children were playing in the garden near the water", "en"),
      (102L, "ella dijo que los ninos estaban jugando en el jardin cerca del agua", "es"),
      (103L, "elle a dit que les enfants jouaient dans le jardin pres de l eau", "fr"))
    val got = TextStats.langIdNgram(
        holdout.map(h => (h._1, h._2)).toDF("doc_id", "text"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    holdout.zip(got).foreach { case ((_, _, want), (id, pred, _)) =>
      assert(pred === want, s"doc $id")
    }
    // < 3 chars: no trigrams, max distance to every language, first lang wins
    val short = TextStats.langIdNgram(Seq((1L, "ab")).toDF("doc_id", "text"))
      .as[(Long, String, Long)].collect().head
    assert(short === ((1L, "de", (TextStats.TopN * TextStats.TopN).toLong)))
  }

  test("repetition stats: counts, tie-breaks, char lengths, degenerate docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"),          // top1: a x3; top2: "a b" x2 (beats "b a" x2 by gram asc)
      (2L, "xyz"),                // single word: top2 = (0, 0)
      (3L, ""),                   // empty text: one empty word
      (4L, "aa bb aa bb cc")      // top1 tie a2: "aa" x2 beats "bb" x2; top2 "aa bb" x2
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionStats(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 5L, 3L, 1L, 2L, 3L)))
    assert(out(1) === ((2L, 1L, 1L, 3L, 0L, 0L)))
    assert(out(2) === ((3L, 1L, 1L, 0L, 0L, 0L)))
    assert(out(3) === ((4L, 5L, 2L, 2L, 2L, 5L)))
    // plan: row-local, zero exchanges
    assert(Probes.shuffleKeys(TextStats.repetitionStats(docs)).isEmpty)
  }

  test("url canonicalization: fragment, tracking params, case, trailing slash") {
    import spark.implicits._
    val urls = Seq(
      "https://EX.com/A/b/?utm_source=x&id=2&gclid=z#frag", // -> keep id=2, lower host only
      "HTTPS://ex.COM/A/b",                                  // case: scheme+host lowered, path kept
      "https://ex.com/A/b///",                               // all trailing slashes stripped
      "https://ex.com",                                      // bare authority unchanged
      "https://ex.com/?utm_source=x"                         // params all dropped, root slash stripped
    ).toDF("url")
    val got = urls.select(ops.UrlOps.canonicalizeUrl(col("url")).as("c")).as[String].collect()
    assert(got.toSeq === Seq(
      "https://ex.com/A/b?id=2",
      "https://ex.com/A/b",
      "https://ex.com/A/b",
      "https://ex.com",
      "https://ex.com"))
  }

  test("contamination: shared probe shingle flags the doc, clean doc passes") {
    import spark.implicits._
    val d = Seq(
      (1L, "xx slow hash batch yy"),        // contains probe "slow hash batch"
      (2L, "totally unrelated clean words here"),
      (3L, "slow hash batch row column sort")) // two probes
      .toDF("doc_id", "text")
    val r = TextStats.contamination(d).as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(r.toSeq === Seq((1L, 1L, 1L), (2L, 0L, 0L), (3L, 2L, 1L)))
  }

  test("contamination: NULL text counts as zero hits (oracle LEFT JOIN parity)") {
    import spark.implicits._
    val d = Seq((1L, Some("xx slow hash batch yy")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val r = TextStats.contamination(d).as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(r.toSeq === Seq((1L, 1L, 1L), (2L, 0L, 0L)))
  }

  test("IVF topK: corpora smaller than nlist (and empty) degrade instead of crashing") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    // 5 vectors < nlist=16: trains 5 centroids, query joins still work
    val tiny = emb.orderBy("vec_id").limit(5)
    val r = Ann.topKIvf(tiny, k = 2, qmod = 1, nprobe = 2)
    assert(r.filter(col("rank") === 1).count() > 0)
    // empty table: empty result with the right schema, no analysis error
    val empty = Ann.topKIvf(emb.limit(0), k = 2, qmod = 1)
    assert(empty.columns.toSeq === Seq("query_id", "rank", "nn_id", "dot"))
    assert(empty.count() === 0)
  }

  test("recall floors hold with margin (q76 IVF, q77 cosine) and indicator is all-ones") {
    // planted-neighborhood corpus: the contract is decidable there (the
    // exact top-5 IS the planted copy set) — on the raw isotropic table the
    // per-query minimum is 0 regardless of implementation (see
    // Ann.plantedCorpus scaladoc); this test re-measures the margin per SF
    val emb = Ann.plantedCorpus(
      spark.read.parquet(s"$Sf/embeddings.parquet"), qmod = 20, copies = 5)
    val exact = Ann.topKBlocked(emb, k = 5, qmod = 20)
    def minRecall(approx: org.apache.spark.sql.DataFrame): Long =
      exact.select(col("query_id"), col("nn_id"))
        .join(approx.select(col("query_id"), col("nn_id"), lit(1L).as("hit")),
          Seq("query_id", "nn_id"), "left_outer")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0L))) * 100L / count(lit(1L)))
          .cast("long").as("r"))
        .agg(min(col("r"))).head().getLong(0)
    val ivfMin = minRecall(Ann.topKIvf(emb, k = 5, qmod = 20))
    val cosMin = minRecall(Ann.cosineTopK(emb, k = 5, qmod = 20))
    info(s"measured min recall@5: ivf=$ivfMin% (floor ${SparkEntry.IvfRecallFloorPct}), " +
      s"cosine=$cosMin% (floor ${SparkEntry.CosineRecallFloorPct})")
    // the published floors must hold with >= 20 points of margin so a data
    // regeneration can't flip the hash-checked q76/q77 contracts
    assert(ivfMin >= SparkEntry.IvfRecallFloorPct + 20)
    assert(cosMin >= SparkEntry.CosineRecallFloorPct + 20)
    // and the shipped query outputs are exactly the all-ones oracle tables
    val q76 = Ann.recallAtK(Ann.topKIvf(emb, k = 5, qmod = 20), exact,
      SparkEntry.IvfRecallFloorPct)
    val q77 = Ann.recallAtK(Ann.cosineTopK(emb, k = 5, qmod = 20), exact,
      SparkEntry.CosineRecallFloorPct)
    assert(q76.filter(col(s"recall_ge_${SparkEntry.IvfRecallFloorPct}") =!= 1L).isEmpty)
    assert(q77.filter(col(s"recall_ge_${SparkEntry.CosineRecallFloorPct}") =!= 1L).isEmpty)
  }

  test("PII redaction: emails/IPs/phones replaced with placeholders, counts audit") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail a.b+c@foo-bar.org or 192.168.0.1 call +1 555 0100 end"),
      (2L, "no pii here just words 3.14 and + signs"))
      .toDF("doc_id", "text")
    val r = TextStats.redactPii(d).as[(Long, String, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(r(0) === ((1L, "mail <EMAIL> or <IP> call <PHONE> end", 1L, 1L, 1L)))
    assert(r(1) === ((2L, "no pii here just words 3.14 and + signs", 0L, 0L, 0L)))
  }

  test("BPE-ish token counts: letter runs, digit runs, symbols") {
    import spark.implicits._
    val d = Seq((1L, "hello world2 x-y: 3.14 don't")).toDF("doc_id", "text")
    val r = graft.ops.TextStats.bpeTokens(d)
      .as[(Long, Long, Long, Long, Long)].collect().head
    // tokens: hello|world|2|x|-|y|:|3|.|14|don|'|t -> 13 total,
    // alpha: hello world x y don t =6, num: 2 3 14 =3, sym: - : . ' =4
    assert(r === ((1L, 13L, 6L, 3L, 4L)))
  }

  test("quality filter: each rule fires on its own degenerate input") {
    import spark.implicits._
    val d = Seq(
      (1L, "the data is fast and the merge is clean ok"), // healthy
      (2L, "tiny"),                                        // too short
      (3L, "the " + "x" * 60 + " data and more words here"), // junk token run
      (4L, "alpha beta gamma delta epsilon zeta eta"),     // zero stopwords
      (5L, "the ;;; !!! ??? ### $$$ %%% @@@ ^^^ &&& ***"), // symbol-heavy
      (6L, "the " + Seq.fill(40)("word").mkString(" "))    // degenerate repetition
    ).toDF("doc_id", "text")
    val out = TextStats.qualityFilter(d)
      .select("doc_id", "ok_len", "ok_tok", "ok_stop", "ok_sym", "ok_distinct", "keep")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 1L, 1L, 1L, 1L, 1L, 1L)))
    assert(out(2L)._2 === 0L && out(2L)._7 === 0L) // ok_len fails
    assert(out(3L)._3 === 0L)                      // ok_tok fails
    assert(out(4L)._4 === 0L)                      // ok_stop fails
    assert(out(5L)._5 === 0L)                      // ok_sym fails
    assert(out(6L)._6 === 0L)                      // ok_distinct fails
    assert(Seq(3L, 4L, 5L, 6L).forall(out(_)._7 === 0L))
  }

  test("fingerprints deterministic and sensitive to token order") {
    import spark.implicits._
    val a = TextStats.fingerprints(docs((1L, "a b c d e f g h"))).as[(Long, Long)].collect().toSet
    val b = TextStats.fingerprints(docs((1L, "a b c d e f g h"))).as[(Long, Long)].collect().toSet
    val c = TextStats.fingerprints(docs((1L, "h g f e d c b a"))).as[(Long, Long)].collect().toSet
    assert(a === b)
    assert(a !== c)
  }

  test("native winnowing fingerprints == reference reimplementation") {
    import spark.implicits._
    // the pre-promotion UDF logic, kept here as the executable spec of
    // WinnowFingerprints (code-point fold == UTF-16 fold on BMP text)
    def reference(text: String, w: Int, g: Int): Seq[Long] = {
      val ts = text.split(" ").filter(_.nonEmpty)
      if (ts.length < w) Seq.empty
      else {
        val P = TextStats.FpP; val B = TextStats.FpB; val C = TextStats.FpC
        val th = ts.map(t => t.codePoints().toArray.foldLeft(0L)((a, c) => (a * C + c) % P))
        val windows = th.sliding(w).map(_.foldLeft(0L)((a, h) => ((a * B) % P + h) % P)).toSeq
        windows.sliding(g, g).map(_.min).toSeq.distinct
      }
    }
    val texts = Seq(
      "", "one", "a b c", "a b c d", "a b c d e f g h i j k l m",
      "  doubled  spaces   here and more tokens to fill windows  ",
      "repeat repeat repeat repeat repeat repeat repeat repeat",
      "café naïve 世界 tokens mixed script body text",
      "the quick brown fox jumps over the lazy dog again and again")
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for ((w, g) <- Seq((4, 4), (3, 2), (1, 1))) {
      val got = rows.toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.ops.MinhashExpressions.winnowFingerprints(col("text"), w, g).as("fps"))
        .as[(Long, Seq[Long])].collect().toMap
      rows.foreach { case (id, t) =>
        assert(got(id) === reference(t, w, g), s"doc $id (w=$w g=$g): '$t'")
      }
    }
  }
}
