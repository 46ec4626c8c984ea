package graft

import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LogicalWindow}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: the properties that make a plan survive a
  * 100x scale-up are structural, so assert them on the PLAN, not on wall
  * time. Every non-baseline query must be free of
  *  - cartesian products / broadcast nested-loop joins (all-pairs
  *    candidate generation — the classic scale-killer), and
  *  - unpartitioned window operators (single-partition sort of the world).
  * The two declared brute-force ORACLE BASELINES (q27/q29 exact top-k) are
  * exempt from the join rule by design — their scale-path replacements are
  * q33/q34/q44.
  */
class PlanGuardSpec extends AnyFunSuite with SparkTest {

  // no exemptions remain: q27/q29 both run the blocked equi-join +
  // bounded-heap shape; the BNLJ brute forces live only inside specs
  private val bruteForceBaselines = Set.empty[String]

  private def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.sparkPlan

  private def globalWindows(plan: LogicalPlan): Seq[LogicalWindow] =
    plan.collect { case w: LogicalWindow if w.partitionSpec.isEmpty => w }

  test("no query plan contains an unpartitioned window over row-scale data") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, Sf)
      val bad = globalWindows(df.queryExecution.optimizedPlan)
        // exemption: q71's two-level prefix sum runs its only ordered scan
        // over the BLOCK-TOTAL aggregate (n_docs/blockSize rows), never the
        // corpus — recognized by the aggregate GROUPING ON THE BLOCK KEY
        // (an aggregate child alone would also match row-scale groupings
        // like a per-doc dedup, which the guard must keep catching)
        .filterNot(w => name == "q71_pack_shards" && (w.child match {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
            a.groupingExpressions.exists(_.references.exists(_.name == "_blk"))
          case _ => false
        }))
      assert(bad.isEmpty,
        s"$name has ${bad.size} unpartitioned Window op(s) — single-partition sort at scale")
    }
  }

  test("prod dedup entry points run the heavy-hitter-capped path by default") {
    // semantic check, not plan text: the capped branches localCheckpoint
    // their bucket tables (a measured 2x win), which truncates lineage and
    // hides the cap aliases from the plan. Instead, plant a mega-bucket
    // just over the default cap and assert the DEFAULT call drops it.
    import spark.implicits._
    val n = graft.ops.Dedup.MaxBucketDefault + 1
    val mega = (0 until n).map(i => (i.toLong, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    // n identical docs -> one LSH bucket of size n > MaxBucketDefault in
    // every band, and every shingle with doc-frequency n > the default
    // shingle cap: a capped default emits ZERO pairs (uncapped would emit
    // n(n-1)/2), so a silently-removed cap fails loudly here
    assert(graft.ops.Dedup.minhashPairs(mega).count() === 0L,
      "q21 entry point (minhashPairs defaults) must cap oversized LSH buckets")
    assert(graft.ops.Dedup.jaccardPairs(mega).count() === 0L,
      "q23 entry point (jaccardPairs defaults) must cap high-frequency shingles")
    // and the cap machinery itself: a small corpus under an explicit tiny
    // cap drops everything; uncapped emits all 66 pairs
    val small = (0 until 12).map(i => (i.toLong, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    assert(graft.ops.Dedup.minhashPairs(small, maxBucket = Some(5)).count() === 0L)
    assert(graft.ops.Dedup.minhashPairs(small, maxBucket = None).count() === 66L)
    assert(graft.ops.Dedup.jaccardPairs(small, maxShingleFreq = Some(5)).count() === 0L)
    assert(graft.ops.Dedup.jaccardPairs(small, maxShingleFreq = None).count() === 66L)
  }

  test("parity vocab id join broadcasts when the dictionary is small") {
    import spark.implicits._
    // the exploded (doc, token) stream is the widest intermediate of the
    // dedup suite; with a small dictionary the id join must be a broadcast
    // hash join (the stream never enters an exchange keyed on strings).
    // denseIds is RDD-backed — without the explicit hint Catalyst has no
    // size stats and always picks a shuffle join.
    val docs = (0 until 30).map(i =>
      (i.toLong, s"alpha beta gamma delta w$i x${i % 7} y${i % 3}"))
      .toDF("doc_id", "text")
    // the minhash sig stage localCheckpoints before bandPairs (hiding its
    // lineage from the q21 plan), so assert on the id-join subplan itself
    // (the exact shape minhashPairs builds) plus the end-to-end simhash
    // plan, where the join is visible
    val sh = graft.ops.Dedup.shingled(docs)
    val idJoin = sh.join(graft.ops.Dedup.shVocab(sh), "sh")
    for (df <- Seq(idJoin, graft.ops.Dedup.simhash(docs))) {
      df.count()
      val stringShuffleJoins = physical(df).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.leftKeys.exists(_.dataType ==
              org.apache.spark.sql.types.StringType) => j.nodeName
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
            if j.leftKeys.exists(_.dataType ==
              org.apache.spark.sql.types.StringType) => j.nodeName
      }
      assert(stringShuffleJoins.isEmpty,
        s"vocab id join shuffled on token strings: $stringShuffleJoins")
      val bhj = physical(df).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.leftKeys.exists(_.dataType ==
              org.apache.spark.sql.types.StringType) => j.nodeName
      }
      assert(bhj.nonEmpty, "small dictionary must broadcast into the id join")
    }
    // past the limit the fallback is the shuffle join (a 10^9-entry vocab
    // is not a dim) — exercised with a temporarily tiny limit is not
    // possible (val), so assert the guard constant is sane instead
    assert(graft.ops.Dedup.BroadcastVocabLimit >= 1000000L)
  }

  test("prod minhash signature stage is exchange-free (row-local, no explode)") {
    import spark.implicits._
    val docs = (0 until 8).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val sig = graft.ops.Dedup.minhashSigProd(docs)
    val exchanges = physical(sig).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.nodeName
    }
    assert(exchanges.isEmpty,
      s"minhashSigProd plan contains ${exchanges.mkString(", ")} — the signature " +
        "must be computed inside the row (the exploded shingle stream is the " +
        "widest intermediate of the pipeline)")
    val generates = sig.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.isEmpty, "minhashSigProd must not explode shingles")
  }

  test("shingled (doc_id, sh) stream needs no global distinct exchange") {
    import spark.implicits._
    val docs = (0 until 8).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val sh = graft.ops.Dedup.shingled(docs)
    val aggsOrExchanges = physical(sh).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.nodeName
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a.nodeName
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a.nodeName
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a.nodeName
    }
    assert(aggsOrExchanges.isEmpty,
      s"shingled plan contains ${aggsOrExchanges.mkString(", ")} — per-doc distinct " +
        "shingles are row-local; a global distinct shuffles the widest string stream")
  }

  test("no non-baseline query plan contains a cartesian or nested-loop join") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, Sf)
      if (!bruteForceBaselines.contains(name)) {
        val bad = physical(df).collect {
          case j: BroadcastNestedLoopJoinExec => j.nodeName
          case j: CartesianProductExec => j.nodeName
        }
        assert(bad.isEmpty,
          s"$name plan contains ${bad.mkString(", ")} — all-pairs candidate generation")
      }
      // graft expressions (aggregate functions aside: Spark's own
      // imperative aggregates are CodegenFallback too) must print the same
      // in every run — no Scala lambda with its object hash — and must not
      // take their operator out of whole-stage codegen
      val graftExprs = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case e if e.getClass.getName.startsWith("graft.") && !e.isInstanceOf[AggregateFunction] => e
      }))
      val lambdas = graftExprs.map(_.toString).filter(_.contains("$Lambda"))
      assert(lambdas.isEmpty, s"$name plan prints Scala lambdas: $lambdas")
      val fallbacks = graftExprs.collect { case e: CodegenFallback => e.getClass.getName }.distinct
      assert(fallbacks.isEmpty, s"$name plan holds CodegenFallback classes: $fallbacks")
    }
  }

  test("the operators that call a kernel run in whole-stage codegen") {
    // a CodegenFallback expression takes its whole operator out of codegen;
    // a Kernel's StaticInvoke is one static call inside the generated code,
    // also when it takes a broadcast as an object argument. q13's posexplode
    // and probe Generates, q14's refine (a Filter, or the join condition the
    // optimizer folds it into), q55's intersects refine, the flagship's two
    // probe projections, q18's way assembly, q72's boundary refine, q37's
    // lang id and q105's STR partition and refine
    def query(q: String) = SparkEntry.queries(q)(spark, Sf)
    for ((what, df, kernels) <- Seq(
        ("q13", query("q13_pip_join"), Seq("geoMentions", "containing")),
        ("q14", query("q14_pip_join_salted"), Seq("polygonContains")),
        ("q55", query("q55_overlay_join"), Seq("intersects")),
        ("Pipeline.run", Pipeline.run(spark, Sf), Seq("containing", "knn")),
        ("q18", query("q18_osm_ways"), Seq("wayAssemble")),
        ("q72", query("q72_pyramid_count"), Seq("boundaryContains")),
        ("q37", query("q37_langid_ngram"), Seq("ctBestLang")),
        ("q105", query("q105_pip_str"), Seq("partitionOf", "polygonContains")))) {
      val (all, fused) = Probes.codegenSplit(df)
      for (kernel <- kernels) {
        val calling = Probes.kernelCallers(all, kernel)
        assert(calling.nonEmpty, s"$what: no operator calls kernel $kernel")
        val outside = calling.filterNot(o => fused.exists(_ eq o))
        assert(outside.isEmpty,
          s"$what: ${outside.map(_.nodeName).mkString(", ")} calling $kernel run outside whole-stage codegen")
      }
    }
  }

  test("the flagship runs as one codegen stage from its scan or exchange to the tile") {
    // the page synthesis is one kernel call (WebPagesSynth.pageText): a
    // transform lambda over a sequence took its projection out of
    // whole-stage codegen and split the pass into stages
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
      case q: QueryStageExec => finalPlan(q.plan)
      case _ => p
    }
    for ((what, df, below) <- Seq[(String, org.apache.spark.sql.DataFrame, SparkPlan => Boolean)](
        ("Pipeline.run", Pipeline.run(spark, Sf), _.isInstanceOf[FileSourceScanExec]),
        ("amplified pass", Pipeline.enrich(spark, Sf, Pipeline.entitiesAmplifiedRange(spark, Sf, 0, 2, 2)), {
          case _: ShuffleQueryStageExec | _: AQEShuffleReadExec => true
          case _ => false
        }))) {
      val lambdas = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case f: HigherOrderFunction => f.prettyName }))
      assert(lambdas.isEmpty, s"$what: higher-order functions in the plan: $lambdas")
      Probes.codegenSplit(df)
      val root = finalPlan(df.queryExecution.executedPlan)
      assert(root.isInstanceOf[WholeStageCodegenExec], s"$what: the plan's root is no codegen stage:\n$root")
      def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
        case i: InputAdapter => Seq(i.child)
        case _ => p.children.flatMap(inputs)
      }
      val fed = inputs(root.children.head)
      assert(fed.size == 1 && below(fed.head), s"$what: the stage reads ${fed.map(_.nodeName)}:\n$root")
      assert(root.collect { case g: GenerateExec => g }.nonEmpty, s"$what: extraction outside the stage:\n$root")
    }
  }

  test("q18 assembles each way once: one wayAssemble call in the executed plan") {
    // a filter on the assembly's output would be pushed below the
    // projection with the call inlined, so both would assemble every way
    val nodes = Probes.planNodes(SparkEntry.queries("q18_osm_ways")(spark, Sf))
    for (kernel <- Seq("wayAssemble", "wayRefs")) {
      val calls = nodes.flatMap(_.expressions.flatMap(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
            if s.functionName == kernel => s }))
      assert(calls.size === 1, s"q18 calls $kernel ${calls.size} times")
    }
  }

  test("q14 salted-shuffle PIP: no ScalaUDF in the refine path") {
    // the refine is a native kernel (GeoExpressions.polygonContains); a
    // ScalaUDF reappearing here means CatalystTypeConverters boxing of the
    // WKB per candidate pair
    val df = SparkEntry.queries("q14_pip_join_salted")(spark, Sf)
    val hasNative = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(Probes.callsKernel(_, "polygonContains")))
    assert(hasNative, "q14 refine must be the native polygonContains kernel")
    // dim-side UDFs (polygon synth, cover-cell explode) run once per
    // POLYGON and are fine; what must never come back is a ScalaUDF over
    // the point-side columns — that's a per-candidate-pair boxing cost
    val pairUdfs = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF
            if u.references.exists(a => a.name == "lon" || a.name == "lat") => u.toString
      })
    }.flatten
    assert(pairUdfs.isEmpty, s"ScalaUDF over point columns in q14 plan: $pairUdfs")
    // r6 (verdict item 7): the polygon cover explode is the native
    // coverCells kernel — no ScalaUDF over the WKB geom column either (the
    // only remaining ScalaUDFs are the closed-form fixture synthesizers
    // over (cx, cy, r) scalars)
    val hasCover = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(Probes.callsKernel(_, "coverCells")))
    assert(hasCover, "q14 cover must be the native coverCells kernel")
    val geomUdfs = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF
            if u.references.exists(_.name == "geom") => u.toString
      })
    }.flatten
    assert(geomUdfs.isEmpty, s"ScalaUDF over geom in q14 plan: $geomUdfs")
  }

  test("q26 fingerprints: native expression, no ScalaUDF on the fact path") {
    val df = SparkEntry.queries("q26_fingerprint")(spark, Sf)
    val hasNative = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(Probes.callsKernel(_, "winnowFingerprints")))
    assert(hasNative, "q26 must fingerprint via the native winnowFingerprints kernel")
    val udfs = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u.toString
      })
    }.flatten
    assert(udfs.isEmpty, s"ScalaUDF in q26 plan: $udfs")
  }

  test("q11 passthrough: the text column never enters an exchange") {
    // the north rule's byte-identical text must ride for free — matching is
    // done on (url, coords) and pages are LEFT SEMI joined on url, so no
    // shuffle (and no broadcast) ever carries text bytes
    val df = SparkEntry.queries("q11_text_passthrough")(spark, Sf)
    val leaks = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.output.exists(_.name == "text") => s"shuffle(${e.output.map(_.name).mkString(",")})"
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
          if e.output.exists(_.name == "text") => s"broadcast(${e.output.map(_.name).mkString(",")})"
    }
    assert(leaks.isEmpty, s"text bytes cross the wire: ${leaks.mkString("; ")}")
    val semi = physical(df).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType.sql == "LEFT SEMI" => j.nodeName
    }
    assert(semi.nonEmpty, "q11 must be a LEFT SEMI join on url")
  }

  test("q72, q86 and q118: a warm execution runs at most 5, 9 and 8 Spark jobs") {
    // at small scale a query costs about one driver round trip per job, so
    // its stage count is most of its run time: the pyramid is one rollup
    // and both polygon sides one broadcast join of the pair table and one
    // sum, a PageRank round is one exchange and the edge list none, and
    // the Moran lag joins as a broadcast
    def run(q: String): Unit =
      SparkEntry.queries(q)(spark, Sf).write.format("noop").mode("overwrite").save()
    for ((q, most) <- Seq("q72_pyramid_count" -> 5, "q86_pagerank" -> 9, "q118_local_moran" -> 8)) {
      run(q) // cold: the memos fill and the tables' schemas are read
      val warm = Probes.jobs(spark)(run(q))
      assert(warm <= most, s"$q: a warm execution runs $warm jobs")
    }
  }
}
