package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Layers, OsmElements}

/** Driver-side derivations run once per table version ([[TableMemo]]). Each
  * test reads its own copy of the sf0.001 tables, so it starts cold and may
  * rewrite them. The test that stops the session runs last. */
class TableMemoSpec extends AnyFunSuite with SparkTest {

  private val tables = Seq("customer", "documents", "orders", "part", "supplier")

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(); ()
  }

  private def withTables(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(Paths.get(Scratch.dir), "table-memo")
    try {
      tables.foreach(t => Files.copy(Paths.get(s"$Sf/$t.parquet"), dir.resolve(s"$t.parquet")))
      body(dir.toString)
    } finally rm(dir.toFile)
  }

  /** Replaces the single-file table `dir/name.parquet` with `f` of it. */
  private def rewrite(s: SparkSession, dir: String, name: String)(f: DataFrame => DataFrame): Unit = {
    val out = Files.createTempDirectory(Paths.get(Scratch.dir), "table-memo-out")
    try {
      f(s.read.parquet(s"$dir/$name.parquet")).coalesce(1).write.mode("overwrite").parquet(s"$out/t")
      val part = Files.list(out.resolve("t")).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    } finally rm(out.toFile)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  private def query(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** q13's rows (url|ent_idx|poly_id) by brute force over the diamonds. */
  private def pipBruteForce(s: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val polys = Layers.polygons(s, dir).select("poly_id", "cx", "cy", "r").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    Pipeline.entities(s, dir).select(col("url"), col("ent_idx").cast("long"), col("lon"), col("lat"))
      .collect().toSeq.flatMap { case Row(url: String, idx: Long, x: Double, y: Double) =>
        polys.collect { case (id, cx, cy, r) if math.abs(x - cx) + math.abs(y - cy) < r => (url, idx, id) }
      }
  }

  test("a second q13, q18 or q72 build runs no collect, count or classification job") {
    withTables { dir =>
      for (q <- Seq("q13_pip_join", "q18_osm_ways", "q72_pyramid_count")) {
        var first, second: DataFrame = null
        val cold = Probes.jobs(spark) { first = query(q)(spark, dir) }
        val warm = Probes.jobs(spark) { second = query(q)(spark, dir) }
        assert(cold > 0, s"$q: the first build derives its dimension structure")
        assert(warm === 0, s"$q: the second build runs $warm jobs")
        assert(rows(second) === rows(first), q)
      }
    }
  }

  test("Layers.polygons twice shares one entry; a filter of it, a local or random layer does not") {
    withTables { dir =>
      var builds = 0
      def probe(layer: DataFrame): Int =
        TableMemo.derived(spark, "share-probe", layer) { builds += 1; TableMemo.Held(builds, 0L, () => ()) }
      assert(probe(Layers.polygons(spark, dir)) === 1)
      assert(probe(Layers.polygons(spark, dir)) === 1)
      assert(probe(Layers.polygons(spark, dir).filter(col("poly_id") > 5)) === 2)
      assert(probe(Layers.polygons(spark, dir).filter(col("poly_id") > 5)) === 2)
      assert(probe(Layers.polygons(spark, dir).withColumn("u", rand())) === 3)
      assert(probe(Layers.polygons(spark, dir).withColumn("u", rand())) === 4)
      import spark.implicits._
      assert(probe(Seq(1L, 2L).toDF("poly_id")) === 5)
      assert(probe(Seq(1L, 2L).toDF("poly_id")) === 6)
      // a repeat read takes the remembered schema, with no inference job
      assert(Probes.jobs(spark)(TableMemo.parquet(spark, s"$dir/part.parquet")) === 0)
    }
  }

  test("rewriting part.parquet rebuilds the entry, releases the old one, and q13/q72 stay correct") {
    withTables { dir =>
      def probe() = TableMemo.derived(spark, "rewrite-probe", Layers.polygons(spark, dir)) {
        val bc = spark.sparkContext.broadcast(Layers.polygons(spark, dir).count())
        TableMemo.Held(bc, 8L, () => bc.destroy())
      }
      val before = probe()
      val polygonsBefore = before.value
      assert(probe() eq before)
      val q13 = query("q13_pip_join")
      val q72 = query("q72_pyramid_count")
      def check(): Unit = {
        val want = pipBruteForce(spark, dir)
        assert(want.nonEmpty, "vacuous fixture")
        assert(rows(q13(spark, dir)) === want.map { case (u, i, p) => s"$u|$i|$p" }.sorted)
        assert(rows(q72(spark, dir)) ===
          want.groupBy(_._3).map { case (p, hits) => s"$p|${hits.size}" }.toSeq.sorted)
      }
      check()
      val entries = TableMemo.size(spark)
      rewrite(spark, dir, "part")(_.filter(col("p_partkey") % 2 === 0))
      val after = probe()
      assert(after ne before)
      assert(after.value < polygonsBefore)
      intercept[SparkException](before.value)
      check()
      assert(TableMemo.size(spark) === entries, "a rewrite replaces entries, it adds none")
    }
  }

  test("rewriting customer.parquet changes q18's ref modulus and q57's clustered table") {
    withTables { dir =>
      val q57 = query("q57_pruned_bbox")
      def q57Want: Seq[String] = rows(OsmElements.nodes(spark, dir)
        .filter(col("lon") >= 10.0 && col("lon") < 30.0 && col("lat") >= 5.0 && col("lat") < 25.0)
        .select("node_id"))
      /** ways with no closing ref: ref i = 1 + (w * 31 + i * 17) % (n + n / 5) */
      def checkRefs(n: Long): Unit = {
        val open = OsmElements.ways(spark, dir).filter(col("way_id") % 3 =!= 0).limit(50).collect()
        assert(open.nonEmpty)
        for (r <- open; w = r.getLong(0); (ref, i) <- r.getSeq[Long](1).zipWithIndex)
          assert(ref === 1 + (w * 31 + i * 17) % (n + n / 5), s"way $w ref $i")
      }
      val n0 = spark.read.parquet(s"$dir/customer.parquet").count()
      checkRefs(n0)
      val want0 = q57Want
      assert(rows(q57(spark, dir)) === want0)
      rewrite(spark, dir, "customer")(_.filter(col("c_custkey") % 2 === 1))
      val n1 = spark.read.parquet(s"$dir/customer.parquet").count()
      assert(n1 < n0)
      checkRefs(n1)
      val want1 = q57Want
      assert(want1 !== want0, "the rewrite drops nodes inside the box")
      assert(rows(q57(spark, dir)) === want1)
    }
  }

  test("eviction past the byte budget destroys the evicted broadcast") {
    val layer = TableMemo.parquet(spark, s"$Sf/part.parquet")
    def entry(kind: String) = TableMemo.derived(spark, kind, layer) {
      val bc = spark.sparkContext.broadcast(kind)
      TableMemo.Held(bc, TableMemo.BudgetBytes / 2 + 1, () => bc.destroy())
    }
    val a = entry("evict-a")
    assert(entry("evict-a") eq a)
    val b = entry("evict-b") // a and b together pass the budget: a goes
    intercept[SparkException](a.value)
    assert(b.value === "evict-b")
    assert(entry("evict-b") eq b)
  }

  test("a new SparkContext never sees a broadcast from a stopped one") {
    withTables { dir =>
      val q13 = query("q13_pip_join")
      val old = SparkTest.session
      val want = rows(q13(old, dir))
      old.stop()
      val s = SparkTest.session
      assert(s.sparkContext ne old.sparkContext)
      var df: DataFrame = null
      assert(Probes.jobs(s) { df = q13(s, dir) } > 0, "the new context starts cold")
      assert(rows(df) === want)
    }
  }
}
