package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FileFixtures, SourceDispatch}
import graft.table.TableLog
import java.nio.file.{Files, Paths}

class TableLogSpec extends AnyFunSuite with SparkTest {

  private def freshTable() = Files.createTempDirectory("graft-table").toString + "/t"

  test("save mode fail: first write ok, second throws TableExists (K5)") {
    import spark.implicits._
    val t = freshTable()
    TableLog.write(Seq(1, 2, 3).toDF("v"), t, "fail")
    assert(TableLog.read(spark, t).count() === 3)
    assertThrows[GraftError.TableExists](TableLog.write(Seq(4).toDF("v"), t, "fail"))
  }

  test("save mode overwrite replaces data (K6); append adds a snapshot") {
    import spark.implicits._
    val t = freshTable()
    TableLog.write(Seq(1, 2, 3).toDF("v"), t, "overwrite")
    TableLog.write(Seq(9).toDF("v"), t, "overwrite")
    assert(TableLog.read(spark, t).collect().map(_.getInt(0)).toSeq === Seq(9))
    TableLog.write(Seq(10).toDF("v"), t, "append")
    assert(TableLog.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq === Seq(9, 10))
    assertThrows[GraftError.InvalidMode](TableLog.write(Seq(1).toDF("v"), t, "bogus"))
  }

  test("snapshots are immutable, versioned, carry lineage metrics") {
    import spark.implicits._
    val t = freshTable()
    TableLog.write(Seq(1, 2).toDF("v"), t, "overwrite")
    TableLog.write(Seq(3).toDF("v"), t, "append")
    val snaps = TableLog.snapshots(t)
    assert(snaps.map(_.snapshot) === Seq(1L, 2L))
    assert(snaps.last.parent === Some(1L))
    val meta = snaps.last.buckets.values
    assert(meta.forall(_.rows > 0))
    assert(snaps.last.schemaDdl.contains("v INT"))
  }

  test("checkpointed run resumes: committed buckets skipped, results complete") {
    import spark.implicits._
    val t = freshTable()
    def bucketDf(b: String) = Seq((b, b.length)).toDF("bucket", "n")
    // "crash" after two buckets
    val (_, skipped1, written1) =
      TableLog.runCheckpointed(spark, t, Seq("b1", "b2"), bucketDf)
    assert(skipped1.isEmpty && written1 === Seq("b1", "b2"))
    // resume with the full bucket list
    val (snap, skipped2, written2) =
      TableLog.runCheckpointed(spark, t, Seq("b1", "b2", "b3"), bucketDf)
    assert(skipped2 === Seq("b1", "b2") && written2 === Seq("b3"))
    assert(snap.buckets.keySet === Set("b1", "b2", "b3"))
    assert(TableLog.read(spark, t).count() === 3)
    // idempotent re-run: everything skipped
    val (_, skipped3, written3) =
      TableLog.runCheckpointed(spark, t, Seq("b1", "b2", "b3"), bucketDf)
    assert(skipped3.length === 3 && written3.isEmpty)
  }

  test("overwrite continues the snapshot chain: fail->append->overwrite->append lineage stays linear") {
    import spark.implicits._
    val t = freshTable()
    TableLog.write(Seq(1).toDF("v"), t, "fail")       // v1
    TableLog.write(Seq(2).toDF("v"), t, "append")     // v2
    val ow = TableLog.write(Seq(3).toDF("v"), t, "overwrite") // v3, NOT a restart at v1
    assert(ow.snapshot === 3)
    assert(ow.parent === Some(2))
    assert(ow.buckets.keySet === Set("all")) // emptied base: only the new bucket
    assert(TableLog.read(spark, t).count() === 1)
    TableLog.write(Seq(4).toDF("v"), t, "append")     // v4
    val snaps = TableLog.snapshots(t)
    assert(snaps.map(_.snapshot) === Seq(1L, 2L, 3L, 4L)) // no duplicate/stale manifests
    assert(TableLog.read(spark, t).count() === 2)
  }

  test("concurrent commits of the same snapshot number: exactly one wins (CAS)") {
    import spark.implicits._
    val t = freshTable()
    val base = TableLog.write(Seq(1).toDF("v"), t, "fail")
    val snapA = base.copy(snapshot = base.snapshot + 1, parent = Some(base.snapshot), mode = "a")
    val snapB = base.copy(snapshot = base.snapshot + 1, parent = Some(base.snapshot), mode = "b")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(snapA, snapB).map { s =>
      new Thread(() => {
        gate.await()
        results.add(try Right(TableLog.commit(t, s)) catch { case e: Throwable => Left(e) })
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (losers, winners) = results.asScala.toSeq.partition(_.isLeft)
    assert(winners.size === 1, s"expected exactly one winner, got $results")
    assert(losers.size === 1)
    assert(losers.head.swap.toOption.get.isInstanceOf[GraftError.ConcurrentCommit])
    // log is linear: exactly one v00000002 manifest, pointer valid
    assert(TableLog.snapshots(t).map(_.snapshot) === Seq(1L, 2L))
    assert(TableLog.current(t).get.snapshot === 2L)
  }

  test("time travel: readAt returns each snapshot's exact data after overwrites") {
    import spark.implicits._
    val t = freshTable()
    TableLog.write(Seq(1, 2, 3).toDF("v"), t, "fail")      // v1
    TableLog.write(Seq(9).toDF("v"), t, "overwrite")       // v2
    TableLog.write(Seq(10, 11).toDF("v"), t, "append")     // v3
    assert(TableLog.readAt(spark, t, 1).collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
    assert(TableLog.readAt(spark, t, 2).collect().map(_.getInt(0)).toSeq === Seq(9))
    assert(TableLog.readAt(spark, t, 3).collect().map(_.getInt(0)).sorted.toSeq === Seq(9, 10, 11))
    // current == latest
    assert(TableLog.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq === Seq(9, 10, 11))
    assertThrows[IllegalStateException](TableLog.readAt(spark, t, 7))
  }

  test("incremental read: readChanges returns only buckets added in (from, to]") {
    import spark.implicits._
    val t = freshTable()
    TableLog.write(Seq(1, 2).toDF("v"), t, "fail")         // v1
    TableLog.write(Seq(3).toDF("v"), t, "append")          // v2
    TableLog.write(Seq(4, 5).toDF("v"), t, "append")       // v3
    assert(TableLog.readChanges(spark, t, 1, 2).collect().map(_.getInt(0)).toSeq === Seq(3))
    assert(TableLog.readChanges(spark, t, 1, 3).collect().map(_.getInt(0)).sorted.toSeq === Seq(3, 4, 5))
    assert(TableLog.readChanges(spark, t, 0, 1).collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2))
    assert(TableLog.readChanges(spark, t, 3, 3).count() === 0L)
    // overwrite rewrites the bucket -> shows up as a change
    TableLog.write(Seq(8).toDF("v"), t, "overwrite")       // v4
    assert(TableLog.readChanges(spark, t, 3, 4).collect().map(_.getInt(0)).toSeq === Seq(8))
  }

  test("expireSnapshots: old versions GC'd, kept versions stay exactly readable") {
    import spark.implicits._
    val t = freshTable()
    TableLog.write(Seq(1).toDF("v"), t, "fail")            // v1
    TableLog.write(Seq(2).toDF("v"), t, "overwrite")       // v2
    TableLog.write(Seq(3).toDF("v"), t, "append")          // v3
    val (expired, deleted) = TableLog.expireSnapshots(t, keepLast = 2)
    assert(expired === 1)
    assert(deleted === 1) // v1's rewritten bucket dir is unreferenced by v2/v3
    assert(TableLog.snapshots(t).map(_.snapshot) === Seq(2L, 3L))
    assert(TableLog.readAt(spark, t, 2).collect().map(_.getInt(0)).toSeq === Seq(2))
    assert(TableLog.readAt(spark, t, 3).collect().map(_.getInt(0)).sorted.toSeq === Seq(2, 3))
    assertThrows[IllegalStateException](TableLog.readAt(spark, t, 1))
    // idempotent / no-op when nothing to expire
    assert(TableLog.expireSnapshots(t, keepLast = 5) === ((0, 0)))
  }

  test("createNamespace is idempotent and marks the dir (K4)") {
    val ns = freshTable() + "_ns"
    assert(!TableLog.namespaceExists(ns))
    TableLog.createNamespace(ns)
    TableLog.createNamespace(ns) // IF NOT EXISTS semantics
    assert(TableLog.namespaceExists(ns))
  }

  test("bucketed tables: co-located join runs with NO Exchange on either side") {
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    graft.table.Bucketing.createDb(spark, "graftbuck", loc)
    val pts = (1L to 1000L).map(i => (i % 64, i, s"p$i")).toDF("cell_id", "pt_id", "tag")
    val polys = (1L to 200L).map(i => (i % 64, i)).toDF("cell_id", "poly_id")
    graft.table.Bucketing.writeBucketed(pts, "graftbuck", "pts", 8, Seq("cell_id"))
    graft.table.Bucketing.writeBucketed(polys, "graftbuck", "polys", 8, Seq("cell_id"))
    val joined = graft.table.Bucketing.coLocatedJoin(spark, "graftbuck", "pts", "polys", Seq("cell_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"co-located join still shuffles:\n$plan")
    // correctness: same result as the plain (shuffling) join
    assert(joined.count() ===
      pts.join(polys, "cell_id").count())
  }

  test("SpatialLayout column-math morton == CellGrid.morton; ranges cover the cells") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.table.SpatialLayout
    import graft.index.CellGrid
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((math.abs(rnd.nextLong()) % (1L << 29),
      math.abs(rnd.nextLong()) % (1L << 29)))
    val got = pairs.toDF("cx", "cy")
      .select(SpatialLayout.mortonCol(col("cx"), col("cy"))).as[Long].collect().toSeq
    assert(got === pairs.map { case (x, y) => CellGrid.morton(x, y) })
    // ranges: merged, disjoint, and their total length == #cover cells
    val ranges = SpatialLayout.mortonRanges(-3.0, 40.0, 4.0, 45.0, 8)
    val nCells = CellGrid.coverBBox(-3.0, 40.0, 4.0, 45.0, 8).size
    assert(ranges.map { case (lo, hi) => hi - lo + 1 }.sum === nCells.toLong)
    ranges.sliding(2).foreach {
      case Seq((_, h1), (l2, _)) => assert(h1 + 1 < l2) // merged => gaps between
      case _ => ()
    }
  }

  test("writeClustered: bbox read prunes buckets, returns exactly the full-scan rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.table.SpatialLayout
    val dir = Files.createTempDirectory("graft-zorder").toString + "/pts"
    // 4000 points spread over the world on a deterministic lattice
    val pts = spark.range(4000).select(
        col("id"),
        (col("id") * 97 % 7200 / lit(20.0) - 180.0).as("lon"),
        (col("id") * 131 % 3600 / lit(20.0) - 90.0).as("lat"))
      .withColumn("cell", SpatialLayout.cellCol(col("lon"), col("lat"), 8))
    val snap = TableLog.writeClustered(pts, dir, "fail", 4326, "cell", buckets = 8)
    assert(snap.buckets.size === 8)
    assert(snap.buckets.values.forall(m => m.cellMin.isDefined && m.cellMax.isDefined))
    // buckets are disjoint, ordered cell ranges
    val metas = snap.buckets.toSeq.sortBy(_._1).map(_._2)
    metas.sliding(2).foreach {
      case Seq(a, b) => assert(a.cellMax.get < b.cellMin.get)
      case _ => ()
    }
    // a city-scale bbox touches few buckets...
    val ranges = SpatialLayout.mortonRanges(10.0, 5.0, 14.0, 9.0, 8)
    val touched = TableLog.prunedBuckets(dir, ranges)
    assert(touched.size < 8, s"expected pruning, read ${touched.size} of 8 buckets")
    // ...and the pruned read + exact refine equals the unpruned filter
    def bbox(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("lon") >= 10.0 && col("lon") < 14.0 &&
        col("lat") >= 5.0 && col("lat") < 9.0)
    val got = bbox(TableLog.readCellRanges(spark, dir, "cell", ranges))
      .select("id").as[Long].collect().toSet
    val want = bbox(TableLog.read(spark, dir)).select("id").as[Long].collect().toSet
    assert(want.nonEmpty)
    assert(got === want)
    // statless (plain) writes are never pruned — old manifests stay correct
    val plain = Files.createTempDirectory("graft-zorder2").toString + "/pts"
    TableLog.write(pts, plain, "fail", 4326)
    assert(TableLog.prunedBuckets(plain, ranges).size === 1)
  }

  test("writeClustered on EMPTY input commits one empty bucket; read() still works") {
    import spark.implicits._
    val t = freshTable()
    val empty = Seq.empty[(Long, Long)].toDF("k", "cell")
    val snap = TableLog.writeClustered(empty, t, "fail", 4326, "cell")
    assert(snap.buckets.size === 1)
    assert(TableLog.read(spark, t).count() === 0)
  }

  test("writeClustered on skewed data: empty quantile slices dropped, one atomic commit, merge works") {
    import org.apache.spark.sql.functions._
    import graft.table.SpatialLayout
    val dir = Files.createTempDirectory("graft-skew").toString + "/pts"
    def withCell(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("cell", SpatialLayout.cellCol(col("lon"), col("lat"), 8))
    // 2/3 of rows in ONE hot cell at the top of the morton range: quantile
    // boundaries collide with max(cell), so trailing slices are EMPTY — they
    // must be dropped, not committed as statless buckets
    val hot = spark.range(1000).select(col("id"), lit(179.9).as("lon"), lit(89.9).as("lat"))
    val spread = spark.range(5000, 5500).select(col("id"),
      (col("id") % 300 - 150.0).as("lon"), (col("id") % 150 - 75.0).as("lat"))
    val v1 = TableLog.writeClustered(withCell(hot.unionByName(spread)),
      dir, "fail", 4326, "cell", buckets = 4)
    assert(v1.buckets.nonEmpty)
    assert(v1.buckets.values.forall(m => m.cellMin.isDefined && m.cellMax.isDefined))
    assert(v1.buckets.values.map(_.rows).sum === 1500L)
    assert(v1.snapshot === 1L, "one atomic commit, not one per slice")
    // merge must accept the table (no statless bucket poisons routing)
    val v2 = TableLog.mergeClustered(
      withCell(spark.range(9000, 9001).select(col("id"), lit(0.5).as("lon"), lit(0.5).as("lat"))),
      dir, "id", "cell")
    assert(TableLog.read(spark, dir).count() === 1501L)
    assert(v2.snapshot === 2L)
  }

  test("mergeClustered: copy-on-write touches only routed buckets; compact re-tightens") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.table.SpatialLayout
    val dir = Files.createTempDirectory("graft-merge").toString + "/pts"
    def withCell(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("cell", SpatialLayout.cellCol(col("lon"), col("lat"), 8))
    val pts = withCell(spark.range(2000).select(
      col("id"),
      (col("id") * 97 % 7200 / lit(20.0) - 180.0).as("lon"),
      (col("id") * 131 % 3600 / lit(20.0) - 90.0).as("lat"),
      lit(0L).as("ver")))
    val v1 = TableLog.writeClustered(pts, dir, "fail", 4326, "cell", buckets = 4)
    // upsert: update ids 0/4/8... (same lon/lat => same cell), insert 9000-9009
    val upd = withCell(spark.range(500).select(
      (col("id") * 4).as("id"),
      (col("id") * 4 * 97 % 7200 / lit(20.0) - 180.0).as("lon"),
      (col("id") * 4 * 131 % 3600 / lit(20.0) - 90.0).as("lat"),
      lit(1L).as("ver")))
    val ins = withCell(spark.range(9000, 9010).select(
      col("id"), lit(10.5).as("lon"), lit(6.5).as("lat"), lit(1L).as("ver")))
    // merge 1: LOCALIZED inserts (one cell) — exactly one bucket rewritten,
    // the others carried by REFERENCE (same data paths, no rewrite)
    val v2 = TableLog.mergeClustered(ins, dir, "id", "cell")
    assert(v2.buckets.keySet === v1.buckets.keySet)
    val carried = v2.buckets.count { case (k, m) => v1.buckets(k).path == m.path }
    assert(carried === 3, s"expected 3 of 4 buckets carried, got $carried")
    assert(TableLog.read(spark, dir).count() === 2010)
    // merge 2: scattered updates — matched keys replaced, no stale rows
    val v3 = TableLog.mergeClustered(upd, dir, "id", "cell")
    val now = TableLog.read(spark, dir)
    assert(now.count() === 2010)
    assert(now.filter(col("ver") === 1L).count() === 510)
    assert(now.filter(col("id") % 4 === 0 && col("id") < 2000 && col("ver") === 0L).count() === 0)
    // time travel: v1 still shows the pre-merge rows
    val old = TableLog.readAt(spark, dir, v1.snapshot)
    assert(old.count() === 2000)
    assert(old.filter(col("ver") === 1L).count() === 0)
    // compaction re-clusters into fresh tight buckets; data unchanged
    val v4 = TableLog.compactClustered(spark, dir, "cell", buckets = 4)
    assert(v4.buckets.values.forall(m => m.cellMin.isDefined))
    val compacted = TableLog.read(spark, dir)
    assert(compacted.count() === 2010)
    assert(compacted.select("id").as[Long].collect().toSet ===
      now.select("id").as[Long].collect().toSet)
    assert(v3.snapshot > v2.snapshot && v4.snapshot > v3.snapshot)
  }

  test("commit is atomic: _current always points at a complete manifest") {
    import spark.implicits._
    val t = freshTable()
    TableLog.write(Seq(1).toDF("v"), t, "overwrite")
    val cur = TableLog.current(t).get
    assert(cur.buckets.nonEmpty)
    // a reader sees either the old or the new snapshot, never a partial file
    TableLog.write(Seq(2).toDF("v"), t, "append")
    assert(TableLog.current(t).get.snapshot === cur.snapshot + 1)
  }

  /** Each bucket's manifest `rows` against a read-back count of its dir. */
  private def assertRowsMatchFiles(snap: TableLog.Snapshot, what: String): Unit =
    snap.buckets.foreach { case (b, m) =>
      assert(m.rows === spark.read.parquet(m.path).count(), s"$what: bucket $b")
    }

  test("manifest rows equal the committed rows: every save mode, runCheckpointed, empty frames") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructType}
    val t = freshTable()
    def check(snap: TableLog.Snapshot, what: String): Unit = {
      assertRowsMatchFiles(snap, what)
      assert(snap.buckets.values.map(_.rows).sum === TableLog.read(spark, t).count(), what)
    }
    check(TableLog.write(spark.range(0, 1000, 1, 3).toDF("v"), t, "fail"), "fail")
    check(TableLog.write(Seq(1L, 2L).toDF("v"), t, "append"), "append")
    check(TableLog.write(spark.range(500).repartition(7).filter($"id" % 3 === 0).toDF("v"),
      t, "append"), "filtered + repartitioned append")
    check(TableLog.write(spark.range(40).toDF("v"), t, "overwrite"), "overwrite")
    val local0 = TableLog.write(Seq.empty[Long].toDF("v"), t, "append")
    assert(local0.buckets("all-1").rows === 0L)
    check(local0, "zero-row local frame")
    val noParts = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      new StructType().add("v", LongType))
    assert(noParts.rdd.getNumPartitions === 0)
    val empty = TableLog.write(noParts, t, "append")
    assert(empty.buckets("all-2").rows === 0L)
    check(empty, "zero-partition emptyRDD frame")
    val c = freshTable()
    val (snap, _, written) = TableLog.runCheckpointed(spark, c, Seq("b1", "b2", "b3"),
      b => spark.range(b.last.asDigit * 10L).toDF("v"))
    assert(written.size === 3)
    assert(snap.buckets.values.map(_.rows).toSeq.sorted === Seq(10L, 20L, 30L))
    assertRowsMatchFiles(snap, "runCheckpointed")
  }

  test("StreamIngest: batch buckets' manifest rows sum to the streamed row count") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-rows").toString
    val table = s"$dir/t"
    val in = MemoryStream[Long]
    val sizes = Seq(5, 17, 3)
    sizes.scanLeft(0)(_ + _).zip(sizes).foreach { case (from, n) =>
      in.addData((from until from + n).map(_.toLong))
      graft.streaming.StreamIngest.ingest(in.toDF().toDF("id"), table, s"$dir/ckpt")
        .awaitTermination()
    }
    val snap = TableLog.current(table).get
    assert(snap.buckets.keySet.forall(_.startsWith("batch-")))
    assert(snap.buckets.size >= sizes.size)
    assert(snap.buckets.values.map(_.rows).sum === sizes.sum.toLong)
    assert(TableLog.read(spark, table).count() === sizes.sum.toLong)
    assertRowsMatchFiles(snap, "stream")
  }

  test("mergeClustered: rewritten buckets carry rows and cell span equal to their files") {
    import org.apache.spark.sql.functions._
    import graft.table.SpatialLayout
    val dir = Files.createTempDirectory("graft-merge-stats").toString + "/pts"
    def pts(ids: org.apache.spark.sql.DataFrame, ver: Long) = ids.select(col("id"),
        (col("id") * 97 % 7200 / lit(20.0) - 180.0).as("lon"),
        (col("id") * 131 % 3600 / lit(20.0) - 90.0).as("lat"), lit(ver).as("ver"))
      .withColumn("cell", SpatialLayout.cellCol(col("lon"), col("lat"), 8))
    val v1 = TableLog.writeClustered(pts(spark.range(2000).toDF(), 0L), dir, "fail", 4326,
      "cell", buckets = 4)
    // updates of every 7th id plus inserts past the old id range
    val v2 = TableLog.mergeClustered(
      pts(spark.range(0, 2600, 7).toDF(), 1L), dir, "id", "cell")
    val rewritten = v2.buckets.filter { case (k, m) => v1.buckets(k).path != m.path }
    assert(rewritten.nonEmpty)
    rewritten.foreach { case (b, m) =>
      val r = spark.read.parquet(m.path).agg(count(lit(1)), min("cell"), max("cell")).head()
      assert((m.rows, m.cellMin, m.cellMax) === ((r.getLong(0), Some(r.getLong(1)), Some(r.getLong(2)))),
        s"bucket $b")
    }
    assert(v2.buckets.values.map(_.rows).sum === TableLog.read(spark, dir).count())
  }

  test("a table commit runs exactly the jobs of the bare parquet write") {
    val df = spark.range(0, 5000, 1, 4).toDF("v")
    val bare = Probes.jobs(spark)(df.write.mode("overwrite").parquet(freshTable()))
    val commit = Probes.jobs(spark)(TableLog.write(df, freshTable(), "fail"))
    assert(bare >= 1)
    assert(commit === bare)
  }

  test("directory listings and walks leave no file descriptor open") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-fds").toRealPath().toString
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    FileFixtures.writeGeoJson(s"$in/a.geojson")
    FileFixtures.writeGeoJson(s"$in/b.geojson")
    assert(SourceDispatch.readDir(spark, in).columns.nonEmpty)
    val t = s"$root/t"
    TableLog.write(spark.range(3).toDF("v"), t, "fail")
    TableLog.write(spark.range(5).toDF("v"), t, "overwrite")
    TableLog.write(spark.range(2).toDF("v"), t, "append")
    assert(TableLog.snapshots(t).map(_.snapshot) === Seq(1L, 2L, 3L))
    assert(TableLog.expireSnapshots(t, keepLast = 1) === ((2, 1)))
    TableLog.writeClustered(spark.range(100).withColumn("cell", col("id") * 3),
      s"$root/c", "fail", 4326, "cell", buckets = 2)
    assert(Probes.openFdsUnder(root) === Nil)
  }
}
