package graft.table

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Iceberg-style snapshot log over Parquet directories (north-rule
  * checkpoint/lineage operator; no Iceberg jar offline, so the manifest
  * format is our own — same commit discipline: write-temp + atomic rename,
  * immutable snapshots, a `_current` pointer).
  *
  * Layout:
  * {{{
  *   <table>/_graft_log/v%08d.json   immutable snapshot manifests
  *   <table>/_graft_log/_current     pointer file (atomic rename commit)
  *   <table>/data/bucket=<name>/     one dir per logical input partition
  * }}}
  *
  * A snapshot records, per committed bucket: rows written, wall millis,
  * data path — the per-partition lineage + metrics the north rule asks
  * for. Resume = read current snapshot, skip its committed buckets.
  * Generalizes the reference's whole-table save modes
  * (`/root/reference/src/pg/crud.rs:86-117`, K5/K6) to partition-grained
  * idempotent commits.
  */
object TableLog {

  /** cellMin/cellMax: Morton cell-id range of the bucket's rows when it
    * was written through [[writeClustered]] — the manifest-level stat that
    * lets a spatial read skip whole buckets (absent on non-spatial writes;
    * a statless bucket is always read, so old manifests stay correct). */
  final case class BucketMeta(path: String, rows: Long, millis: Long,
                              cellMin: Option[Long] = None, cellMax: Option[Long] = None)
  final case class Snapshot(
      snapshot: Long,
      parent: Option[Long],
      schemaDdl: String,
      srid: Int,
      mode: String,
      tsMillis: Long,
      buckets: Map[String, BucketMeta])

  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  private def logDir(table: String): Path = Paths.get(table, "_graft_log")
  private def currentPtr(table: String): Path = logDir(table).resolve("_current")

  def exists(table: String): Boolean = Files.exists(currentPtr(table))

  /** Namespace analog of the reference's `CREATE SCHEMA IF NOT EXISTS`
    * (K4, `/root/reference/src/pg/crud.rs:14-18`): a directory with a
    * marker file; idempotent. Tables live under it as subdirectories. */
  def createNamespace(path: String): Unit = {
    Files.createDirectories(Paths.get(path))
    val marker = Paths.get(path, "_graft_namespace")
    if (!Files.exists(marker)) Files.write(marker, Array.emptyByteArray)
  }

  def namespaceExists(path: String): Boolean =
    Files.exists(Paths.get(path, "_graft_namespace"))

  def current(table: String): Option[Snapshot] =
    if (!exists(table)) None
    else {
      val name = new String(Files.readAllBytes(currentPtr(table)), "UTF-8").trim
      Some(Serialization.read[Snapshot](
        new String(Files.readAllBytes(logDir(table).resolve(name)), "UTF-8")))
    }

  /** Atomic commit with a compare-and-swap on the manifest: the snapshot
    * file is created via hard link, which FAILS atomically if the manifest
    * already exists — two drivers committing the same snapshot number race,
    * exactly one wins, the loser gets [[graft.GraftError.ConcurrentCommit]]
    * (re-read `current` and retry on a fresh base). A plain ATOMIC_MOVE
    * would silently REPLACE on Linux, interleaving the two writers'
    * timelines. The `_current` pointer flip stays a replacing atomic move:
    * with the manifest CAS, only the winner reaches it. */
  def commit(table: String, snap: Snapshot): Unit = {
    Files.createDirectories(logDir(table))
    val name = f"v${snap.snapshot}%08d.json"
    val target = logDir(table).resolve(name)
    // unique temp per writer: racing writers must not collide on the temp
    val tmp = logDir(table).resolve(s".$name.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, Serialization.write(snap).getBytes("UTF-8"))
    try {
      try Files.createLink(target, tmp) // atomic fail-if-exists
      catch {
        case _: UnsupportedOperationException =>
          // filesystem without hard links: best-effort check + atomic move
          if (Files.exists(target)) throw new java.nio.file.FileAlreadyExistsException(target.toString)
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw graft.GraftError.ConcurrentCommit(table, snap.snapshot)
    } finally Files.deleteIfExists(tmp)
    val ptmp = logDir(table).resolve(s"._current.${java.util.UUID.randomUUID()}.tmp")
    Files.write(ptmp, name.getBytes("UTF-8"))
    Files.move(ptmp, currentPtr(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def snapshots(table: String): Seq[Snapshot] =
    if (!Files.exists(logDir(table))) Seq.empty
    else Using.resource(Files.list(logDir(table)))(_.iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d{8}\\.json")).toSeq).sortBy(_.toString)
      .map(p => Serialization.read[Snapshot](new String(Files.readAllBytes(p), "UTF-8")))

  /** The save-mode check of [[write]], cheap enough to run before the input
    * is read: an unknown mode throws [[graft.GraftError.InvalidMode]], mode
    * "fail" onto an existing table [[graft.GraftError.TableExists]]. */
  def checkWritable(table: String, mode: String): Unit = mode match {
    case "fail" => if (exists(table)) throw graft.GraftError.TableExists(table)
    case "overwrite" | "append" => ()
    case m => throw graft.GraftError.InvalidMode(m)
  }

  /** Whole-table write with reference save modes (K5 fail / K6 overwrite,
    * + append). One bucket named "all" ("all-<n>" for the n-th append). */
  def write(df: DataFrame, table: String, mode: String, srid: Int = 4326): Snapshot = {
    checkWritable(table, mode)
    val (bucket, base) = mode match {
      case "fail" => ("all", None)
      // overwrite continues the snapshot CHAIN with an emptied bucket map
      // (do NOT restart numbering: a fresh base would re-commit
      // v00000001.json over the existing manifest and corrupt the lineage
      // after overwrite -> append -> overwrite)
      case "overwrite" => ("all", current(table).map(_.copy(buckets = Map.empty)))
      case _ =>
        val b = current(table)
        (s"all-${b.map(_.buckets.size).getOrElse(0)}", b)
    }
    commitBucket(table,
      base.getOrElse(Snapshot(0L, None, "", srid, mode, System.currentTimeMillis(), Map.empty)),
      bucket, df, mode, srid)
  }

  /** Write one bucket's parquet dir and commit a new snapshot including it.
    * The data dir is VERSIONED by the committing snapshot number, so data
    * files are immutable once their manifest commits (Iceberg discipline):
    * a later rewrite of the same bucket lands in a new dir and older
    * snapshots stay exactly readable ([[readAt]] time travel). Still
    * idempotent after a crash: a re-run recomputes the same snapshot
    * number, overwrites the orphaned (never-committed) dir, and commits. */
  def commitBucket(table: String, base: Snapshot, bucket: String, df: DataFrame,
                   mode: String, srid: Int): Snapshot = {
    val t0 = System.currentTimeMillis()
    val path = f"$table/data/bucket=$bucket/v=${base.snapshot + 1}%08d"
    val (rows, _, _) = writeCounted(df, path, cellCol = None)
    val snap = base.copy(
      snapshot = base.snapshot + 1,
      parent = if (base.schemaDdl.isEmpty) None else Some(base.snapshot),
      schemaDdl = df.schema.toDDL,
      srid = srid,
      mode = mode,
      tsMillis = System.currentTimeMillis(),
      buckets = base.buckets +
        (bucket -> BucketMeta(path, rows, System.currentTimeMillis() - t0)))
    commit(table, snap)
    snap
  }

  /** Write `df` as the parquet dir `path` in ONE job and return (rows,
    * cellMin, cellMax) as that job counted them: an `observe` is the last
    * operator before the write, so the metrics are gathered in the write's
    * result stage, where Spark applies each task's accumulator update once
    * (retried and speculative tasks do not double count). A failed write
    * throws before the observation is read, so the count is the row count
    * of the committed files — no re-read of them. */
  private def writeCounted(df: DataFrame, path: String,
                           cellCol: Option[String]): (Long, Option[Long], Option[Long]) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val obs = Observation()
    val cellStats = cellCol.toSeq.flatMap(c => Seq(min(col(c)), max(col(c))))
    df.observe(obs, count(lit(1)), cellStats: _*).write.mode("overwrite").parquet(path)
    // the metrics arrive with the write's query-end event; bounded so a
    // lost event fails the commit instead of hanging the driver
    val r = Await.result(obs.future, 10.minutes)
    def stat(i: Int) = if (r.length <= i || r.isNullAt(i)) None else Some(r.getLong(i))
    (r.getLong(0), stat(1), stat(2))
  }

  /** Z-order clustered spatial write: range-split the Morton cell column
    * into up to `buckets` slices (approx-quantile boundaries — the same
    * sampling RangePartitioner uses), sort each slice by cell within
    * partitions, and commit each as its own bucket with min/max cell
    * stats. Two skip levels on read: whole buckets via the manifest stats
    * ([[prunedBuckets]]), row groups inside a bucket via parquet column
    * stats (tight because the data is cell-sorted). This is the
    * data-skipping a spatial table needs at 100 TB: a city-scale bbox
    * query must not scan the planet. */
  def writeClustered(df: DataFrame, table: String, mode: String, srid: Int,
                     cellCol: String, buckets: Int = 8): Snapshot = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
    require(buckets >= 1, "buckets must be >= 1")
    val base = mode match {
      case "fail" =>
        if (exists(table)) throw graft.GraftError.TableExists(table)
        None
      case "overwrite" => current(table)
      case m => throw graft.GraftError.InvalidMode(m)
    }
    // materialize ONCE: quantiles, routing counts, and every slice write
    // would otherwise re-execute the caller's full lineage (buckets + 2
    // times); same discipline as Dedup's shared-subtree checkpoints
    val src = df.localCheckpoint(false)
    // boundaries computed IN LONG SPACE (percentile_approx on the Long
    // column): approxQuantile returns Doubles, and Morton ids above 2^53
    // (grid level > 26) lose precision in the Long->Double cast, misrouting
    // boundary rows between slices
    val bounds: Array[Long] =
      if (buckets == 1) Array.empty[Long]
      else {
        val ps = (1 until buckets).map(_.toDouble / buckets)
        val r = src.select(org.apache.spark.sql.functions.percentile_approx(
          col(cellCol), org.apache.spark.sql.functions.typedlit(ps), lit(10000)).as("q")).head()
        if (r.isNullAt(0)) Array.empty[Long]
        else r.getSeq[Long](0).distinct.sorted.toArray
      }
    val sliceIdx = bounds.zipWithIndex.foldLeft(lit(0)) { case (acc, (b, i)) =>
      when(col(cellCol) > b, i + 1).otherwise(acc)
    }
    val idxed = src.withColumn("zcb", sliceIdx)
    // r6: per-bucket stats (count/min/max cell) come from ONE groupBy over
    // the checkpointed source — deterministic routing means they equal the
    // old post-write re-read, at zero file I/O. The same job finds the
    // non-empty slices (skewed data can leave quantile slices EMPTY, and
    // an empty bucket would carry no cell stats and poison mergeClustered).
    val stats = idxed.groupBy("zcb")
      .agg(count(lit(1)), min(col(cellCol)), max(col(cellCol)))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .sortBy(_._1)
    // write every slice dir at snapshot+1 FIRST, then commit ONE snapshot:
    // per-slice commits would expose a partial table to concurrent readers
    // (and strand one on a mid-write crash) in overwrite/compaction mode.
    // r6: all slices in ONE dynamic-partitioned write job (was one
    // filter+write job per bucket + one stats re-read per bucket — ~2x
    // buckets jobs collapsed to 2). Pre-sorting by (zcb, cell) satisfies
    // the writer's partition-column ordering (no extra sort) AND keeps
    // each bucket file internally cell-sorted, so parquet row-group
    // min/max stats stay as tight as the per-bucket writes produced.
    val next = base.map(_.snapshot).getOrElse(0L) + 1
    val t0 = System.currentTimeMillis()
    val tmp = f"$table/_zc_tmp_$next%08d"
    var bucketMap = Map.empty[String, BucketMeta]
    if (stats.isEmpty) {
      // EMPTY INPUT still commits one (empty) bucket: a zero-bucket
      // snapshot would make read() call spark.read.parquet with no paths
      // and throw, unlike write(), which always commits one bucket.
      val path = f"$table/data/bucket=cell-0000/v=$next%08d"
      idxed.limit(0).drop("zcb").write.mode("overwrite").parquet(path)
      bucketMap += ("cell-0000" -> BucketMeta(path, 0L,
        System.currentTimeMillis() - t0, None, None))
    } else {
      idxed.sortWithinPartitions(col("zcb"), col(cellCol))
        .write.mode("overwrite").partitionBy("zcb").parquet(tmp)
      val wallMs = System.currentTimeMillis() - t0
      stats.foreach { case (i, (rows, cellMin, cellMax)) =>
        val name = f"cell-$i%04d"
        val path = f"$table/data/bucket=$name/v=$next%08d"
        val target = Paths.get(path)
        Files.createDirectories(target.getParent)
        // same-filesystem dir rename: the slice lands whole or not at all
        Files.move(Paths.get(s"$tmp/zcb=$i"), target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        bucketMap += (name -> BucketMeta(path, rows, wallMs, cellMin, cellMax))
      }
      // drop the now-empty staging dir (keeps _SUCCESS etc.)
      deleteTree(Paths.get(tmp))
    }
    val snap = Snapshot(next, base.map(_.snapshot), df.schema.toDDL, srid, mode,
      System.currentTimeMillis(), bucketMap)
    commit(table, snap)
    snap
  }

  /** Copy-on-write upsert into a CLUSTERED table (Iceberg MERGE shape):
    * each incoming row routes to the bucket whose cell span contains it
    * (buckets ordered by cellMin; a row below the first span joins the
    * first bucket), and ONLY buckets that receive rows are rewritten —
    * matched `key`s replaced, everything else carried forward by
    * REFERENCE (untouched buckets keep their data paths, so at 100 TB an
    * upsert touching one city rewrites one bucket, not the planet). One
    * snapshot commits the whole merge; time travel still sees the old
    * version. Requires every bucket to carry cell stats (i.e. the table
    * was written by [[writeClustered]]). Constraint: a key's cell must be
    * stable across upserts — a row whose location moves buckets leaves its
    * stale twin in the old bucket (delete-then-insert for moves, the same
    * contract Iceberg's bucket-partitioned MERGE has for partition
    * columns). */
  def mergeClustered(df: DataFrame, table: String, key: String, cellCol: String): Snapshot = {
    import org.apache.spark.sql.functions.{col, count, lit, when}
    val base = current(table).getOrElse(throw new IllegalStateException(s"no snapshot: $table"))
    val ordered = base.buckets.toSeq.sortBy(_._2.cellMin.getOrElse(
      throw new IllegalStateException(s"bucket without cell stats in $table — not a clustered table")))
    // route each incoming row to its bucket: greatest cellMin <= cell
    val bucketIdx = ordered.zipWithIndex.tail.foldLeft(lit(0)) { case (acc, ((_, m), i)) =>
      when(col(cellCol) >= m.cellMin.get, i).otherwise(acc)
    }
    // materialized once: the routing count + every affected bucket's write
    // otherwise re-execute the incoming lineage per bucket
    val routed = df.withColumn("_mrg_b", bucketIdx).localCheckpoint(false)
    // ONE job finds the affected buckets (small result: at most #buckets rows)
    val affected = routed.groupBy("_mrg_b").agg(count(lit(1)))
      .collect().map(_.getInt(0)).toSet
    val next = base.snapshot + 1
    var buckets = base.buckets
    ordered.zipWithIndex.foreach { case ((name, meta), i) =>
      if (affected(i)) {
        val incoming = routed.filter(col("_mrg_b") === i).drop("_mrg_b")
        val t0 = System.currentTimeMillis()
        val old = df.sparkSession.read.parquet(meta.path)
        val merged = old.join(incoming.select(col(key)), Seq(key), "left_anti")
          .unionByName(incoming)
          .sortWithinPartitions(cellCol)
        val path = f"$table/data/bucket=$name/v=$next%08d"
        val (rows, cellMin, cellMax) = writeCounted(merged, path, Some(cellCol))
        buckets += (name -> BucketMeta(path, rows, System.currentTimeMillis() - t0, cellMin, cellMax))
      }
    }
    val snap = base.copy(snapshot = next, parent = Some(base.snapshot),
      mode = "merge", tsMillis = System.currentTimeMillis(), buckets = buckets)
    commit(table, snap)
    snap
  }

  /** Bucket compaction/re-clustering: rewrite the CURRENT data as a fresh
    * clustered layout (new quantile boundaries, `buckets` slices) in one
    * snapshot — the table-maintenance pass that restores tight cell spans
    * after many merges have widened them. Old snapshots remain readable
    * until [[expireSnapshots]]. */
  def compactClustered(spark: SparkSession, table: String,
                       cellCol: String, buckets: Int = 8): Snapshot =
    writeClustered(read(spark, table), table, "overwrite",
      current(table).map(_.srid).getOrElse(4326), cellCol, buckets)

  /** Buckets of the current snapshot a query over `ranges` must read:
    * cell-stat buckets whose [cellMin, cellMax] intersects some range,
    * plus every statless bucket (correctness over optimism). */
  def prunedBuckets(table: String, ranges: Seq[(Long, Long)]): Seq[(String, BucketMeta)] =
    prunedBuckets(
      current(table).getOrElse(throw new IllegalStateException(s"no snapshot: $table")),
      ranges)

  /** Snapshot-explicit form — callers that already resolved a snapshot use
    * this so one read sees ONE snapshot (resolving current() twice can mix
    * two snapshots across a concurrent commit). */
  def prunedBuckets(snap: Snapshot, ranges: Seq[(Long, Long)]): Seq[(String, BucketMeta)] =
    snap.buckets.toSeq.filter { case (_, m) =>
      (m.cellMin, m.cellMax) match {
        case (Some(lo), Some(hi)) => ranges.exists { case (a, b) => a <= hi && lo <= b }
        case _ => true
      }
    }

  /** Range-pruned spatial read: only the buckets [[prunedBuckets]] keeps
    * are opened; the range predicate is applied as an OR of BETWEENs so
    * parquet row-group stats prune further inside each bucket. Callers
    * refine with their exact geometry predicate — cell ranges cover the
    * query region, they do not equal it. */
  def readCellRanges(spark: SparkSession, table: String, cellCol: String,
                     ranges: Seq[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    // resolve current() ONCE: schema and bucket list must come from the
    // same snapshot even if a commit lands mid-call
    val snap = current(table).getOrElse(throw new IllegalStateException(s"no snapshot: $table"))
    val keep = prunedBuckets(snap, ranges)
    if (keep.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(snap.schemaDdl))
    else spark.read.parquet(keep.map(_._2.path): _*)
      .filter(SpatialLayout.rangePredicate(col(cellCol), ranges))
  }

  /** Read the current snapshot's data. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val snap = current(table).getOrElse(throw new IllegalStateException(s"no snapshot: $table"))
    spark.read.parquet(snap.buckets.values.map(_.path).toSeq: _*)
  }

  def snapshotAt(table: String, version: Long): Option[Snapshot] = {
    val p = logDir(table).resolve(f"v$version%08d.json")
    if (Files.exists(p))
      Some(Serialization.read[Snapshot](new String(Files.readAllBytes(p), "UTF-8")))
    else None
  }

  /** Time travel: read the table exactly as of snapshot `version`. Data
    * dirs are per-snapshot immutable, so this is a plain parquet read of
    * that manifest's paths — no reconstruction. */
  def readAt(spark: SparkSession, table: String, version: Long): DataFrame = {
    val snap = snapshotAt(table, version).getOrElse(
      throw new IllegalStateException(s"no snapshot v$version: $table"))
    if (snap.buckets.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(snap.buckets.values.map(_.path).toSeq: _*)
  }

  /** Incremental (CDC-style appended-data) read: the buckets ADDED or
    * REWRITTEN in snapshots (fromVersion, toVersion] — i.e. whose data path
    * appears in `to`'s manifest but not in `from`'s. A streaming-batch
    * consumer resumes by remembering only the last version it processed. */
  def readChanges(spark: SparkSession, table: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    val fromPaths = snapshotAt(table, fromVersion).map(_.buckets.values.map(_.path).toSet)
      .getOrElse(if (fromVersion == 0L) Set.empty[String]
                 else throw new IllegalStateException(s"no snapshot v$fromVersion: $table"))
    val to = snapshotAt(table, toVersion).getOrElse(
      throw new IllegalStateException(s"no snapshot v$toVersion: $table"))
    val added = to.buckets.values.map(_.path).filterNot(fromPaths).toSeq
    if (added.isEmpty) spark.emptyDataFrame else spark.read.parquet(added: _*)
  }

  /** Iceberg-style snapshot expiry: keep the newest `keepLast` manifests
    * (always including the current one), delete older manifests and any
    * data dir no kept snapshot references. Kept snapshots remain exactly
    * readable; expired versions stop time-traveling. Returns
    * (expired manifest count, deleted data dir count). */
  def expireSnapshots(table: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val all = snapshots(table)
    if (all.size <= keepLast) return (0, 0)
    val (expire, keep) = all.splitAt(all.size - keepLast)
    val live = keep.flatMap(_.buckets.values.map(m => Paths.get(m.path).normalize())).toSet
    var dirsDeleted = 0
    expire.foreach { s =>
      s.buckets.values.map(m => Paths.get(m.path).normalize()).filterNot(live).foreach { d =>
        if (Files.exists(d)) {
          deleteTree(d)
          dirsDeleted += 1
        }
      }
      Files.deleteIfExists(logDir(table).resolve(f"v${s.snapshot}%08d.json"))
    }
    (expire.size, dirsDeleted)
  }

  private def deleteTree(root: Path): Unit =
    Using.resource(Files.walk(root))(_.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => { Files.deleteIfExists(p); () }))

  /** Checkpointed multi-bucket job: computes each logical input partition
    * via `bucketDf` and commits it as its own snapshot; on re-run, buckets
    * already in the current snapshot are SKIPPED (resume from checkpoint).
    * Returns (snapshot, skipped, written). */
  def runCheckpointed(spark: SparkSession, table: String, buckets: Seq[String],
                      bucketDf: String => DataFrame, srid: Int = 4326): (Snapshot, Seq[String], Seq[String]) = {
    var snap = current(table).getOrElse(
      Snapshot(0L, None, "", srid, "checkpoint", System.currentTimeMillis(), Map.empty))
    val (skipped, todo) = buckets.partition(snap.buckets.contains)
    todo.foreach { b => snap = commitBucket(table, snap, b, bucketDf(b), "checkpoint", srid) }
    (snap, skipped, todo)
  }
}
