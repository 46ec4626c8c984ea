package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.TableMemo

/** Deterministic batch replays of the streaming operators, shaped for the
  * driver's DuckDB oracle (r4 verdict item 1: the streaming families were
  * spec-only — parity specs prove stream == batch in-JVM, but the driver
  * never saw them). Each replay feeds a fixture table through the REAL
  * streaming operator (MemoryStream source, memory sink, watermarks and
  * stateful operators live) in a fixed chunk order, then emits the FINAL
  * streaming state as a BIGINT table whose oracle is the equivalent batch
  * query over the same fixture.
  *
  * Determinism: chunk boundaries are fixed functions of the sorted fixture,
  * watermarks are wide enough that no fixture row is late-dropped (the
  * streaming-vs-batch divergence the parity specs exercise separately), and
  * every emitted column is integer — so the replay output is a pure
  * function of the fixture, the same property every batch query here has.
  *
  * Scale note: the replay HARNESS collects the fixture to the driver to
  * feed MemoryStream — that is the test-rig boundary, not the operator's.
  * The operators themselves are unbounded-input streaming plans; their
  * state-size story is in their own scaladoc.
  */
object StreamReplay {

  private val seq = new AtomicLong(0)

  /** Start `out` on a fresh memory sink, run `feed(i)` + processAllAvailable
    * for each chunk, stop, and return the sink contents. The sink table
    * (named uniquely per run) retains the final rows after stop.
    *
    * The checkpoint goes under [[graft.Scratch.dir]] (tmpfs): a stateful
    * micro-batch commits one delta file per state-store partition per
    * batch, and the default java.io.tmpdir sits on this sandbox's ~40 MB/s
    * high-sys virtio disk — measured 2-5x the whole replay's wall time.
    * Streaming state durability is a per-run transient here by design
    * (each replay is a fresh deterministic run), so tmpfs placement
    * changes no recovery story; the directory is deleted after the run. */
  private def drain(out: DataFrame, nChunks: Int, mode: String = "append")
                   (feed: Int => Unit): DataFrame = {
    val name = s"graft_replay_${seq.incrementAndGet()}"
    // checkpoint name unique ACROSS JVMs (tmpfs outlives the process; a
    // crash-leftover checkpoint under a reused name would make the next
    // run resume against this run's dead MemoryStream offsets)
    val ckpt = new java.io.File(graft.Scratch.dir,
      s"ckpt_${name}_${java.util.UUID.randomUUID()}")
    val sess = out.sparkSession
    // replay fixtures are tiny relative to a production stream, but a
    // stateful micro-batch schedules (shuffle partitions) tasks per state
    // store per batch — at the session's 32 that is ~hundreds of near-empty
    // tasks per replay. Scope the streaming query to 2 state partitions
    // (state partitioning is fixed by the FIRST batch from the session
    // conf; a fresh checkpoint per run makes this safe, and partition
    // count never changes WHAT a keyed stateful operator computes — only
    // where keys live). r6: 8 -> 2 — each state store instance costs a
    // task + a commit + a delta file PER micro-batch, so the replay pays
    // (partitions x batches x stateful-operators) fixed overheads; 2 keeps
    // multi-partition state-merge semantics exercised at a quarter of the
    // cost. Production callers start their own queries and inherit their
    // session's value.
    val prev = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set("spark.sql.shuffle.partitions", "2")
    // r6: every processAllAvailable also runs watermark-only no-data
    // micro-batches (a full state-store commit cycle with zero input).
    // The replays never rely on them: each feeds its next chunk as a DATA
    // batch, and the sessionize timeout flush is driven by the two
    // sentinel DATA rounds (watermark advanced by round 2's batch, timers
    // fire inside round 3's). Disabling trims ~1 commit cycle per chunk;
    // restored after the run — production queries keep their session's
    // default (on), which matters for low-traffic streams where timers
    // must fire without new data.
    val prevNoData = sess.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val q = out.writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", ckpt.getAbsolutePath).start()
      try (0 until nChunks).foreach { i => feed(i); q.processAllAvailable() }
      finally {
        q.stop()
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        try rm(ckpt) catch { case _: Throwable => () }
      }
    } finally {
      sess.conf.set("spark.sql.shuffle.partitions", prev)
      sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    sess.table(name)
  }

  private def halves[T](rows: Seq[T]): Array[Seq[T]] = {
    val (a, b) = rows.splitAt(rows.size / 2)
    Array(a, b)
  }

  /** q95: the stream-stream interval join ([[StreamJoin.clickViewJoin]])
    * replayed over the events table in two interleaved chunks per side —
    * matches must span micro-batches, both state stores live. Watermark 31
    * days keeps the whole 30-day fixture in-horizon (no drops), so the
    * final match set equals the batch interval join the oracle runs.
    * Output: (event_id, user_id, view_id). */
  def joinReplay(s: SparkSession, dir: String,
                 lookback: String = "6 hours"): DataFrame = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val ev = TableMemo.parquet(s, s"$dir/events.parquet")
    def side(kind: String) = ev.filter(col("event_type") === kind)
      .selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts")
      .as[(Long, Long, Timestamp)].collect().toSeq
      .sortBy(r => (r._3.getTime, r._1))
    val clicks = halves(side("click"))
    val views = halves(side("view"))
    val inC = MemoryStream[(Long, Long, Timestamp)]
    val inV = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamJoin.clickViewJoin(
      inC.toDF().toDF("event_id", "user_id", "ts"),
      inV.toDF().toDF("view_id", "user_id", "ts"),
      lookback = lookback, watermark = "31 days")
    drain(joined, 2) { i =>
      inC.addData(clicks(i): _*); inV.addData(views(i): _*); ()
    }.select(col("event_id"), col("user_id"), col("view_id"))
  }

  /** DuckDB replica of [[joinReplay]]: the batch interval join, in exact
    * integer-microsecond arithmetic. */
  def joinReplaySql(lookbackUs: Long = 6L * 3600 * 1000000): String =
    s"""SELECT c.event_id, c.user_id, v.event_id AS view_id
       | FROM events c JOIN events v
       |   ON c.event_type = 'click' AND v.event_type = 'view'
       |  AND c.user_id = v.user_id
       |  AND epoch_us(v.ts) >= epoch_us(c.ts) - $lookbackUs
       |  AND epoch_us(v.ts) <= epoch_us(c.ts)""".stripMargin.replace("\n", " ")

  /** q96: the streaming windowed count-min sketch
    * ([[StreamSketch.windowedCms]]) replayed over the events table (key =
    * user_id, 1-day tumbling windows) in two chunks, so every window's
    * sketch partials MERGE across micro-batches through the state store.
    * Output: one row per nonzero counter — (win_start_us, pos, cnt) — the
    * sketch STATE itself, which the oracle rebuilds counter-by-counter
    * (integer sums are order-independent, the property that makes a
    * streaming sketch exact in the first place). */
  def cmsReplay(s: SparkSession, dir: String,
                depth: Int = 4, width: Int = 64): DataFrame = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val rows = TableMemo.parquet(s, s"$dir/events.parquet")
      .selectExpr("CAST(ts AS TIMESTAMP) AS ts", "user_id")
      .as[(Timestamp, Long)].collect().toSeq
      .sortBy(r => (r._1.getTime, r._2))
    val chunks = halves(rows)
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamSketch.windowedCms(in.toDF().toDF("ts", "key"),
      windowLen = "1 day", watermark = "40 days", depth = depth, width = width)
    drain(out, 2, mode = "complete") { i => in.addData(chunks(i): _*); () }
      .select(unix_micros(col("win_start")).as("win_start_us"),
        posexplode(col("cms")).as(Seq("pos", "cnt")))
      .filter(col("cnt") > 0)
      .select(col("win_start_us"), col("pos").cast("long").as("pos"), col("cnt"))
  }

  /** DuckDB replica of [[cmsReplay]]: per (1-day window, depth row i)
    * the counter at pos = i*width + ((key*A_i + B_i) mod P) mod width sums
    * the window's per-key counts. */
  def cmsReplaySql(depth: Int = 4, width: Int = 64): String = {
    import graft.ops.Sketches.{CmsA, CmsB, P}
    val dayUs = 86400000000L
    val rows = (0 until depth).map { i =>
      s"""SELECT w, CAST($i * $width +
         |   ((key * ${CmsA(i)} + ${CmsB(i)}) % $P) % $width AS BIGINT) AS pos,
         | cnt FROM kcnt""".stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL ")
    s"""WITH ev AS (SELECT (epoch_us(ts) // $dayUs) * $dayUs AS w, user_id AS key FROM events),
       | kcnt AS (SELECT w, key, count(*) AS cnt FROM ev GROUP BY 1, 2),
       | posed AS ($rows)
       | SELECT w AS win_start_us, pos, CAST(sum(cnt) AS BIGINT) AS cnt
       | FROM posed GROUP BY 1, 2""".stripMargin.replace("\n", " ")
  }

  /** q97: the streaming sessionizer ([[StreamSessionize.sessions]])
    * replayed over the events table in two time-ordered chunks, then two
    * sentinel rounds (a far-future user) advance the watermark so every
    * real user's open session flushes through the event-time timeout —
    * the stream's final emitted set equals the batch
    * [[graft.ops.Sessionize.sessionize]] rollup, which is the oracle
    * (q82's SQL verbatim). Sentinel rows are filtered back out. */
  def sessionizeReplay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val rows = TableMemo.parquet(s, s"$dir/events.parquet")
      .selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts")
      .as[(Long, Long, Timestamp)].collect().toSeq
      .sortBy(r => (r._3.getTime, r._2))
    require(rows.nonEmpty, "events fixture must not be empty")
    val sentinel = 999999999L
    require(!rows.exists(_._1 == sentinel), "sentinel user collides with fixture")
    val maxTs = rows.map(_._3.getTime).max
    val chunks = halves(rows)
    val in = MemoryStream[(Long, Long, Timestamp)]
    val out = StreamSessionize.sessions(
      in.toDF().toDF("user_id", "event_id", "ts"), watermark = "1 minute")
    val sunk = drain(out.toDF(), 4) {
      case i if i < 2 => in.addData(chunks(i): _*); ()
      // round 1 advances the watermark past every real event's gap; round 2
      // runs the micro-batch in which those event-time timeouts fire
      case 2 => in.addData((sentinel, 1L, new Timestamp(maxTs + 365L * 86400000))); ()
      case _ => in.addData((sentinel, 2L, new Timestamp(maxTs + 366L * 86400000))); ()
    }
    sunk.filter(col("user_id") =!= sentinel)
      .select("user_id", "sess_idx", "n_events", "start_us", "dur_us")
  }

  /** q100: streaming MinHash-LSH near-dup ([[StreamDedup.nearDupPairs]])
    * replayed over the planted-duplicate corpus in two doc_id-ordered
    * chunks; the found pairs are intersected with the planted mirror set
    * (exactly the q30 contract through the streaming path: identical text
    * => identical signature => same band buckets => the pair MUST surface).
    * `maxPerBucket` is lifted above the corpus size for the replay — the
    * recall contract needs every planted original retained until its
    * mirror arrives; the bounded-state eviction trade is StreamDedupSpec's
    * subject, not this oracle's. Output: (doc_a, doc_b). */
  def dedupReplay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Dedup.corpus(s, dir).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
      .map { case (id, text) => (id, t0, text) }
    val chunks = halves(rows)
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamDedup.nearDupPairs(
      in.toDF().toDF("doc_id", "ts", "text"),
      watermark = "365 days", maxPerBucket = 1 << 22)
    val pairs = drain(out.toDF(), 2) { i => in.addData(chunks(i): _*); () }
      .select("doc_a", "doc_b").distinct()
    val planted = TableMemo.parquet(s, s"$dir/documents.parquet")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000).as("doc_b"))
    planted.join(pairs, Seq("doc_a", "doc_b"))
  }

  /** q101: continuous ingest ([[StreamIngest.ingest]]) driven end to end:
    * the events table staged as 4 parquet files, streamed one file per
    * micro-batch (AvailableNow), each batch committed as its own TableLog
    * bucket snapshot — then the table is read BACK through the snapshot
    * chain and aggregated. n_buckets pins the per-batch lineage (4 files
    * -> 4 bucket commits), n_rows/sum_v pin that every row landed exactly
    * once. Output: one row (n_buckets, n_rows, sum_v). */
  def ingestReplay(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q101")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      try rm(tmp.toFile) catch { case _: Throwable => () }
    }))
    val stage = s"$tmp/stage"; val table = s"$tmp/t"
    // streaming checkpoint on tmpfs (see drain's scaladoc). The name must
    // be unique ACROSS JVMs, not just within one: /dev/shm outlives the
    // process, and a leftover checkpoint from a previous run would make
    // this query RESUME against that run's (deleted) stage files — a
    // counter collides, the temp-dir name does not
    val ckpt = s"${graft.Scratch.dir}/ckpt_${tmp.getFileName}"
    val ev = TableMemo.parquet(s, s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 1000).cast("long").as("v"))
    ev.repartitionByRange(4, col("event_id")).write.parquet(stage)
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    StreamIngest.ingest(stream, table, ckpt).awaitTermination()
    locally { // the checkpoint is transient per run — drop it eagerly
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      try rm(new java.io.File(ckpt)) catch { case _: Throwable => () }
    }
    val nBuckets = graft.table.TableLog.current(table)
      .map(_.buckets.size).getOrElse(0)
    graft.table.TableLog.read(s, table)
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .select(lit(nBuckets.toLong).as("n_buckets"), col("n_rows"),
        col("sum_v").cast("long").as("sum_v"))
  }

  /** DuckDB replica of [[ingestReplay]]: 4 staged files -> 4 buckets;
    * rows and checksum straight off the events table. */
  val ingestReplaySql: String =
    """SELECT CAST(4 AS BIGINT) AS n_buckets, count(*) AS n_rows,
      | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_v
      | FROM events""".stripMargin.replace("\n", " ")
}
