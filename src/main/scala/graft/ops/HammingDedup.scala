package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{GraftShim => ExpressionUtils}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import graft.TableMemo

/** SimHash Hamming near-dup join — the Manku / Jain / Sarma WWW'07
  * production web-dedup design ("Detecting Near-Duplicates for Web
  * Crawling"): every document gets a 64-bit SimHash over its distinct
  * word-3-shingles; two documents are near-duplicates iff their
  * fingerprints differ in at most `HamD` = 3 bits. Candidate generation
  * is the paper's table-blocking: the 64 bits split into `HamBands` = 4
  * contiguous 16-bit bands, and any pair within Hamming distance 3 agrees
  * EXACTLY on at least one band (pigeonhole: 3 flipped bits touch at most
  * 3 of the 4 bands), so a per-band equi-join is a COMPLETE candidate
  * generator — the brute-force DuckDB oracle proves completeness, not
  * just precision. Band width is the paper's table-size knob: wider
  * bands (more tables) shrink buckets for bigger corpora; 4x16 is the
  * d<=3 minimum.
  *
  * Distinct-fingerprint collapse first ([[PointPattern]] coord-collapse
  * discipline): fingerprints group to (h, rep = min doc_id, n docs), so
  * exact-duplicate mass — most of a crawl — never enters the pair join,
  * and identical-hash docs pay ONE row however many there are. Band
  * bucket dedup is reference-point style ([[SegmentJoin]]): a pair
  * agreeing on several bands is kept only in the FIRST agreeing band, a
  * row-local predicate on (h_a, h_b) — no distinct pass over candidates.
  *
  * Exactness: the signature is integer plane sums (the [[Dedup.simhash]]
  * formulation widened to 64 planes over dense shingle ids), the refine
  * is `bit_count(h_a ^ h_b)` — both engines compute identical BIGINTs,
  * so pairs + distances hash-check.
  *
  * Scale shape: shingling is row-local (native `word_shingles`); the vocab
  * join is the [[Dedup]] dense-id discipline; the signature is ONE
  * map-side-combinable groupBy(doc_id); the collapse is ONE groupBy(h);
  * the pair join is a hash equi-join on (band, value) whose fan-out is
  * bounded by band-bucket sizes (hot buckets are the AQE skew-join case;
  * at Manku scale the answer is wider bands, not caps — semantics-free).
  * Nothing is all-pairs; the driver never sees rows.
  */
object HammingDedup {
  /** 64 projection planes, order-P multipliers (the [[Dedup.PlaneA]]
    * requirement: small multipliers make every plane monotone in tid). */
  val HamPlanes = 64
  val HamA: Array[Long] = Array.tabulate(HamPlanes)(j => ((j + 17) * 1234567891L) % Dedup.P)
  val HamB: Array[Long] = Array.tabulate(HamPlanes)(j => ((j + 29) * 987654321L) % Dedup.P)
  val HamBands = 4
  val BandBits = 16
  val HamD = 3L

  /** Corpus with planted NEAR duplicates (one appended token — the
    * smallest possible shingle-set edit: +1 shingle): doc_id % 4 == 0
    * docs get a mirror at doc_id + 2000000 with ` zz<doc_id % 7>`
    * appended. `zz*` never occurs in the synthetic vocabulary, so the
    * edit is exactly one new shingle; the mirror's SimHash differs only
    * in planes whose sum sat on the sign boundary.
    *
    * PRECONDITION (ADVICE r5): max(doc_id) < 2000000 — the fixed mirror
    * offset collides with real ids past 2M documents. The driver's SFs top
    * out at ~5k docs; a caller at a larger scale must derive the offset
    * from max(doc_id)+1 (the [[Scalars.join]] scalar pattern) on BOTH the
    * Spark and oracle sides, or the planted semantics silently corrupt
    * (the oracle mirrors the same formula, so hash checks would pass). */
  def editedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TableMemo.parquet(spark, s"$sfDir/documents.parquet").select("doc_id", "text")
    d.unionAll(d.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" zz"), (col("doc_id") % 7).cast("string")).as("text")))
  }
  val editedCorpusSql: String =
    "(SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 2000000 AS doc_id, text || ' zz' || CAST(doc_id % 7 AS VARCHAR) " +
      "FROM documents WHERE doc_id % 4 = 0)"

  /** 64-bit SimHash per doc over distinct word-3-shingles: dense shingle
    * ids ([[Dedup.denseIds]] — global sorted rank, oracle-replicable),
    * 64 integer plane sums folded by ONE native vector aggregate
    * ([[SimhashBitsAgg]], the [[CmsSketch]] pattern — r5 verdict item 1)
    * in a single map-side-combinable groupBy; bit j set iff sum_j > 0
    * (bit 63 is the sign bit). The previous form spelled the same math as
    * 64 separate `sum(when(...))` aggregate columns — 64 codegen'd
    * expression evaluations and 64 aggregation buffers per (doc, tid)
    * row; the aggregate walks the planes in one tight loop over ONE
    * packed long[64] buffer per group. [[simhash64Columns]] keeps the
    * column form as the in-test reimplementation-equality baseline. */
  def simhash64(corpus: DataFrame): DataFrame = {
    val sh = Dedup.shingled(corpus).localCheckpoint(false)
    val withTid = sh.join(Dedup.denseIds(sh, "sh"), "sh").select("doc_id", "tid")
    withTid.groupBy("doc_id")
      .agg(SimhashBitsAgg.simhashBits(col("tid"), HamA, HamB).as("h"))
  }

  /** The pre-r6 64-aggregate-column form of [[simhash64]] — kept ONLY as
    * the independent reimplementation that HammingDedupSpec proves equal
    * to the native aggregate (never on the query path). */
  private[graft] def simhash64Columns(corpus: DataFrame): DataFrame = {
    val sh = Dedup.shingled(corpus).localCheckpoint(false)
    val withTid = sh.join(Dedup.denseIds(sh, "sh"), "sh").select("doc_id", "tid")
    val sums = (0 until HamPlanes).map(j =>
      sum(when((col("tid") * HamA(j) + HamB(j)) % Dedup.P < Dedup.HalfP, 1L)
        .otherwise(-1L)).as(s"s$j"))
    val agg = withTid.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val bits = (0 until HamPlanes).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    agg.select(col("doc_id"), bits.reduce(_ bitwiseOR _).as("h"))
  }

  private def band(h: Column, b: Int): Column =
    shiftright(h, b * BandBits).bitwiseAND(lit((1L << BandBits) - 1))

  /** First band index (0-based) on which the two fingerprints agree —
    * the reference-point that dedups multi-band candidate pairs without
    * a distinct pass. Row-local, pure codegen. */
  private def firstAgreeBand(ha: Column, hb: Column): Column =
    (0 until HamBands).foldRight(lit(HamBands): Column)((b, rest) =>
      when(band(ha, b) === band(hb, b), lit(b)).otherwise(rest))

  /** Near-dup pairs at Hamming distance 1..HamD between DISTINCT
    * fingerprints. Output one row per unordered fingerprint pair:
    * (rep_a, rep_b, hamming, n_a, n_b) with rep = min doc_id of the
    * fingerprint's exact-duplicate class and n its size. */
  def hammingPairs(corpus: DataFrame): DataFrame = {
    val dh = simhash64(corpus)
      .groupBy("h").agg(min("doc_id").as("rep"), count(lit(1)).as("n"))
      .localCheckpoint(false)
    val bands = dh.select(col("h"), col("rep"), col("n"),
      explode(array((0 until HamBands).map(b =>
        struct(lit(b).as("b"), band(col("h"), b).as("bv"))): _*)).as("bd"))
      .select(col("h"), col("rep"), col("n"),
        col("bd.b").as("b"), col("bd.bv").as("bv"))
    val a = bands.select(col("b"), col("bv"),
      col("h").as("h_a"), col("rep").as("rep_a"), col("n").as("n_a"))
    val bside = bands.select(col("b"), col("bv"),
      col("h").as("h_b"), col("rep").as("rep_b"), col("n").as("n_b"))
    a.join(bside, Seq("b", "bv"))
      .filter(col("rep_a") < col("rep_b"))
      .filter(col("b") === firstAgreeBand(col("h_a"), col("h_b")))
      .withColumn("hamming",
        expr("CAST(bit_count(h_a ^ h_b) AS BIGINT)"))
      .filter(col("hamming") >= 1L && col("hamming") <= HamD)
      .select("rep_a", "rep_b", "hamming", "n_a", "n_b")
  }

  object SimhashBitsAgg {
    /** tid -> packed 64-bit SimHash: sum_j += (tid*a_j+b_j) % P < P/2 ? 1 : -1
      * per plane, bit j of the result set iff sum_j > 0. */
    def simhashBits(tid: Column, a: Array[Long], b: Array[Long]): Column =
      ExpressionUtils.column(
        SimhashBitsAgg(ExpressionUtils.expression(tid), a, b).toAggregateExpression())
  }

  /** Native plane-sum vector aggregate (the [[Sketches]] CmsSketch shape):
    * buffer = one long[planes] of signed plane sums per group; update folds
    * a dense shingle id into every plane in one loop; merge is elementwise
    * add; eval packs the sign bits into the 64-bit fingerprint. Map-side
    * combinable (ObjectHashAggregate), so only (groups x 64 longs) cross
    * the shuffle — identical arithmetic to the 64-column form, one buffer
    * and one expression instead of 64 of each. */
  case class SimhashBitsAgg(
      tid: Expression,
      a: Array[Long],
      b: Array[Long],
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

    private val planes = a.length
    require(planes == b.length && planes <= 64, "need <= 64 (a, b) plane pairs")

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (tid.dataType == LongType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash_bits: tid must be BIGINT, got ${tid.dataType}")

    override def createAggregationBuffer(): Array[Long] = new Array[Long](planes)

    override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
      val t = tid.eval(input)
      if (t != null) {
        val tl = t.asInstanceOf[Long]
        var j = 0
        while (j < planes) {
          buffer(j) += (if ((tl * a(j) + b(j)) % Dedup.P < Dedup.HalfP) 1L else -1L)
          j += 1
        }
      }
      buffer
    }

    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var j = 0
      while (j < planes) { x(j) += y(j); j += 1 }
      x
    }

    override def eval(buffer: Array[Long]): Any = {
      var h = 0L
      var j = 0
      while (j < planes) { if (buffer(j) > 0) h |= (1L << j); j += 1 }
      h
    }

    override def serialize(buffer: Array[Long]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(planes * 8)
      val out = new DataOutputStream(bos)
      buffer.foreach(out.writeLong)
      out.flush(); bos.toByteArray
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      Array.fill(planes)(in.readLong())
    }

    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def children: Seq[Expression] = Seq(tid)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SimhashBitsAgg =
      copy(tid = c(0))
    override def withNewMutableAggBufferOffset(o: Int): SimhashBitsAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): SimhashBitsAgg =
      copy(inputAggBufferOffset = o)
    override def prettyName: String = "simhash_bits"
  }

  /** DuckDB replica: same vocab/planes/bits, then BRUTE-FORCE all
    * distinct-fingerprint pairs — oracle equality proves the band join
    * generates every pair within distance HamD (pigeonhole), not just
    * that surviving candidates refine correctly. */
  def hammingPairsSql(): String = {
    val p = Dedup.P; val half = Dedup.HalfP
    val sums = (0 until HamPlanes).map(j =>
      s"sum(CASE WHEN (tid * ${HamA(j)} + ${HamB(j)}) % $p < $half THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val bits = (0 until HamPlanes).map(j =>
      s"(CASE WHEN s$j > 0 THEN ${if (j == 63) Long.MinValue else 1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH corpus AS $editedCorpusSql,
       | tokarr AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a FROM corpus),
       | sh AS (SELECT DISTINCT doc_id, sh FROM
       |   (SELECT doc_id, array_to_string(a[i+1:i+3], ' ') AS sh FROM
       |     (SELECT doc_id, a, unnest(range(len(a) - 2)) AS i FROM tokarr WHERE len(a) >= 3) x) y),
       | vocab AS (SELECT sh, row_number() OVER (ORDER BY sh) AS tid FROM (SELECT DISTINCT sh FROM sh)),
       | tt AS (SELECT doc_id, tid FROM sh JOIN vocab USING (sh)),
       | sigs AS (SELECT doc_id, $sums FROM tt GROUP BY doc_id),
       | hh AS (SELECT doc_id, CAST($bits AS BIGINT) AS h FROM sigs),
       | dh AS (SELECT h, min(doc_id) AS rep, CAST(count(*) AS BIGINT) AS n FROM hh GROUP BY 1)
       | SELECT a.rep AS rep_a, b.rep AS rep_b,
       |   CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming,
       |   a.n AS n_a, b.n AS n_b
       | FROM dh a, dh b
       | WHERE a.rep < b.rep AND bit_count(xor(a.h, b.h)) BETWEEN 1 AND $HamD"""
      .stripMargin.replace("\n", " ")
  }
}
