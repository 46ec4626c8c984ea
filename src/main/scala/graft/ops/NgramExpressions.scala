package graft.ops

import java.util.Comparator

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Cavnar–Trenkle out-of-place scoring against a STATIC profile table of
  * (lang, gram, rank) rows: [[bestLang]] takes the per-doc
  * `array<struct<g,r>>` rank profile (from [[NgramExpressions.trigramTopN]])
  * and gives `struct<pred_lang: string, dist: long>`, the argmin language
  * (tie: lang asc) under dist = TopN² − Σ_match (TopN − |r − pr|).
  *
  * The profile table is a constant (a few langs × TopN grams) that rides
  * in the plan as the kernel's object argument, so scoring is a per-row
  * lookup loop: no broadcast join, no (doc, lang) credit shuffle, no final
  * argmin exchange. The previous distributed form moved ≤ TopN rows per
  * document through THREE exchanges just to compare them against 160
  * constants; at 10^12 documents that is three full shuffles of a
  * derivation the row already contains. Output is bit-identical (same
  * integer math, same tie-break), so the DuckDB oracle SQL is unchanged.
  * The lookup maps are rebuilt wherever the table is deserialized.
  */
final class LangProfiles(profiles: Seq[(String, String, Int)], topN: Int) extends Serializable {

  // langs sorted asc so index order = tie-break order
  @transient private lazy val langs: Array[UTF8String] =
    profiles.map(_._1).distinct.sorted.map(UTF8String.fromString).toArray
  // gram -> packed (langIdx, profileRank) entries
  @transient private lazy val gramEntries: java.util.HashMap[UTF8String, Array[Long]] = {
    val langIdx = profiles.map(_._1).distinct.sorted.zipWithIndex.toMap
    val m = new java.util.HashMap[UTF8String, Array[Long]]()
    profiles.groupBy(_._2).foreach { case (g, rows) =>
      m.put(UTF8String.fromString(g),
        rows.map { case (l, _, pr) => (langIdx(l).toLong << 32) | pr.toLong }.toArray)
    }
    m
  }

  def bestLang(arr: ArrayData): InternalRow = {
    val credit = new Array[Long](langs.length)
    var i = 0
    while (i < arr.numElements()) {
      val e = arr.getStruct(i, 2)
      val hits = gramEntries.get(e.getUTF8String(0))
      if (hits != null) {
        val r = e.getInt(1).toLong
        var j = 0
        while (j < hits.length) {
          val li = (hits(j) >>> 32).toInt
          val pr = (hits(j) & 0xffffffffL)
          credit(li) += topN.toLong - math.abs(r - pr)
          j += 1
        }
      }
      i += 1
    }
    val maxDist = topN.toLong * topN
    var best = 0
    var k = 1
    while (k < langs.length) {
      // dist = maxDist - credit; argmin dist = argmax credit, tie lang asc
      if (credit(k) > credit(best)) best = k
      k += 1
    }
    InternalRow(langs(best), maxDist - credit(best))
  }

  override def toString: String = s"LangProfiles(${profiles.size} rows, top $topN)"
}

object NgramExpressions {
  private val ProfileType = ArrayType(
    StructType(Seq(StructField("g", StringType), StructField("r", IntegerType))),
    containsNull = false)

  private val RepetitionType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("top1_cnt", LongType, nullable = false),
    StructField("top1_len", LongType, nullable = false),
    StructField("top2_cnt", LongType, nullable = false),
    StructField("top2_len", LongType, nullable = false)))

  private val BestLangType = StructType(Seq(
    StructField("pred_lang", StringType, nullable = false),
    StructField("dist", LongType, nullable = false)))

  /** `ct_best_lang` kernel: [[LangProfiles.bestLang]]. */
  def ctBestLang(profiles: LangProfiles, topn: ArrayData): InternalRow = profiles.bestLang(topn)

  def ctBestLang(topn: Column, profiles: LangProfiles): Column =
    Kernel.column("ct_best_lang", this, "ctBestLang", BestLangType)(
      Kernel.constant(profiles), topn -> ProfileType)

  def trigramTopN(text: Column, topN: Int): Column =
    Kernel.column("trigram_topn", this, "trigramTopN", ProfileType)(
      text -> StringType, lit(topN) -> IntegerType)

  /** Per-document top-N character-trigram rank profile as ONE native
    * kernel: `array<struct<g: string, r: int>>` with 1-based ranks by
    * (count desc, gram binary asc).
    *
    * This replaces the distributed form
    * `explode(trigrams) -> groupBy(doc_id, g).count -> row_number() OVER
    * (PARTITION BY doc_id ORDER BY c DESC, g) <= N`, whose exploded trigram
    * stream (one row per CHARACTER of every document) is the widest
    * intermediate of the language-ID query — at 100 TB it shuffles the
    * corpus ~an order of magnitude amplified, only to immediately collapse
    * back to N rows per doc. The profile is a per-document-local
    * computation, so it belongs inside the row: count in a local hash map,
    * sort (count desc, gram asc), take N. Nothing but the N-row profile
    * ever leaves the task.
    *
    * Parity: trigrams are `substring(i, 3)` by CODEPOINTS on the raw
    * [[UTF8String]] (same semantics as the SQL `substr` the previous plan
    * and the DuckDB oracle use) and the tie-break compares UTF8Strings —
    * binary UTF-8 order, identical to Spark's `ORDER BY g` and DuckDB's
    * string collation. Integer counts, deterministic end to end; the q37
    * oracle SQL is unchanged and stays hash-green.
    */
  def trigramTopN(s: UTF8String, topN: Int): ArrayData = {
    val n = s.numChars()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var i = 0
    while (i + 3 <= n) {
      counts.merge(s.substring(i, i + 3), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
      i += 1
    }
    val entries = new java.util.ArrayList[java.util.Map.Entry[UTF8String, Integer]](counts.entrySet())
    entries.sort(new Comparator[java.util.Map.Entry[UTF8String, Integer]] {
      override def compare(a: java.util.Map.Entry[UTF8String, Integer],
                           b: java.util.Map.Entry[UTF8String, Integer]): Int = {
        val c = java.lang.Integer.compare(b.getValue.intValue, a.getValue.intValue) // count desc
        if (c != 0) c else a.getKey.compareTo(b.getKey)           // gram binary asc
      }
    })
    val m = math.min(topN, entries.size())
    val out = new Array[Any](m)
    var r = 0
    while (r < m) {
      out(r) = InternalRow(entries.get(r).getKey, r + 1)
      r += 1
    }
    new GenericArrayData(out)
  }

  def topWordNgrams(text: Column): Column =
    Kernel.column("top_word_ngrams", this, "topWordNgrams", RepetitionType)(text -> StringType)

  /** One-pass word-repetition profile (the Gopher/Dolma-style "fraction of
    * characters in the most frequent word n-gram" quality signals, n = 1, 2):
    * `struct<n_words, top1_cnt, top1_len, top2_cnt, top2_len>` — counts and
    * CHAR lengths as integers so the downstream fraction is the caller's
    * division and the whole row is DuckDB-hash-checkable. Split is by the
    * single 0x20 byte (UTF-8-safe: the space byte never occurs inside a
    * multibyte sequence), empties kept — same semantics as DuckDB
    * `string_split(text, ' ')`. Ties: (count desc, gram binary asc). Docs
    * with < 2 words report top2 = (0, 0). Row-local; zero exchanges.
    */
  def topWordNgrams(s: UTF8String): InternalRow = {
    val words = s.split(UTF8String.fromString(" "), -1)
    val n = words.length
    def top(grams: Iterator[UTF8String]): (Long, Long) = {
      val counts = new java.util.HashMap[UTF8String, Integer]()
      grams.foreach(g => counts.merge(g, Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue)))
      if (counts.isEmpty) (0L, 0L)
      else {
        var bestG: UTF8String = null
        var bestC = 0
        counts.forEach { (g, c) =>
          if (c > bestC || (c == bestC && g.compareTo(bestG) < 0)) { bestG = g; bestC = c }
        }
        (bestC.toLong, bestG.numChars().toLong)
      }
    }
    val (c1, l1) = top(words.iterator)
    val (c2, l2) = top((0 until n - 1).iterator.map(i =>
      UTF8String.concat(words(i), UTF8String.fromString(" "), words(i + 1))))
    InternalRow(n.toLong, c1, l1, c2, l2)
  }
}
