package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels of the dedup suite, each one plain method called
  * through [[Kernel]]. */
object MinhashExpressions {
  private val Longs = ArrayType(LongType, containsNull = false)

  /** All 12 production MinHash signature values in ONE native pass over the
    * document text: tokenize on single spaces (empties dropped), build each
    * word-3-shingle's UTF-8 bytes in a reusable buffer, `xxhash64` it (seed
    * 42 — the `functions.xxhash64` default), and fold the 12 affine mins
    * `min_sh (pmod(h, P) * A_i + B_i) % P` as it goes.
    *
    * Why native: the column form needs 13 higher-order-function passes
    * (`transform` + 12 `array_min(transform(...))`) and HOFs are
    * interpreted with per-element boxing — measured 2.4x the wall time of
    * even the exploded shuffle form at sf0.1. This kernel allocates
    * nothing per shingle (one growable byte buffer + one 12-long accumulator
    * per row) and the shingle bytes never leave the task — at 100 TB the
    * exploded (doc, shingle) stream is the widest intermediate of the whole
    * minhash pipeline, and this keeps it out of existence entirely.
    *
    * Parity (spec-pinned bit-equal to `minhashSig(shingledHashedIds(...))`):
    *  - `split(text, ' ')` on the literal space byte — safe on UTF-8 (no
    *    multibyte sequence contains 0x20), duplicates kept, empties dropped;
    *  - shingle = tok_i ++ ' ' ++ tok_{i+1} ++ ' ' ++ tok_{i+2}, exactly
    *    `concat_ws(" ", slice(toks, i+1, 3))`;
    *  - hash = `XXH64.hashUnsafeBytes(..., 42)` — the same call Spark's
    *    `xxhash64(string)` lowers to;
    *  - arithmetic in non-negative Longs < 2^62: overflow-free under ANSI.
    *
    * Returns `array<bigint>` of length 12, or NULL when the doc has < 3
    * tokens (no shingles — the callers' `m0 IS NOT NULL` filter drops it,
    * matching the groupBy form where an empty group emits no row).
    */
  def minhashSig(text: Column): Column =
    Kernel.column("minhash_sig", this, "minhashSig", Longs, returnsNull = true)(text -> StringType)

  def minhashSig(text: UTF8String): ArrayData = {
    val bytes = text.getBytes // one copy; token slices index into it
    val n = bytes.length
    // token boundaries (start, end) over maximal non-space runs
    var nTok = 0
    var starts = new Array[Int](math.max(8, n / 4))
    var ends = new Array[Int](starts.length)
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        val st = i
        while (i < n && bytes(i) != ' ') i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = st; ends(nTok) = i; nTok += 1
      }
    }
    if (nTok < 3) return null
    val mins = new Array[Long](Dedup.NumHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var buf = new Array[Byte](64)
    var sh = 0
    while (sh + 3 <= nTok) {
      val len = (ends(sh) - starts(sh)) + (ends(sh + 1) - starts(sh + 1)) +
        (ends(sh + 2) - starts(sh + 2)) + 2
      if (buf.length < len) buf = new Array[Byte](Integer.highestOneBit(len) * 2)
      var p = 0
      var k = 0
      while (k < 3) {
        if (k > 0) { buf(p) = ' '; p += 1 }
        val l = ends(sh + k) - starts(sh + k)
        System.arraycopy(bytes, starts(sh + k), buf, p, l)
        p += l
        k += 1
      }
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      var tid = h % Dedup.P
      if (tid < 0) tid += Dedup.P
      var j = 0
      while (j < Dedup.NumHashes) {
        val v = (tid * Dedup.HashA(j) + Dedup.HashB(j)) % Dedup.P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      sh += 1
    }
    new GenericArrayData(mins)
  }

  /** Word n-shingles of a text as ONE native pass: tokenize on single
    * spaces (empties dropped, duplicates kept) and emit each run of `n`
    * consecutive tokens joined by a single space, keeping the first
    * occurrence of each — `array<string>`, empty when the doc has fewer
    * than `n` tokens (set semantics; order is irrelevant to every consumer
    * — vocab ranks, joins, counts).
    *
    * Why native, and why distinct INSIDE the row: the column form
    * (`transform(sequence(...), i -> concat_ws(" ", slice(toks, i, n)))`)
    * is an interpreted HOF chain, and the global `.distinct()` it fed
    * shuffled the full (doc_id, shingle) string stream — the widest
    * intermediate of the dedup suite — only to drop rows that are
    * duplicates WITHIN a single document. Per-doc dedup is row-local, so
    * `explode(word_shingles(text))` yields an already-distinct (doc_id, sh)
    * stream with NO exchange at all. `n = 1` gives distinct tokens (the
    * SimHash input) with the same property. */
  def distinctShingles(text: Column, n: Int = 3): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    Kernel.column("word_shingles", this, "wordShingles", ArrayType(StringType, containsNull = false))(
      text -> StringType, lit(n) -> IntegerType)
  }

  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    var nTok = 0
    var starts = new Array[Int](math.max(8, len / 4))
    var ends = new Array[Int](starts.length)
    var i = 0
    while (i < len) {
      while (i < len && bytes(i) == ' ') i += 1
      if (i < len) {
        val st = i
        while (i < len && bytes(i) != ' ') i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = st; ends(nTok) = i; nTok += 1
      }
    }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var sh = 0
    while (sh + n <= nTok) {
      var l = n - 1
      var k = 0
      while (k < n) { l += ends(sh + k) - starts(sh + k); k += 1 }
      val buf = new Array[Byte](l)
      var p = 0
      k = 0
      while (k < n) {
        if (k > 0) { buf(p) = ' '; p += 1 }
        val tl = ends(sh + k) - starts(sh + k)
        System.arraycopy(bytes, starts(sh + k), buf, p, tl)
        p += tl
        k += 1
      }
      seen.add(UTF8String.fromBytes(buf))
      sh += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }

  /** Winnowing fingerprints of a text as ONE native pass — the promoted form
    * of the former `TextStats.fingerprints` ScalaUDF (the last per-row UDF
    * feeding an explode on a fact path): tokenize on single spaces (empties
    * dropped), hash each token by folding its Unicode code points through
    * `(a * FpC + cp) mod FpP`, roll a width-`w` polynomial window hash over
    * the token hashes, keep the min of every `g`-window band, and emit the
    * distinct mins as `array<bigint>` (empty when the doc has < w tokens —
    * the exploding caller drops it, matching the UDF's empty array).
    *
    * Code-point folding == the UDF's UTF-16 fold on BMP text and == the
    * oracle SQL's `ord()` on ALL text (the UDF split supplementary chars
    * into surrogate pairs; the oracle never did — the native form now sides
    * with the oracle). The synthetic corpus is ASCII, where all three agree
    * byte-for-byte; DedupAnnSpec pins the reimplementation equality.
    *
    * Why native: the ScalaUDF form paid CatalystTypeConverters boxing for
    * the string in and the Array[Long] out on every row; this allocates one
    * growable long buffer per row and hands Catalyst an unboxed
    * GenericArrayData. All arithmetic stays below 2^62 (FpP < 2^31), exact
    * int64 — the property that lets the DuckDB oracle replicate q26. */
  def winnowFingerprints(text: Column, w: Int = 4, g: Int = 4): Column = {
    require(w >= 1 && g >= 1, s"window sizes must be >= 1, got w=$w g=$g")
    Kernel.column("winnow_fingerprints", this, "winnowFingerprints", Longs)(
      text -> StringType, lit(w) -> IntegerType, lit(g) -> IntegerType)
  }

  def winnowFingerprints(text: UTF8String, w: Int, g: Int): ArrayData = {
    import TextStats.{FpB, FpC, FpP}
    val bytes = text.getBytes
    val n = bytes.length
    // token hashes over maximal non-space runs, decoding UTF-8 inline
    var th = new Array[Long](math.max(8, n / 8))
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        var a = 0L
        while (i < n && bytes(i) != ' ') {
          val b0 = bytes(i) & 0xff
          var cp = 0
          if (b0 < 0x80) { cp = b0; i += 1 }
          else if (b0 < 0xe0) { cp = ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f); i += 2 }
          else if (b0 < 0xf0) {
            cp = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
            i += 3
          } else {
            cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
              ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
            i += 4
          }
          a = (a * FpC + cp) % FpP
        }
        if (nTok == th.length) th = java.util.Arrays.copyOf(th, nTok * 2)
        th(nTok) = a; nTok += 1
      }
    }
    if (nTok < w) return new GenericArrayData(Array.empty[Any])
    val nW = nTok - w + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var s = 0
    while (s < nW) { // band start (step g), min of the band's window hashes
      var mn = Long.MaxValue
      var j = s
      val end = math.min(s + g, nW)
      while (j < end) {
        var a = 0L
        var k = 0
        while (k < w) { a = ((a * FpB) % FpP + th(j + k)) % FpP; k += 1 }
        if (a < mn) mn = a
        j += 1
      }
      seen.add(mn)
      s += g
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }
}
