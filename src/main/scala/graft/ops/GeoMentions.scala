package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native `GEO(<lonm>;<latm>)` mention scanner for the entity-extraction
  * hot path — one byte-level pass over the page text instead of THREE
  * java.util.regex evaluations (one `regexp_extract_all` over the text
  * plus two `regexp_extract` per mention), and no intermediate mention
  * UTF8String per match. Extraction runs once per page at 10^12-page
  * scale AND inside the timed flagship pipeline, so the regex engine +
  * per-mention string garbage was the dominant per-row cost (guide §1.2
  * step 2: per-task work, after the plan shape is right).
  *
  * EXACT equivalence contract with the regex plan
  * `regexp_extract_all(text, "GEO\\(([0-9]+);([0-9]+)\\)")` +
  * `regexp_extract(m, ...).cast("long")` — pinned by EntityExtractSpec's
  * reimplementation-equality test over adversarial inputs:
  *  - leftmost non-overlapping matches in order (a failed candidate at
  *    byte i resumes the search at i+1, a successful match resumes after
  *    its ')'), which the indexOf-style scan reproduces;
  *  - `[0-9]+` only — no sign, no space, no unicode digits. Byte-level
  *    scanning is sound in UTF-8: every pattern byte is ASCII and UTF-8
  *    continuation bytes have the high bit set, so no multibyte char can
  *    alias into a match;
  *  - digit runs that overflow BIGINT become NULL with the mention still
  *    emitted (documented divergence: under ANSI mode the regex plan's
  *    `cast("long")` THROWS on such inputs, so they are outside the old
  *    plan's computable domain — no fixture contains one).
  *
  * Output: array<struct<lonm: bigint, latm: bigint>> in match order
  * (posexplode ordinal = ent_idx, as before).
  */
object GeoMentions {
  private val EmptyArray = new GenericArrayData(Array.empty[Any])

  private val MentionsType = ArrayType(StructType(Seq(
    StructField("lonm", LongType, nullable = true),
    StructField("latm", LongType, nullable = true))), containsNull = false)

  /** text -> array<struct<lonm, latm>> of GEO(lonm;latm) mentions. */
  def geoMentions(text: Column): Column =
    Kernel.column("geo_mentions", this, "geoMentions", MentionsType)(text -> StringType)

  def geoMentions(t: UTF8String): ArrayData = {
    val n = t.numBytes()
    var out: scala.collection.mutable.ArrayBuffer[InternalRow] = null
    var i = 0
    // scan for the literal "GEO(" byte-by-byte; candidate parse on hit
    while (i + 7 < n) { // minimal match "GEO(d;d)" is 8 bytes
      if (t.getByte(i) == 'G' && t.getByte(i + 1) == 'E' &&
          t.getByte(i + 2) == 'O' && t.getByte(i + 3) == '(') {
        var p = i + 4
        // lonm digits
        var lon = 0L
        var lonOverflow = false
        val lonStart = p
        while (p < n && t.getByte(p) >= '0' && t.getByte(p) <= '9') {
          val d = t.getByte(p) - '0'
          if (lon > (Long.MaxValue - d) / 10) lonOverflow = true
          else lon = lon * 10 + d
          p += 1
        }
        if (p > lonStart && p < n && t.getByte(p) == ';') {
          p += 1
          var lat = 0L
          var latOverflow = false
          val latStart = p
          while (p < n && t.getByte(p) >= '0' && t.getByte(p) <= '9') {
            val d = t.getByte(p) - '0'
            if (lat > (Long.MaxValue - d) / 10) latOverflow = true
            else lat = lat * 10 + d
            p += 1
          }
          if (p > latStart && p < n && t.getByte(p) == ')') {
            if (out == null) out = new scala.collection.mutable.ArrayBuffer[InternalRow](4)
            out += InternalRow(
              if (lonOverflow) null else lon,
              if (latOverflow) null else lat)
            i = p + 1 // resume AFTER the match (regex find() semantics)
          } else i += 1 // failed candidate: resume at i+1 (regex semantics)
        } else i += 1
      } else i += 1
    }
    if (out == null) EmptyArray
    else new GenericArrayData(out.toArray[Any])
  }
}
