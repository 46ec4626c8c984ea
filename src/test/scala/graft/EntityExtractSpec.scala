package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.EntityExtract

/** Reimplementation equality for the r6 native GEO-mention scanner: the
  * byte-level [[graft.ops.GeoMentions]] plan must produce EXACTLY the
  * rows of the regex plan it replaced — on the real fixture corpus and on
  * adversarial strings exercising every divergence candidate (failed
  * candidates, overlap-ish prefixes, overflow digits, multibyte context,
  * adjacency, empty/null text). */
class EntityExtractSpec extends AnyFunSuite with SparkTest {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Int, Any, Any, Any, Any)] = {
    df.select("url", "ent_idx", "lonm", "latm", "lon", "lat").collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.get(2), r.get(3), r.get(4), r.get(5)))
      .sortBy(t => (t._1, t._2))
  }

  test("native scanner equals regex plan on the fixture corpus") {
    val pages = sources.WebPagesSynth.pages(spark, Sf)
    val fast = rows(EntityExtract.entities(pages))
    val slow = rows(EntityExtract.entitiesRegex(pages))
    assert(fast === slow)
    assert(fast.nonEmpty)
  }

  test("native scanner equals regex plan on adversarial strings") {
    import spark.implicits._
    val texts = Seq(
      "GEO(1;2)",                              // minimal match
      "GEO(12;34) and GEO(5;6)",               // two matches
      "GEO(1;2)GEO(3;4)",                      // adjacent matches
      "GEO(GEO(1;2)",                          // failed candidate, real match inside
      "GEO(;2) GEO(1;) GEO() GEO(1,2)",        // malformed variants
      "GEO(1;2",                               // unterminated at end
      "xxGEO(0007;0042)yy",                    // leading zeros
      "GEO(9223372036854775807;1)",            // max long, still exact
      "ünïcødé GEO(3;4) 多字节 GEO(5;6)",       // multibyte context
      "geo(1;2) Geo(3;4) GEO (5;6)",           // case/space misses
      "GEO((1;2) GEO(1;;2) GEO(1; 2)",         // inner punctuation misses
      "",                                       // empty
      "no markers at all",
      ("GEO(1;2) " * 50).trim                   // many matches in one doc
    )
    val pages = texts.zipWithIndex
      .map { case (t, i) => (s"u$i", t, "en") }
      .toDF("url", "text", "lang")
    val fast = rows(EntityExtract.entities(pages))
    val slow = rows(EntityExtract.entitiesRegex(pages))
    assert(fast === slow)
  }

  test("digit runs overflowing BIGINT yield NULL (regex plan throws under ANSI)") {
    import spark.implicits._
    // the old regexp plan FAILS on these inputs (ANSI cast of a >64-bit
    // digit run throws CAST_INVALID_INPUT), so they are outside its
    // computable domain; the native scanner degrades to NULL coords
    // instead — documented divergence, strictly more forgiving
    val pages = Seq(("u0", "GEO(99999999999999999999;1) GEO(7;8)", "en"))
      .toDF("url", "text", "lang")
    val got = rows(EntityExtract.entities(pages))
    assert(got.length === 2)
    assert(got.head._3 == null && got.head._4 == 1L)
    assert(got(1)._3 == 7L && got(1)._4 == 8L)
  }

  test("null text yields no rows (regex parity)") {
    import spark.implicits._
    val pages = Seq(("u0", Option.empty[String], "en"), ("u1", Some("GEO(1;2)"), "en"))
      .toDF("url", "text", "lang")
    assert(rows(EntityExtract.entities(pages)) === rows(EntityExtract.entitiesRegex(pages)))
    assert(EntityExtract.entities(pages).count() === 1)
  }
}
