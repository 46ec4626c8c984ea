package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WebPagesSynth

/** Byte identity of the page-synthesis kernel ([[WebPagesSynth.pageText]])
  * with the Column plan it replaced: text, a space, then the GEO markers
  * built by a `transform` lambda over `sequence(0, nEnts - 1)`. That plan
  * lives here only, as the baseline. */
class PageTextSpec extends AnyFunSuite with SparkTest {

  private def lambdaText(text: Column, d: Column): Column = {
    val markers = concat_ws(" ",
      transform(sequence(lit(0), WebPagesSynth.nEnts(d) - 1), k =>
        concat(lit("GEO("), WebPagesSynth.lonm(d, k).cast("string"), lit(";"),
          WebPagesSynth.latm(d, k).cast("string"), lit(")"))))
    concat(text, lit(" "), markers)
  }

  test("pageText equals the transform-lambda plan over every residue of the formulas") {
    // the formulas take doc_id mod 3, 4, 7, 20, 7200 and 2800; 0 until
    // 100800 (their lcm) covers every joint residue, and the negative ids
    // the sequences that count down
    val texts = Seq("", "plain text", "multi-byte é中😀", "GEO(1;2) already")
    val docs = spark.range(-20160L, 100800L).toDF("doc_id")
      .withColumn("text", element_at(typedLit(texts), (pmod(col("doc_id"), lit(4L)) + 1).cast("int")))
      .union(spark.range(1).select(lit(5L).as("doc_id"), lit(null).cast("string").as("text")))
    val d = col("doc_id")
    val diff = docs
      .select(d, WebPagesSynth.pageText(col("text"), d).as("kernel"), lambdaText(col("text"), d).as("lambda"))
      .where(not(col("kernel") <=> col("lambda")))
    assert(diff.count() === 0, diff.limit(5).collect().mkString("; "))
    val urban = docs.where(d === 0L).select(WebPagesSynth.pageText(col("text"), d)).head().getString(0)
    assert(urban === " GEO(4000;1400)")
  }
}
