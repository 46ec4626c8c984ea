package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Temperature-based language resampling (the mT5 / XLM-R corpus-mixing
  * primitive; Conneau et al. 2020 §3.1, Xue et al. 2021 §3.2): a raw web
  * corpus is dominated by its head language, so multilingual training
  * samples language l with probability ∝ (n_l/N)^α, α < 1 — flattening
  * the distribution toward the tail. Realized here as per-document
  * Bernoulli thinning at α = 1/2 with the rarest language kept in full:
  * keep probability q_l = sqrt(n_min / n_l) (= 1 for the rarest, 0.61
  * for a 2.7x head language), so common languages are downsampled
  * ∝ 1/sqrt(n_l) and nothing is upsampled (no duplication).
  *
  * Determinism: the draw is the closed-form multiplicative-hash
  * `(doc_id · 2654435761 + 12345) mod 2^31` (the [[CorpusOps]]
  * stratifiedSample discipline — reproducible across engines and
  * reruns), and the per-language threshold `floor(2^31 · sqrt(n_min /
  * n_l))` is a 3-op IEEE sequence on exact integers (correctly-rounded
  * divide, correctly-rounded sqrt, exact floor) both engines execute
  * identically — so the SAMPLE ITSELF hash-checks, not just its size.
  *
  * Scale shape: one map-side-combinable lang groupBy (languages-bounded),
  * a one-row scalar for n_min, a BROADCAST join of the threshold table
  * back onto the corpus, and a row-local accept filter. Nothing
  * page-bounded ever aggregates. */
object Mixing {

  /** Draw modulus (2^31). */
  val DrawM = 2147483648L

  /** @return the kept rows (doc_id, lang) of the temperature sample. */
  def temperatureSample(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val nMin = counts.agg(min("n_l").as("n_min"))
    val thr = Scalars.join(counts, nMin)
      .select(col("lang"),
        floor(lit(DrawM.toDouble) * sqrt(col("n_min") / col("n_l")))
          .cast("long").as("thr"))
    docs.select("doc_id", "lang")
      .join(broadcast(thr), "lang")
      .filter((col("doc_id") * 2654435761L + 12345L) % DrawM < col("thr"))
      .select("doc_id", "lang")
  }

  /** q161 entry: temperature sample of the documents corpus. */
  def docTemperatureSample(spark: SparkSession, sfDir: String): DataFrame =
    temperatureSample(TableMemo.parquet(spark, s"$sfDir/documents.parquet"))

  /** DuckDB replica of [[docTemperatureSample]]. */
  def temperatureSampleSql(): String =
    s"""WITH counts AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
       | nmin AS (SELECT min(n_l) AS n_min FROM counts),
       | thr AS (SELECT lang,
       |     CAST(floor($DrawM.0 * sqrt(CAST(n_min AS DOUBLE) / n_l)) AS BIGINT) AS thr
       |   FROM counts, nmin)
       | SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
       | WHERE (d.doc_id * 2654435761 + 12345) % $DrawM < thr.thr"""
      .stripMargin.replace("\n", " ")
}
