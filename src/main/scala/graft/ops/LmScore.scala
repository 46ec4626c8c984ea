package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical language-model quality scoring — the CCNet/Wenzek-style
  * "perplexity filter" reduced to its distributable core: train a bigram
  * MLE on the corpus itself, score every document by how predictable its
  * token stream is under that model, keep/weight by score downstream.
  * Boilerplate and templated spam score HIGH (their bigrams repeat
  * corpus-wide); organic prose scores low-mid; gibberish lowest.
  *
  * Integer-exact across engines: the per-bigram score is
  * `floor(c2 / c1 · 1e6)` — both counts are BIGINTs, the division and
  * multiply are correctly-rounded IEEE ops on exact integers, the floor
  * is exact, and the document score is a BIGINT sum — so the full output
  * hash-checks (a log-prob/perplexity form would not: ln has no
  * cross-engine bit contract; the scaled-probability sum ranks documents
  * the same way for filtering purposes).
  *
  * Scale shape (r6): the bigram stream is ROW-LOCAL — adjacent pairs of
  * the split token array via `transform`, no window, no doc_id exchange
  * (the r5 form paid one full exchange + sort just to pair each token
  * with its successor, which the row already holds); the model is one
  * map-side-combined groupBy over that stream (vocab²-bounded, NOT
  * corpus-bounded) and cnt1 derives from cnt2 by a second vocab-bounded
  * groupBy (sum over w2) instead of re-scanning the corpus stream;
  * scoring is two equi-joins of the stream against the model tables —
  * each stream row matches exactly one model row, so there is no fan-out
  * and no heavy-hitter cap needed; the per-doc rollup is one more
  * partial-agg groupBy. The stream is localCheckpointed once for its two
  * consumers (cnt2, scoring).
  */
object LmScore {

  /** Probability scale: 1.0 == 1e6. */
  val ScaleU = 1000000.0

  /** @return (doc_id, n_bigrams, score_u) for EVERY corpus doc; docs with
    *         fewer than 2 tokens get (0, 0). */
  def lmScore(corpus: DataFrame): DataFrame = {
    val big = corpus
      .select(col("doc_id"), filter(split(col("text"), " "), t => t =!= "").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(slice(a, 1, size(a) - 1), (t, j) -> struct(t AS w1, a[j + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .localCheckpoint(false) // two consumers: cnt2, the scoring join
    val cnt2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // c1(w1) = sum_w2 c2(w1, w2): derived from the vocab²-bounded count
    // table, not a second pass over the corpus-sized bigram stream
    val cnt1 = cnt2.groupBy("w1").agg(sum("c2").as("c1"))
    val perDoc = big.join(cnt2, Seq("w1", "w2")).join(cnt1, Seq("w1"))
      .select(col("doc_id"), floor(col("c2") / col("c1") * ScaleU).as("_p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_p")).as("score_u"))
    corpus.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_u"), lit(0L)).as("score_u"))
  }

  /** DuckDB replica over a `corpus(doc_id, text)` relation string: same
    * tokenization and floor/scale sequence, and the same adjacent-pair
    * bigrams — built here with a `lead` window, where [[lmScore]] builds
    * them row-locally with `transform`. */
  def lmScoreSql(corpusRelation: String): String =
    s"""WITH corpus AS $corpusRelation,
       | tokarr AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
       |   FROM corpus),
       | ptoks AS (SELECT doc_id, i, a[i+1] AS tok
       |   FROM (SELECT doc_id, a, unnest(range(len(a))) AS i FROM tokarr)),
       | big AS (SELECT doc_id, w1, w2 FROM (SELECT doc_id, tok AS w1,
       |     lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM ptoks)
       |   WHERE w2 IS NOT NULL),
       | cnt2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
       | cnt1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
       | sc AS (SELECT doc_id, CAST(floor(c2 / c1 * $ScaleU) AS BIGINT) AS p
       |   FROM big JOIN cnt2 USING (w1, w2) JOIN cnt1 USING (w1)),
       | pd AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(p) AS BIGINT) AS score_u
       |   FROM sc GROUP BY doc_id)
       | SELECT d.doc_id, CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |   CAST(COALESCE(pd.score_u, 0) AS BIGINT) AS score_u
       | FROM corpus d LEFT JOIN pd USING (doc_id)"""
      .stripMargin.replace("\n", " ")
}
