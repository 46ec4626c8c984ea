package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * quality stats, n-gram-heuristic language ID, token counting, and a
  * rolling-hash document fingerprint (winnowing). Everything is a
  * native-function column plan (codegen) except the fingerprint UDF.
  * Comparison-relevant outputs are integers/strings only, so the DuckDB
  * oracle agrees bit-for-bit.
  */
object TextStats {

  private def toks = filter(split(col("text"), " "), t => t =!= "")

  /** (doc_id, n_tokens, n_distinct, n_chars, max_tok_len, n_the) */
  def stats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      length(col("text")).cast("long").as("n_chars"),
      array_max(transform(toks, t => length(t))).cast("long").as("max_tok_len"),
      size(filter(toks, t => t === "the")).cast("long").as("n_the"))

  /** Marker-token language ID: score per "language" = count of its marker
    * tokens; argmax with fixed precedence en > de > es. (A real n-gram
    * model would plug into the same shape; the synthetic corpus has a
    * 31-word vocab, so markers are drawn from it.) */
  val MarkersEn = Seq("the", "data", "fast")
  val MarkersDe = Seq("table", "scan", "merge")
  val MarkersEs = Seq("spark", "query", "stream")

  def langId(docs: DataFrame): DataFrame = {
    def score(ms: Seq[String]) =
      size(filter(toks, t => ms.map(m => t === m).reduce(_ || _))).cast("long")
    docs.select(col("doc_id"),
        score(MarkersEn).as("s_en"), score(MarkersDe).as("s_de"), score(MarkersEs).as("s_es"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_es"), "de").otherwise("es"))
  }

  // ---------------- Cavnar–Trenkle n-gram language ID ----------------

  /** Per-language seed corpora (ASCII-only so Java-UTF16 and DuckDB-binary
    * string orderings agree): the rank profiles are DERIVED from these at
    * object init with the same trigram algorithm the classifier applies to
    * documents — no hand-tuned tables. */
  val LangSeeds: Seq[(String, String)] = Seq(
    "de" -> ("der schnelle braune fuchs springt ueber den faulen hund und die " +
      "katze sitzt auf der matte mit dem hund im haus und sie waren gluecklich " +
      "zusammen im sonnenschein des morgens und der wind weht durch die baeume " +
      "waehrend die voegel in dem garten singen und das wasser im fluss leise rauscht"),
    "en" -> ("the quick brown fox jumps over the lazy dog and the cat sits on " +
      "the mat with the dog in the house and they were happy together in the " +
      "sunshine of the morning and the wind blows through the trees while the " +
      "birds are singing in the garden and the water in the river is quietly flowing"),
    "es" -> ("el rapido zorro marron salta sobre el perro perezoso y el gato se " +
      "sienta en la alfombra con el perro en la casa y estaban felices juntos " +
      "bajo el sol de la manana y el viento sopla entre los arboles mientras los " +
      "pajaros cantan en el jardin y el agua del rio fluye tranquilamente"),
    "fr" -> ("le renard brun rapide saute par dessus le chien paresseux et le " +
      "chat est assis sur le tapis avec le chien dans la maison et ils etaient " +
      "heureux ensemble dans le soleil du matin et le vent souffle dans les " +
      "arbres pendant que les oiseaux chantent dans le jardin et que l eau de la " +
      "riviere coule doucement"))

  val TopN = 40

  /** Top-`TopN` character trigrams of `text` ranked by (count desc, gram
    * asc) — 1-based ranks. The SAME semantics the distributed plan and the
    * oracle SQL compute per document. */
  private[graft] def trigramProfile(text: String): Seq[(String, Int)] = {
    val counts = (0 to text.length - 3).map(i => text.substring(i, i + 3))
      .groupBy(identity).map { case (g, gs) => (g, gs.size) }
    counts.toSeq.sortBy { case (g, c) => (-c, g) }.take(TopN)
      .zipWithIndex.map { case ((g, _), i) => (g, i + 1) }
  }

  /** (lang, gram, rank) rows; every seed must fill all TopN slots so the
    * out-of-place maximum distance is the constant TopN*TopN. */
  val Profiles: Seq[(String, String, Int)] = {
    LangSeeds.foreach { case (l, s) =>
      require(trigramProfile(s).size == TopN, s"seed '$l' has < $TopN distinct trigrams") }
    LangSeeds.flatMap { case (l, s) => trigramProfile(s).map { case (g, r) => (l, g, r) } }
  }

  /** [[Profiles]] as the scoring table the `ct_best_lang` kernel reads. */
  val ProfileTable: LangProfiles = new LangProfiles(Profiles, TopN)

  /** Cavnar–Trenkle rank-order classification ("N-Gram-Based Text
    * Categorization", SDAIR'94): per doc, rank its top-TopN character
    * trigrams; distance to a language = out-of-place distance between rank
    * lists (unmatched profile gram costs TopN); predict the argmin
    * language, ties broken alphabetically. Integer-exact end to end, so
    * the DuckDB oracle ([[langIdNgramSql]]) agrees bit-for-bit.
    *
    * Plan shape: the per-doc top-TopN trigram rank profile is computed
    * INSIDE the row by the native [[NgramExpressions.trigramTopN]] kernel (the profile
    * is document-local — counting and ranking trigrams needs nothing from
    * any other row), then scored inside the row as well, against the
    * constant [[ProfileTable]] that rides in the plan as the `ct_best_lang`
    * kernel's object argument ([[LangProfiles]]). The previous distributed form
    * (trigram explode -> groupBy(doc, gram) -> per-doc window rank)
    * shuffled one row per CHARACTER of the corpus — the widest
    * intermediate of the whole text suite — only to collapse straight
    * back to TopN rows per doc. Identical output (same codepoint
    * substrings, same (count desc, gram binary asc) rank order); the
    * DuckDB oracle SQL keeps the declarative window form. */
  def langIdNgram(docs: DataFrame): DataFrame =
    // fully row-local: the per-doc rank profile is computed inside the row
    // (`trigram_topn`) and scored against the static profile table inside the
    // row (`ct_best_lang`) — ZERO exchanges; the previous broadcast-join +
    // (doc,lang) aggregate + argmin form shuffled the corpus three times
    // to compare each doc against 160 constants. coalesce('') keeps the
    // no-text row semantics of the old outer form: empty profile => every
    // lang at max distance => first lang asc.
    docs.select(col("doc_id"),
      NgramExpressions.ctBestLang(
        NgramExpressions.trigramTopN(coalesce(col("text"), lit("")), TopN),
        ProfileTable).as("m"))
      .select(col("doc_id"), col("m.pred_lang").as("pred_lang"), col("m.dist").as("dist"))

  def langIdNgramSql: String = {
    def esc(s: String) = s.replace("'", "''")
    val values = Profiles.map { case (l, g, r) => s"('${esc(l)}','${esc(g)}',$r)" }.mkString(", ")
    val langVals = LangSeeds.map(s => s"('${s._1}')").mkString(", ")
    s"""WITH grams AS (SELECT doc_id, substr(text, CAST(u AS INTEGER), 3) AS g
       | FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 1, 1))) AS u FROM documents)),
       | cnt AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
       | dtop AS (SELECT doc_id, g, r FROM (SELECT doc_id, g,
       |   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS r FROM cnt) WHERE r <= $TopN),
       | prof(lang, g, pr) AS (VALUES $values),
       | credit AS (SELECT d.doc_id, p.lang, sum($TopN - abs(d.r - p.pr)) AS cr
       |   FROM dtop d JOIN prof p ON d.g = p.g GROUP BY 1, 2),
       | base AS (SELECT d.doc_id, l.lang FROM (SELECT doc_id FROM documents) d
       |   CROSS JOIN (VALUES $langVals) l(lang)),
       | scored AS (SELECT b.doc_id, b.lang, ${TopN * TopN} - COALESCE(c.cr, 0) AS dist
       |   FROM base b LEFT JOIN credit c ON c.doc_id = b.doc_id AND c.lang = b.lang)
       | SELECT doc_id, lang AS pred_lang, CAST(dist AS BIGINT) AS dist FROM (
       |   SELECT doc_id, lang, dist, row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
       |   FROM scored) t WHERE rn = 1""".stripMargin.replace("\n", " ")
  }

  /** Gopher/Dolma-style repetition signals: per doc, the count and char
    * length of the most frequent word 1-gram and 2-gram plus the word
    * count — all integers, so "fraction of characters in the top n-gram"
    * (the published filter threshold) is a downstream division and the
    * whole table hash-checks against DuckDB. One native pass per row,
    * zero exchanges. */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      NgramExpressions.topWordNgrams(coalesce(col("text"), lit(""))).as("r"))
      .select(col("doc_id"), col("r.n_words").as("n_words"),
        col("r.top1_cnt").as("top1_cnt"), col("r.top1_len").as("top1_len"),
        col("r.top2_cnt").as("top2_cnt"), col("r.top2_len").as("top2_len"))

  val repetitionStatsSql: String =
    """WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM documents),
      | g1 AS (SELECT doc_id, unnest(ws) AS g FROM w),
      | g2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
      |   FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
      | t1 AS (SELECT doc_id, g, count(*) AS c,
      |   row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g) AS rn
      |   FROM g1 GROUP BY 1, 2),
      | t2 AS (SELECT doc_id, g, count(*) AS c,
      |   row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g) AS rn
      |   FROM g2 GROUP BY 1, 2)
      | SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
      |   CAST(coalesce(t1.c, 0) AS BIGINT) AS top1_cnt,
      |   CAST(coalesce(length(t1.g), 0) AS BIGINT) AS top1_len,
      |   CAST(coalesce(t2.c, 0) AS BIGINT) AS top2_cnt,
      |   CAST(coalesce(length(t2.g), 0) AS BIGINT) AS top2_len
      | FROM w LEFT JOIN t1 ON t1.doc_id = w.doc_id AND t1.rn = 1
      |        LEFT JOIN t2 ON t2.doc_id = w.doc_id AND t2.rn = 1"""
      .stripMargin.replace("\n", " ")

  /** BPE-ish regex token counting: the pre-tokenizer split every byte-pair
    * tokenizer starts from — letter runs | digit runs | single non-space
    * symbol. Pure regexp column plan (codegen); the class-only patterns
    * have identical semantics in Java regex and DuckDB's RE2, so the
    * counts are oracle-checkable. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long").as("n_bpe"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).cast("long").as("n_alpha"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("long").as("n_num"),
      size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("n_sym"))

  val bpeTokensSql: String =
    """SELECT doc_id,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_alpha,
      | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
      | CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_sym
      | FROM documents""".stripMargin.replace("\n", " ")

  /** Quality filter: C4/Gopher-style keep/drop heuristics, all as EXACT
    * integer predicates (ratios are cross-multiplied, never divided, so
    * the DuckDB oracle agrees bit-for-bit):
    *  - ok_len:      minTokens <= n_tokens <= maxTokens
    *  - ok_tok:      max token length <= maxTokLen (no unbroken junk runs)
    *  - ok_stop:     stopword count * 100 >= n_tokens * minStopPct
    *  - ok_sym:      symbol tokens * 100 <= bpe tokens * maxSymPct
    *  - ok_distinct: distinct tokens * 100 >= n_tokens * minDistinctPct
    *    (kills "word word word ..." degenerate repetition)
    * Emits each rule's verdict (a pipeline wants to know WHY a doc
    * dropped) plus the combined `keep`. Stopword list = [[MarkersEn]]
    * (the synthetic corpus' 31-word vocab stand-in for a real list). */
  def qualityFilter(docs: DataFrame, minTokens: Int = 5, maxTokens: Int = 100000,
                    maxTokLen: Int = 50, minStopPct: Int = 1, maxSymPct: Int = 30,
                    minDistinctPct: Int = 10): DataFrame = {
    val nTokens = size(toks).cast("long")
    val nStop = size(filter(toks, t => MarkersEn.map(m => t === m).reduce(_ || _))).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val maxLen = array_max(transform(toks, t => length(t))).cast("long")
    val nBpe = size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long")
    val nSym = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")
    def b(c: org.apache.spark.sql.Column) = when(c, 1L).otherwise(0L)
    docs.select(col("doc_id"), nTokens.as("n_tokens"),
        b(nTokens >= minTokens && nTokens <= maxTokens).as("ok_len"),
        b(maxLen <= maxTokLen).as("ok_tok"),
        b(nStop * 100 >= nTokens * minStopPct).as("ok_stop"),
        b(nSym * 100 <= nBpe * maxSymPct).as("ok_sym"),
        b(nDistinct * 100 >= nTokens * minDistinctPct).as("ok_distinct"))
      .withColumn("keep", b(col("ok_len") === 1 && col("ok_tok") === 1 &&
        col("ok_stop") === 1 && col("ok_sym") === 1 && col("ok_distinct") === 1))
  }

  def qualityFilterSql(minTokens: Int = 5, maxTokens: Int = 100000,
                       maxTokLen: Int = 50, minStopPct: Int = 1, maxSymPct: Int = 30,
                       minDistinctPct: Int = 10): String = {
    val stopPred = MarkersEn.map(m => s"t = '$m'").mkString(" OR ")
    s"""WITH c AS (SELECT doc_id,
       |  len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
       |  len(list_filter(string_split(text, ' '), t -> $stopPred)) AS n_stop,
       |  len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS n_distinct,
       |  list_max(list_transform(list_filter(string_split(text, ' '), t -> t <> ''), t -> length(t))) AS max_len,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_sym
       |  FROM documents),
       | v AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CASE WHEN n_tokens >= $minTokens AND n_tokens <= $maxTokens THEN 1 ELSE 0 END AS ok_len,
       |  CASE WHEN max_len <= $maxTokLen THEN 1 ELSE 0 END AS ok_tok,
       |  CASE WHEN n_stop * 100 >= n_tokens * $minStopPct THEN 1 ELSE 0 END AS ok_stop,
       |  CASE WHEN n_sym * 100 <= n_bpe * $maxSymPct THEN 1 ELSE 0 END AS ok_sym,
       |  CASE WHEN n_distinct * 100 >= n_tokens * $minDistinctPct THEN 1 ELSE 0 END AS ok_distinct
       |  FROM c)
       | SELECT doc_id, n_tokens, CAST(ok_len AS BIGINT) AS ok_len,
       |  CAST(ok_tok AS BIGINT) AS ok_tok, CAST(ok_stop AS BIGINT) AS ok_stop,
       |  CAST(ok_sym AS BIGINT) AS ok_sym, CAST(ok_distinct AS BIGINT) AS ok_distinct,
       |  CAST(CASE WHEN ok_len = 1 AND ok_tok = 1 AND ok_stop = 1 AND ok_sym = 1
       |    AND ok_distinct = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
       | FROM v""".stripMargin.replace("\n", " ")
  }

  // ---------------- benchmark decontamination ----------------

  /** Benchmark probe shingles (stand-in for a held-out eval set's n-grams;
    * a real pipeline loads these from the benchmark corpus). Word
    * 3-shingles, same shingling as the dedup suite. */
  val ProbeShingles: Seq[String] = Seq(
    "slow hash batch", "row column sort", "stream table hash",
    "window fast query", "the quick brown")

  /** Test-set contamination scan: flag every document sharing >= 1 word
    * 3-shingle with the probe set — the decontamination pass a training
    * pipeline runs against its eval benchmarks before training. The probe
    * set is tiny (benchmark-sized), so the whole check is ROW-LOCAL:
    * n_hits = |distinct doc shingles ∩ probes| via `array_intersect`
    * against a literal probe array — one narrow codegen'd projection, no
    * explode, no shuffle, no join. (The previous form exploded distinct
    * (doc, shingle) pairs — a corpus-wide distinct SHUFFLE — then
    * semi-joined the broadcast probes; at 100 TB the row-local form
    * touches nothing but the document row.) Output one row per doc:
    * n_hits (distinct probe shingles present) and hit01. */
  def contamination(docs: DataFrame, probes: Seq[String] = ProbeShingles): DataFrame = {
    val probeArr = array(probes.distinct.map(lit): _*)
    // native distinct-shingle array (one pass; array_intersect is
    // distinct-valued anyway, so per-doc-distinct input is identical);
    // NULL text coalesces to "" so n_hits is 0, matching the oracle's
    // LEFT JOIN + COALESCE (and the langIdNgram/repetitionStats siblings)
    val nHits = size(array_intersect(
      graft.ops.MinhashExpressions.distinctShingles(coalesce(col("text"), lit(""))),
      probeArr)).cast("long")
    docs.select(col("doc_id"), nHits.as("n_hits"),
      when(nHits > 0, 1L).otherwise(0L).as("hit01"))
  }

  def contaminationSql(probes: Seq[String] = ProbeShingles): String = {
    val values = probes.distinct.map(p => s"('${p.replace("'", "''")}')").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
       | sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
       |   FROM (SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 1, 1))) AS i FROM toks)),
       | probes(sh) AS (VALUES $values),
       | hits AS (SELECT doc_id, count(*) AS n_hits FROM sh JOIN probes USING (sh) GROUP BY 1)
       | SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |   CAST(CASE WHEN COALESCE(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS hit01
       | FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id""".stripMargin.replace("\n", " ")
  }

  // ---------------- PII redaction ----------------

  /** Class-only regexes — identical semantics in Java regex and DuckDB RE2,
    * so the redacted text is oracle-comparable byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val Ipv4Re = "[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?"
  val PhoneRe = "\\+[0-9][0-9 -]{7,14}[0-9]"

  /** The synthetic corpus carries no PII, so the oracle-checked query runs
    * over documents UNION planted-PII rows (every doc_id % 7 == 0 mirrored
    * at +2000000 with an email, an IP, and a phone prepended) — both
    * engines synthesize the identical rows, and the real rows prove the
    * patterns do NOT overfire. */
  def piiCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionAll(
      docs.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 2000000).as("doc_id"),
        concat(lit("contact user"), col("doc_id"), lit("@example.com at 10."),
          col("doc_id") % 200, lit(".3.4 call +1 555 01"), col("doc_id") % 10,
          lit("0 "), col("text")).as("text")))

  val piiCorpusSql: String =
    "(SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 2000000 AS doc_id, " +
      "'contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.' || " +
      "CAST(doc_id % 200 AS VARCHAR) || '.3.4 call +1 555 01' || " +
      "CAST(doc_id % 10 AS VARCHAR) || '0 ' || text AS text " +
      "FROM documents WHERE doc_id % 7 = 0)"

  /** PII scrub: replace emails / IPv4s / phone-like sequences with typed
    * placeholders, count each replacement class (the audit trail a
    * pipeline keeps). Pure regexp column plan — codegen, linear scan,
    * no shuffle. */
  def redactPii(docs: DataFrame): DataFrame = {
    def nMatches(c: Column, re: String) =
      size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
    // audit counts are ACTUAL replacement counts: each stage counts on the
    // text the previous stages already redacted (counting every class on
    // the raw text overstates when patterns overlap — e.g. an IPv4-like
    // substring inside an already-redacted email)
    val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    docs.select(
      col("doc_id"),
      regexp_replace(afterIp, PhoneRe, "<PHONE>").as("clean_text"),
      nMatches(col("text"), EmailRe).as("n_email"),
      nMatches(afterEmail, Ipv4Re).as("n_ip"),
      nMatches(afterIp, PhoneRe).as("n_phone"))
  }

  val redactPiiSql: String = {
    val afterEmail = s"regexp_replace(text, '$EmailRe', '<EMAIL>', 'g')"
    val afterIp = s"regexp_replace($afterEmail, '$Ipv4Re', '<IP>', 'g')"
    s"""SELECT doc_id,
       | regexp_replace($afterIp, '$PhoneRe', '<PHONE>', 'g') AS clean_text,
       | CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
       | CAST(len(regexp_extract_all($afterEmail, '$Ipv4Re')) AS BIGINT) AS n_ip,
       | CAST(len(regexp_extract_all($afterIp, '$PhoneRe')) AS BIGINT) AS n_phone
       | FROM $piiCorpusSql pc""".stripMargin.replace("\n", " ")
  }

  /** Winnowing fingerprints: polynomial rolling hash over token windows of
    * `w`, keep the minimum hash of every `g`-window band (robust, order-
    * sensitive near-dup fingerprint). All arithmetic is mod FpP < 2^31, so
    * no intermediate exceeds 2^62 — every step is EXACT int64 on both
    * engines, which is what lets [[fingerprintsSql]] replicate the whole
    * pipeline in DuckDB (the previous masked-wrap hash overflowed int64,
    * whose JVM silent wrap DuckDB cannot express) — q26 is hash-checked.
    * Token hashing folds UTF-16 code units == code points for the ASCII
    * synthetic corpus (the oracle's ord() sees the same values). */
  val FpP = 1000000007L
  val FpB = 1000003L
  val FpC = 131L

  def fingerprints(docs: DataFrame, w: Int = 4, g: Int = 4): DataFrame =
    // native one-pass expression (no ScalaUDF boxing on the fact path) —
    // see [[MinhashExpressions.winnowFingerprints]]
    docs.select(col("doc_id"),
      explode(MinhashExpressions.winnowFingerprints(col("text"), w, g)).as("fp"))

  /** DuckDB replica of [[fingerprints]] (w = g = 4, the q26 parameters):
    * same char fold, same unrolled window polynomial, same band-min +
    * distinct. */
  val fingerprintsSql: String = {
    val tokHash = // fold ((a*131 + c) % P) over the token's characters
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(1, length(t) + 1), i -> CAST(ord(array_slice(t, i, i)) AS BIGINT))), " +
        s"(a, c) -> (a * $FpC + c) % $FpP)"
    // identical op sequence to foldLeft over the 4-element window:
    // a1=h1; a2=((a1*B)%P+h2)%P; a3=((a2*B)%P+h3)%P; a4=((a3*B)%P+h4)%P
    val win =
      s"((((((th[i] * $FpB) % $FpP + th[i+1]) % $FpP) * $FpB) % $FpP + th[i+2]) % $FpP * $FpB) " +
        s"% $FpP + th[i+3]"
    s"""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents),
       | th AS (SELECT doc_id, list_transform(ts, t -> $tokHash) AS th FROM toks WHERE len(ts) >= 4),
       | win AS (SELECT doc_id, list_transform(range(1, len(th) - 2), i -> ($win) % $FpP) AS ws FROM th),
       | bands AS (SELECT doc_id, list_distinct(list_transform(range(0, CAST(ceil(len(ws) / 4.0) AS BIGINT)),
       |   g -> list_min(array_slice(ws, g * 4 + 1, least(g * 4 + 4, len(ws)))))) AS fps FROM win)
       | SELECT doc_id, unnest(fps) AS fp FROM bands""".stripMargin.replace("\n", " ")
  }
}
