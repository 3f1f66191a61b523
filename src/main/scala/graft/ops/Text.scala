package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.functions.Hashing

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (token counting, quality scoring,
  * language-ID, fingerprinting, exact dedup) plus the reference's
  * word-frequency shapes (Assignment1/task1.py:40-53).
  *
  * Everything here is pure Catalyst expressions (split/filter/transform/
  * aggregate higher-order functions) — whole-stage-codegen'd, no UDFs, so
  * each query is one scan → narrow per-row work → (group) shuffle. At
  * 100 TB these all scale linearly: per-document work is embarrassingly
  * parallel and the only shuffles are on small grouped keys.
  */
object Text {

  /** Tokenizer shared by all text ops: split on single space, drop
    * empties (reference splits on ' ' — Assignment1/task1.py:52). */
  val toksExpr = "filter(split(text, ' ', -1), x -> x != '')"
  val toksSqlExpr = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** BPE-ish subtoken regex: letter runs, digit runs, single other
    * non-space chars — the "whitespace + BPE-ish regex" token counter. */
  val subtokRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** Space-joined word n-grams over a token-array column, guarded for
    * arrays shorter than n (empty result, mirroring DuckDB's empty
    * generate_series — ADVICE r02). Shared by the fingerprint shingles
    * (n = 3), the repetition bigrams (n = 2), and the q58 shingle join.
    *
    * Built as nested zip_with over n shifted slices — NOT
    * transform(sequence(...), i -> element_at(toksCol, i + j)). The
    * element_at form references `toksCol` INSIDE the lambda, and when
    * `toksCol` is a projected alias (filter(split(text))), Catalyst's
    * CollapseProject inlines the whole tokenizer into the lambda body,
    * re-splitting the document once per element per reference —
    * interpreted HOFs get no common-subexpression elimination, and the
    * shingle build measured 15× slower (4.3 s vs 0.3 s at sf0.1). The
    * zip_with form references `toksCol` only at row level (n slices +
    * the guard), so inlining costs n+1 row-level evaluations instead
    * of 3·shingles per row. */
  def ngramExpr(toksCol: String, n: Int): String = {
    val m = s"size($toksCol) - ${n - 1}"
    def nest(j: Int): String =
      if (j == n - 1) s"slice($toksCol, $n, $m)"
      else s"zip_with(slice($toksCol, ${j + 1}, $m), ${nest(j + 1)}, " +
        s"(x$j, y$j) -> concat(x$j, ' ', y$j))"
    s"CASE WHEN size($toksCol) < $n THEN slice($toksCol, 1, 0) " +
      s"ELSE ${nest(0)} END"
  }

  /** DuckDB twin of [[ngramExpr]] (generate_series is empty for
    * len < n, so the short-doc guard is implicit there). */
  def ngramSqlExpr(toksCol: String, n: Int): String = {
    val parts = (0 until n).map(j => s"$toksCol[i + $j]").mkString(", ")
    s"list_transform(generate_series(1, len($toksCol) - ${n - 1}), " +
      s"i -> concat_ws(' ', $parts))"
  }

  /** q17: per-document token statistics — whitespace tokens, distinct
    * tokens, BPE-ish subtokens, average token length. */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("n_chars"), expr(toksExpr).as("toks"),
        col("text"))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        size(expr(s"regexp_extract_all(text, '$subtokRe', 0)"))
          .as("n_subtokens"),
        (floor(expr("aggregate(toks, 0L, (a, x) -> a + length(x))")
          .cast("double") / size(col("toks")) * 1e4 + 0.5) / 1e4)
          .as("avg_tok_len"))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    s"""WITH t AS (SELECT doc_id, n_chars, $toksSqlExpr AS toks, text
       |           FROM documents)
       |SELECT doc_id, n_chars,
       |  len(toks) AS n_tokens,
       |  len(list_distinct(toks)) AS n_uniq,
       |  len(regexp_extract_all(text, '$subtokRe')) AS n_subtokens,
       |  floor(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
       |        / len(toks) * 1e4 + 0.5) / 1e4 AS avg_tok_len
       |FROM t ORDER BY doc_id""".stripMargin

  /** Stopword list for quality scoring / lang-ID (english function
    * words present in the synthetic corpus). */
  val QualityStops: Seq[String] = Seq("a", "the")

  /** q18: document quality scoring — length score, stopword ratio,
    * punctuation count; composite quality in [0,1]-ish and a keep flag.
    * The shape every LLM-data pipeline runs before training. */
  def docQuality(s: SparkSession, d: String): DataFrame =
    docQualityOn(documents(s, d)).orderBy(col("doc_id"))

  /** Every STATELESS per-doc curation signal in one projection chain —
    * no join, no shuffle, no stateful operator, so the same frame runs
    * unchanged on a stream ([[graft.streaming.Streams.streamingCuration]])
    * and is the single source of truth the q18/q55/q59 shapes select
    * from. Adds: n_tokens, n_uniq, stop_cnt, punct_cnt, n_chars,
    * n_grams, top_cnt, stop_ratio, quality, dup_token_frac,
    * top_bigram_frac, repetitive. */
  def signalChainOn(docs: DataFrame): DataFrame = {
    val stops = QualityStops.map(w => s"'$w'").mkString(", ")
    docs
      .select(col("doc_id"), col("text"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), col("text"), col("toks"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        size(expr(s"filter(toks, t -> array_contains(array($stops), t))"))
          .as("stop_cnt"),
        (length(col("text")) -
          length(translate(col("text"), ".,!?;:", ""))).as("punct_cnt"),
        length(col("text")).as("n_chars"),
        expr(ngramExpr("toks", 2)).as("g"))
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"),
        col("stop_cnt"), col("punct_cnt"), col("n_chars"),
        size(col("g")).cast("long").as("n_grams"),
        expr(maxRunExpr("g")).as("top_cnt"))
      // floor-half-up at 4 dp (scaled double), not round(): Spark
      // rounds the exact binary value HALF_UP, DuckDB rounds the
      // scaled double, and they disagree on exact .xxxx5 boundaries —
      // which real data hits (q31 did at sf0.1). The scaled double is
      // bit-identical in both engines, so floor on it is too.
      .withColumn("stop_ratio",
        floor(col("stop_cnt").cast("double") / col("n_tokens") * 1e4
          + 0.5) / 1e4)
      .withColumn("quality",
        floor((
          least(lit(1.0), col("n_tokens").cast("double") / 40.0) * 0.5 +
          least(lit(1.0),
            col("stop_cnt").cast("double") / col("n_tokens") * 8.0) * 0.5 -
          col("punct_cnt").cast("double") / col("n_chars")) * 1e4
          + 0.5) / 1e4)
      .withColumn("dup_token_frac",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(floor((lit(1.0) -
            col("n_uniq").cast("double") / col("n_tokens")) * 1e4
            + 0.5) / 1e4))
      .withColumn("top_bigram_frac",
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(floor(
            col("top_cnt").cast("double") / col("n_grams") * 1e4
            + 0.5) / 1e4))
      .withColumn("repetitive",
        (col("dup_token_frac") > 0.5 || col("top_bigram_frac") > 0.2)
          .cast("boolean"))
  }

  /** Unordered quality signals over any (doc_id, text) corpus — shared
    * by q18 and the q59 curation chain (joining on the ordered public
    * form would drag a useless sort into downstream plans). */
  def docQualityOn(docs: DataFrame): DataFrame =
    signalChainOn(docs)
      .select(col("doc_id"), col("n_tokens"), col("stop_cnt"),
        col("punct_cnt"), col("stop_ratio"), col("quality"))
      .withColumn("keep", (col("quality") >= 0.5).cast("boolean"))

  val docQualitySql: String = {
    val stops = QualityStops.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, text, $toksSqlExpr AS toks FROM documents),
       |m AS (SELECT doc_id,
       |  len(toks) AS n_tokens,
       |  len(list_filter(toks, t -> list_contains([$stops], t))) AS stop_cnt,
       |  len(text) - len(translate(text, '.,!?;:', '')) AS punct_cnt,
       |  len(text) AS n_chars
       |FROM t)
       |SELECT doc_id, n_tokens, stop_cnt, punct_cnt,
       |  floor(CAST(stop_cnt AS DOUBLE) / n_tokens * 1e4 + 0.5) / 1e4
       |    AS stop_ratio,
       |  floor((least(1.0, CAST(n_tokens AS DOUBLE) / 40.0) * 0.5 +
       |        least(1.0, CAST(stop_cnt AS DOUBLE) / n_tokens * 8.0) * 0.5 -
       |        CAST(punct_cnt AS DOUBLE) / n_chars) * 1e4 + 0.5) / 1e4
       |    AS quality,
       |  (floor((least(1.0, CAST(n_tokens AS DOUBLE) / 40.0) * 0.5 +
       |        least(1.0, CAST(stop_cnt AS DOUBLE) / n_tokens * 8.0) * 0.5 -
       |        CAST(punct_cnt AS DOUBLE) / n_chars) * 1e4 + 0.5) / 1e4
       |    >= 0.5) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Per-language marker vocabularies for the lang-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "to", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "las", "es", "y"),
    "fr" -> Seq("le", "les", "des", "est", "et", "une"))

  /** q19: language identification — marker-word scoring with a CJK
    * codepoint check, deterministic argmax (priority order en > de > es >
    * fr on ties). On the synthetic corpus every doc scores as English
    * regardless of its `lang` label (the generator reuses one vocabulary)
    * — the `correct` flag records that honestly; the operator semantics,
    * not the corpus, is what's verified. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val cnts = LangMarkers.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString(", ")
      expr(s"size(filter(toks, t -> array_contains(array($arr), t)))")
        .as(s"${lang}_cnt")
    }
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        expr(toksExpr).as("toks"))
      .select(Seq(col("doc_id"), col("lang"),
        col("text").rlike("[一-鿿]").as("has_cjk")) ++ cnts: _*)
      .withColumn("pred_lang",
        when(col("has_cjk"), "zh")
          .when(col("fr_cnt") > col("en_cnt") &&
            col("fr_cnt") > col("de_cnt") &&
            col("fr_cnt") > col("es_cnt"), "fr")
          .when(col("es_cnt") > col("en_cnt") &&
            col("es_cnt") > col("de_cnt"), "es")
          .when(col("de_cnt") > col("en_cnt"), "de")
          .otherwise("en"))
      .withColumn("correct", (col("pred_lang") === col("lang")).cast("boolean"))
      .drop("has_cjk")
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val cnts = LangMarkers.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> list_contains([$arr], t))) AS ${lang}_cnt"
    }.mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id, lang, text, $toksSqlExpr AS toks
       |           FROM documents),
       |m AS (SELECT doc_id, lang,
       |  regexp_matches(text, '[一-鿿]') AS has_cjk,
       |  $cnts
       |FROM t)
       |SELECT doc_id, lang, en_cnt, de_cnt, es_cnt, fr_cnt,
       |  CASE WHEN has_cjk THEN 'zh'
       |       WHEN fr_cnt > en_cnt AND fr_cnt > de_cnt AND fr_cnt > es_cnt
       |         THEN 'fr'
       |       WHEN es_cnt > en_cnt AND es_cnt > de_cnt THEN 'es'
       |       WHEN de_cnt > en_cnt THEN 'de'
       |       ELSE 'en' END AS pred_lang,
       |  (CASE WHEN has_cjk THEN 'zh'
       |       WHEN fr_cnt > en_cnt AND fr_cnt > de_cnt AND fr_cnt > es_cnt
       |         THEN 'fr'
       |       WHEN es_cnt > en_cnt AND es_cnt > de_cnt THEN 'es'
       |       WHEN de_cnt > en_cnt THEN 'de'
       |       ELSE 'en' END = lang) AS correct
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** q20: document fingerprinting — full-content md5 plus a
    * winnowing-style rolling fingerprint: the minimum 60-bit hash over
    * all word 3-shingles. Two documents sharing any low shingle hash
    * collide on `min_shingle_hash`, the classic near-dup blocking key. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text"), expr(toksExpr).as("toks"))
      .select(col("doc_id"),
        md5(col("text")).as("content_hash"),
        expr(ngramExpr("toks", 3)).as("shingles"))
      .select(col("doc_id"), col("content_hash"),
        size(col("shingles")).as("n_shingles"),
        array_min(expr(
          "transform(shingles, sh -> " +
            "CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT))"))
          .as("min_shingle_hash"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    s"""WITH t AS (SELECT doc_id, text, $toksSqlExpr AS toks FROM documents),
       |sh AS (SELECT doc_id, md5(text) AS content_hash,
       |  list_transform(generate_series(1, len(toks) - 2), i ->
       |    concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])) AS shingles
       |FROM t)
       |SELECT doc_id, content_hash, len(shingles) AS n_shingles,
       |  list_min(list_transform(shingles, s ->
       |    ${Hashing.h60Sql("s")})) AS min_shingle_hash
       |FROM sh ORDER BY doc_id""".stripMargin

  /** q21: exact deduplication — content-hash groupBy, the first dedup
    * pass of any corpus pipeline. Per source: total docs, distinct
    * contents, duplicate count. At 100 TB this is one shuffle on a
    * 128-bit hash key; the md5 is computed map-side so only (hash,
    * source) pairs move. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))
      .orderBy(col("source"))

  val exactDedupSql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct,
      |  count(*) - count(DISTINCT md5(text)) AS n_dupes
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q55: repetition filtering signals (the Gopher/RefinedWeb-style
    * "repetition ratios" every LLM-data pipeline computes before
    * training): duplicate-token fraction and the share of all bigrams
    * taken by the single most frequent bigram. High values flag
    * boilerplate/spam for removal. Pure map-side expression work over
    * one scan — zero shuffle at any corpus size (the earlier
    * explode + double groupBy form shuffled a bigram-sized relation
    * twice; the max bigram multiplicity is just the longest equal-run
    * of the per-row SORTED bigram array, a per-row HOF). */
  def repetitionSignals(s: SparkSession, d: String): DataFrame =
    repetitionSignalsOn(documents(s, d)).orderBy(col("doc_id"))

  /** Longest run of equal adjacent elements in the sorted array `c` —
    * i.e. the max multiplicity of any element — as a single
    * `aggregate` HOF (row-level; the lambda references only its own
    * accumulator and element, so no CollapseProject inlining risk). */
  private def maxRunExpr(c: String): String =
    s"""aggregate(sort_array($c),
       |  named_struct('prev', CAST(NULL AS STRING),
       |               'run', CAST(0 AS BIGINT),
       |               'best', CAST(0 AS BIGINT)),
       |  (a, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(a.prev IS NOT NULL AND x = a.prev,
       |              a.run + 1L, 1L),
       |    'best', greatest(a.best,
       |      IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1L, 1L))),
       |  a -> a.best)""".stripMargin.replaceAll("\n\\s*", " ")

  /** Unordered repetition signals over any (doc_id, text) corpus —
    * shared by q55 and q59 (zero-token docs pinned to 0.0 in the
    * chain: 0/0 is NULL in Spark but NaN on DuckDB ≥ 1.1). */
  def repetitionSignalsOn(docs: DataFrame): DataFrame =
    signalChainOn(docs)
      .select(col("doc_id"), col("n_tokens"), col("dup_token_frac"),
        col("top_bigram_frac"), col("repetitive"))

  val repetitionSignalsSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSqlExpr AS toks FROM documents),
       |g AS (SELECT doc_id,
       |        unnest(list_transform(generate_series(1, len(toks) - 1),
       |          i -> concat_ws(' ', toks[i], toks[i + 1]))) AS g
       |      FROM t),
       |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
       |top AS (SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_grams
       |        FROM gc GROUP BY 1),
       |m AS (SELECT doc_id, len(toks) AS n_tokens,
       |        len(list_distinct(toks)) AS n_uniq FROM t),
       |f AS (SELECT m.doc_id, m.n_tokens,
       |        CASE WHEN m.n_tokens = 0 THEN 0.0
       |             ELSE floor((1.0 - CAST(n_uniq AS DOUBLE) / n_tokens)
       |                    * 1e4 + 0.5) / 1e4
       |        END AS dup_token_frac,
       |        CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0
       |             ELSE floor(CAST(top_cnt AS DOUBLE) / n_grams
       |                    * 1e4 + 0.5) / 1e4
       |        END AS top_bigram_frac
       |      FROM m LEFT JOIN top ON m.doc_id = top.doc_id)
       |SELECT doc_id, n_tokens, dup_token_frac, top_bigram_frac,
       |  (dup_token_frac > 0.5 OR top_bigram_frac > 0.2) AS repetitive
       |FROM f ORDER BY doc_id""".stripMargin

  /** Terms kept per document in the TF-IDF ranking. */
  val TfidfTopK = 3

  /** q57: top-[[TfidfTopK]] terms per document by TF-IDF — the
    * relevance/keyword-extraction signal of a training-data pipeline
    * (the natural extension of the reference's global word counts,
    * Assignment1/task1.py:40-53, to per-document term weighting).
    *
    * tf from one explode + grouped count; df is a second aggregation
    * OVER the tf result (vocabulary-sized, so the df and corpus-count
    * joins broadcast); idf = ln(N/df). At 100 TB the only data-sized
    * shuffle is the (doc_id, term) count — df/N ride on top of it, and
    * the per-document top-k window partitions by doc_id, so no skew
    * (documents are bounded). */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame =
    tfidfTopTermsOn(documents(s, d)).orderBy(col("doc_id"), col("rk"))

  /** q57 over a caller-supplied (doc_id, text) corpus. */
  def tfidfTopTermsOn(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // kept: 2 readers; olap_mix warm +11% without it
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // rank on the raw double (identical arithmetic in the oracle), so
    // both engines break float ties the same way; term asc disambiguates
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TfidfTopK)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        (floor(col("score") * 1e4 + 0.5) / 1e4).as("tfidf"))
  }

  val tfidfTopTermsSql: String =
    s"""WITH t AS (SELECT doc_id, unnest($toksSqlExpr) AS term
       |           FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (SELECT doc_id, term, tf, df,
       |         tf * ln(CAST(n_docs AS DOUBLE) / df) AS score,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / df) DESC,
       |             term ASC) AS rk
       |       FROM tf JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, rk, term, tf, df,
       |  floor(score * 1e4 + 0.5) / 1e4 AS tfidf
       |FROM sc WHERE rk <= $TfidfTopK ORDER BY doc_id, rk""".stripMargin

  /** Minimum tokens before a document is even considered. */
  val CurationMinTokens = 10

  /** q59: the corpus-curation decision chain — every upstream signal
    * (length, exact-dup, quality, repetition) composed into one
    * keep/drop verdict with the FIRST failing rule as the reason code,
    * exactly the filter cascade an LLM-data pipeline runs before
    * training. Rule order: too_short → exact_dup (min-doc_id survivor
    * per content hash, one window on the 128-bit key) → low_quality
    * (q18's composite < 0.5) → repetitive (q55's flags) → ok.
    * Three document scans (quality, repetition, hash) joined on
    * doc_id; each signal is map-side + one small shuffle, so the
    * cascade stays linear at 100 TB and the verdict join keys are
    * doc-bounded. */
  def curation(s: SparkSession, d: String): DataFrame =
    curationOn(documents(s, d)).orderBy(col("doc_id"))

  /** q59 over a caller-supplied (doc_id, text) corpus. All stateless
    * signals ride one [[signalChainOn]] projection (no quality⋈
    * repetition join); the single join is the one the semantics force
    * — the exact-dup survivor rule needs cross-row state (md5 window).
    * UNORDERED like every `*On` entry point — a corpus-wide
    * presentation sort under a composition (q61's kept-set filter)
    * would be pure waste; the registered q59 wrapper sorts. */
  def curationOn(docs: DataFrame): DataFrame =
    curationFrom(signalChainOn(docs), docs)

  /** The q59 verdict over a PRE-COMPUTED signal frame (any frame with
    * doc_id, n_tokens, quality, repetitive — usually a checkpointed
    * [[signalChainOn]]) plus the raw docs for the exact-dup rule.
    * Lets a pipeline that already ran the signal chain (q86) reuse it
    * instead of recomputing the whole projection. UNORDERED — the
    * ordered public form is [[curationOn]]. */
  def curationFrom(sigIn: DataFrame, docs: DataFrame): DataFrame = {
    val sig = sigIn
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("repetitive"))
    // groupBy+join, not min() OVER (PARTITION BY h): the window form
    // buffers a whole hash group in one task (a corpus of identical
    // docs = one giant partition); the aggregate partial-combines
    // map-side and the join redistributes normally
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val firstOfDupGroup = hashed
      .join(hashed.groupBy(col("h")).agg(min(col("doc_id")).as("first_id")),
        "h")
      .select(col("doc_id"), col("first_id"))
    sig.join(firstOfDupGroup, "doc_id")
      .withColumn("reason",
        when(col("n_tokens") < CurationMinTokens, "too_short")
          .when(col("first_id") =!= col("doc_id"), "exact_dup")
          .when(col("quality") < 0.5, "low_quality")
          .when(col("repetitive"), "repetitive")
          .otherwise("ok"))
      .select(col("doc_id"), col("reason"),
        (col("reason") === "ok").cast("boolean").as("keep"))
  }

  val curationSql: String = {
    val stops = QualityStops.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, text, $toksSqlExpr AS toks FROM documents),
       |qm AS (SELECT doc_id,
       |  len(toks) AS n_tokens,
       |  len(list_filter(toks, x -> list_contains([$stops], x))) AS stop_cnt,
       |  len(text) - len(translate(text, '.,!?;:', '')) AS punct_cnt,
       |  len(text) AS n_chars
       |FROM t),
       |q AS (SELECT doc_id,
       |  floor((least(1.0, CAST(n_tokens AS DOUBLE) / 40.0) * 0.5 +
       |        least(1.0, CAST(stop_cnt AS DOUBLE) / n_tokens * 8.0) * 0.5 -
       |        CAST(punct_cnt AS DOUBLE) / n_chars) * 1e4 + 0.5) / 1e4
       |    AS quality
       |FROM qm),
       |g AS (SELECT doc_id,
       |        unnest(list_transform(generate_series(1, len(toks) - 1),
       |          i -> concat_ws(' ', toks[i], toks[i + 1]))) AS g
       |      FROM t),
       |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
       |top AS (SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_grams
       |        FROM gc GROUP BY 1),
       |m AS (SELECT doc_id, len(toks) AS n_tokens,
       |        len(list_distinct(toks)) AS n_uniq FROM t),
       |rep AS (SELECT m.doc_id, m.n_tokens,
       |        (CASE WHEN m.n_tokens = 0 THEN 0.0
       |              ELSE floor((1.0 - CAST(n_uniq AS DOUBLE) / n_tokens)
       |                     * 1e4 + 0.5) / 1e4
       |         END > 0.5 OR
       |         CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0
       |              ELSE floor(CAST(top_cnt AS DOUBLE) / n_grams
       |                     * 1e4 + 0.5) / 1e4
       |         END > 0.2) AS repetitive
       |      FROM m LEFT JOIN top ON m.doc_id = top.doc_id),
       |dup AS (SELECT doc_id,
       |          min(doc_id) OVER (PARTITION BY md5(text)) AS first_id
       |        FROM documents),
       |v AS (SELECT rep.doc_id,
       |        CASE WHEN rep.n_tokens < $CurationMinTokens THEN 'too_short'
       |             WHEN dup.first_id <> rep.doc_id THEN 'exact_dup'
       |             WHEN q.quality < 0.5 THEN 'low_quality'
       |             WHEN rep.repetitive THEN 'repetitive'
       |             ELSE 'ok' END AS reason
       |      FROM rep JOIN q ON q.doc_id = rep.doc_id
       |               JOIN dup ON dup.doc_id = rep.doc_id)
       |SELECT doc_id, reason, (reason = 'ok') AS keep
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** Continuations kept per context word in the q71 bigram table. */
  val BigramTopK = 3

  /** q71: bigram language-model table — for every context word, the
    * top-[[BigramTopK]] continuations with counts and conditional
    * probability P(w2|w1) = c(w1,w2)/c(w1·) (count desc, w2 asc ties).
    * The corpus-statistics pass of LM data analysis. One explode over
    * the shared n-gram helper, one (w1,w2) count (map-side partial),
    * a w1-keyed window for the top-k — all keys are vocabulary-sized,
    * so the shuffles shrink with distinct grams, not the corpus.
    * floor-half-up: counts are small integers, c/total lands on exact
    * .xxxx5 boundaries. */
  def bigramLm(s: SparkSession, d: String): DataFrame =
    bigramLmOn(documents(s, d))
      .orderBy(col("w1"), col("c").desc, col("w2"))

  /** q71 over a caller-supplied (doc_id, text) corpus. Top-k and the
    * context total ride ONE w1-keyed aggregate through the bounded
    * top-k Aggregator ([[graft.functions.BoundedTopByCount]]) — no
    * rank window, so no task ever sorts a prolific context word's
    * full continuation set. */
  def bigramLmOn(docs: DataFrame): DataFrame = {
    val topk = udaf(new graft.functions.BoundedTopByCount(BigramTopK))
    docs
      .select(expr(toksExpr).as("toks"))
      .select(explode(expr(ngramExpr("toks", 2))).as("g"))
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("w1"))
      .agg(sum(col("c")).as("total"),
        topk(col("c"), col("w2")).as("tops"))
      .select(col("w1"), col("total"), explode(col("tops")).as("t"))
      .select(col("w1"), col("t._2").as("w2"), col("t._1").as("c"),
        (floor(col("t._1").cast("double") / col("total") * 1e4 + 0.5)
          / 1e4).as("p"))
  }

  val bigramLmSql: String =
    s"""WITH t AS (SELECT $toksSqlExpr AS toks FROM documents),
       |g AS (SELECT unnest(${ngramSqlExpr("toks", 2)}) AS g FROM t),
       |p AS (SELECT string_split(g, ' ')[1] AS w1,
       |        string_split(g, ' ')[2] AS w2, count(*) AS c
       |      FROM g GROUP BY 1, 2),
       |r AS (SELECT w1, w2, c,
       |        sum(c) OVER (PARTITION BY w1) AS total,
       |        row_number() OVER (PARTITION BY w1
       |          ORDER BY c DESC, w2 ASC) AS rk
       |      FROM p)
       |SELECT w1, w2, c,
       |  floor(CAST(c AS DOUBLE) / total * 1e4 + 0.5) / 1e4 AS p
       |FROM r WHERE rk <= $BigramTopK
       |ORDER BY w1, c DESC, w2""".stripMargin

  /** Posting-list sample length in the q72 inverted index. */
  val PostingSample = 10

  /** q72: inverted index census — per term: document frequency, total
    * term frequency, and the first-[[PostingSample]] posting list as a
    * comma-joined doc_id sample. The retrieval-side build: one explode
    * to (term, doc_id, tf), a term-keyed aggregate; posting lists stay
    * bounded by the sample cut so no row grows with the corpus. */
  def invertedIndex(s: SparkSession, d: String): DataFrame =
    invertedIndexOn(documents(s, d)).orderBy(col("term"))

  /** q72 over a caller-supplied (doc_id, text) corpus. The posting
    * sample comes from a bounded k-smallest Aggregator
    * ([[graft.functions.BoundedMinK]]) — O(k) state that
    * partial-combines map-side, so neither an aggregation buffer nor a
    * window task ever holds a stopword's corpus-sized posting list;
    * stats and sample ride ONE term-keyed aggregate. */
  def invertedIndexOn(docs: DataFrame): DataFrame = {
    val minK = udaf(new graft.functions.BoundedMinK(PostingSample))
    docs
      .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("total_tf"),
        array_join(minK(col("doc_id")).cast("array<string>"), ",")
          .as("postings"))
  }

  val invertedIndexSql: String =
    s"""WITH e AS (SELECT doc_id, unnest($toksSqlExpr) AS term
       |           FROM documents),
       |tfs AS (SELECT term, doc_id, count(*) AS tf FROM e GROUP BY 1, 2)
       |SELECT term, count(DISTINCT doc_id) AS df,
       |  CAST(sum(tf) AS BIGINT) AS total_tf,
       |  array_to_string(list_sort(list(doc_id))[1:$PostingSample], ',')
       |    AS postings
       |FROM tfs GROUP BY term ORDER BY term""".stripMargin

  /** q82: n-gram novelty scoring — for each document, the fraction of
    * its distinct word 3-grams that occur in NO other document
    * (global df = 1). The inverse-boilerplate signal: template/spam
    * text scores near 0 (all its grams are shared), original text near
    * 1 — pipelines threshold it alongside q18 quality and q55
    * repetition. Two gram-keyed shuffles (per-doc distinct grams →
    * global df → join back) and a doc-keyed aggregate; the gram table
    * is checkpointed once because both the df count and the join
    * consume it. novelty = n_unique/n_grams is an integer ratio, so
    * plain floor-half-up 4-dp needs no ulp slack. Docs with < 3 tokens
    * have no grams and are excluded (both engines). */
  def novelty(s: SparkSession, d: String): DataFrame =
    noveltyOn(documents(s, d)).orderBy(col("doc_id"))

  /** q82 over a caller-supplied (doc_id, text) corpus. */
  def noveltyOn(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(${ngramExpr("toks", 3)})")).as("gram"))
      .localCheckpoint() // kept: 2 readers, no shuffle under them
    val df = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    grams.join(df, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        expr("floor(CAST(n_unique AS DOUBLE) / n_grams * 1e4 + 0.5) / 1e4"))
  }

  val noveltySql: String =
    s"""WITH t AS (SELECT doc_id, $toksSqlExpr AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |        generate_series(1, len(toks) - 2),
       |        i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))))
       |        AS gram
       |      FROM t),
       |d AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
       |SELECT doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unique,
       |  floor(CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*) * 1e4 + 0.5) / 1e4 AS novelty
       |FROM g JOIN d USING (gram)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q88: LM-based quality scoring — the CCNet shape (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data"): train a language model on a trusted high-quality
    * slice, score EVERY document's fluency against it, flag the worst
    * quartile. Here the LM is the corpus bigram model restricted to
    * documents the q18 heuristic keeps (quality ≥ 0.5) — the same
    * "reference-domain LM" role Wikipedia plays in CCNet — and the
    * score is the average conditional log-probability ln P(w2|w1)
    * over the document's bigrams, plus the fraction of its bigrams
    * the LM has never seen (the OOV signal the avg can't carry
    * because unseen bigrams have no finite log-prob).
    *
    * Scale: the LM is distinct-bigram-sized (vocabulary², shrinks
    * relative to the corpus); the scoring join shuffles on bigram
    * keys (NOT broadcast — a web-scale LM table outgrows an
    * executor); the per-doc aggregate is doc-keyed. The quartile
    * boundary rides Spark's exact `percentile` over lp_u6, an
    * INTEGER-valued micro-log-prob — its state is one entry per
    * distinct value, bounded by the 1e-6 grid times |ln p_min| ≈
    * ln(corpus bigrams) (a few 1e7 at 100 TB — grid-bounded,
    * corpus-independent), and dyadic interpolation over integers is
    * bit-exact in both engines (the q81 idiom). Parity: ln of the
    * identical c/total double may differ by an ulp across libms, but
    * a finite nonzero sum of logs of rationals is never within 1e-9
    * of a rounding boundary (the only exact case, all-ln(1) = 0, is
    * exact in both), so the slack floor absorbs it. */
  def lmQuality(s: SparkSession, d: String): DataFrame =
    lmQualityOn(documents(s, d)).orderBy(col("doc_id"))

  /** q88 over a caller-supplied (doc_id, text) corpus. Documents with
    * fewer than 2 tokens have no bigrams and are excluded (both
    * engines, same as q82's no-gram exclusion). */
  def lmQualityOn(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), explode(expr(ngramExpr("toks", 2))).as("g"))
      .select(col("doc_id"),
        split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .localCheckpoint() // kept: 2 readers, no shuffle under them
    val hq = docQualityOn(docs).filter(col("keep")).select(col("doc_id"))
    val lmc = bg.join(hq, Seq("doc_id"), "left_semi")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val tot = lmc.groupBy(col("w1")).agg(sum(col("c")).as("total"))
    val lm = lmc.join(tot, "w1")
      .select(col("w1"), col("w2"),
        log(col("c").cast("double") / col("total")).as("logp"))
    val sc = bg.join(lm, Seq("w1", "w2"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("logp").isNull, 1L).otherwise(0L)).as("n_oov"),
        floor(avg(col("logp")) * 1e6 + 0.5 + 1e-9).as("lp_u6"))
    val p = sc.agg(expr("percentile(lp_u6, 0.25D)").as("p25"))
    sc.crossJoin(broadcast(p)) // 1-row boundary frame
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        (floor(col("n_oov").cast("double") / col("n_bigrams") * 1e4
          + 0.5) / 1e4).as("oov_rate"),
        (col("lp_u6") / 1e6).as("avg_logp"),
        // all-OOV docs have no finite avg_logp — worst quality, flag
        coalesce(col("lp_u6") < col("p25"), lit(true)).as("low_q"))
  }

  val lmQualitySql: String =
    s"""WITH t AS (SELECT doc_id, $toksSqlExpr AS toks FROM documents),
       |bg AS (SELECT doc_id, string_split(g, ' ')[1] AS w1,
       |         string_split(g, ' ')[2] AS w2
       |       FROM (SELECT doc_id, unnest(${ngramSqlExpr("toks", 2)}) AS g
       |             FROM t)),
       |hq AS (SELECT doc_id FROM ($docQualitySql) WHERE keep),
       |lmc AS (SELECT w1, w2, count(*) AS c
       |        FROM bg JOIN hq USING (doc_id) GROUP BY 1, 2),
       |tot AS (SELECT w1, CAST(sum(c) AS BIGINT) AS total
       |        FROM lmc GROUP BY 1),
       |lm AS (SELECT w1, w2, ln(CAST(c AS DOUBLE) / total) AS logp
       |       FROM lmc JOIN tot USING (w1)),
       |sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
       |         CAST(sum(CASE WHEN lm.logp IS NULL THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_oov,
       |         floor(avg(lm.logp) * 1e6 + 0.5 + 1e-9) AS lp_u6
       |       FROM bg LEFT JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2
       |       GROUP BY 1),
       |p AS (SELECT quantile_cont(lp_u6, 0.25) AS p25 FROM sc)
       |SELECT doc_id, n_bigrams, n_oov,
       |  floor(CAST(n_oov AS DOUBLE) / n_bigrams * 1e4 + 0.5) / 1e4
       |    AS oov_rate,
       |  lp_u6 / 1e6 AS avg_logp,
       |  coalesce(lp_u6 < (SELECT p25 FROM p), true) AS low_q
       |FROM sc ORDER BY doc_id""".stripMargin

  /** Chunk window (tokens) and stride for q95. Stride < window ⇒
    * adjacent chunks overlap by `ChunkWin - ChunkStride` tokens (the
    * standard RAG/pretraining packing shape, vs q67's non-overlapping
    * token-budget shards). */
  val ChunkWin = 50
  val ChunkStride = 40

  /** q95: overlapping token-window document chunking — the
    * context-window prep step (RAG indexing / fixed-length pretraining
    * examples with overlap). Chunk starts are 1, 1+S, 1+2S, … ≤ n;
    * the last chunk is allowed to run short (slice clips at n). One
    * row per chunk: ordinal, start, length, and an h60 content hash
    * instead of the chunk text, so the output (and the driver compare)
    * stays row-per-chunk but bytes-per-row constant.
    *
    * Scale: pure map-side fan-out — tokenize, generate starts, slice;
    * no shuffle at all until the driver's display sort. A 100 TB
    * corpus chunks embarrassingly parallel; the ~W/S duplication
    * factor is the caller's storage choice, not a join blow-up. */
  def docChunks(s: SparkSession, d: String): DataFrame =
    docChunksOn(documents(s, d)).orderBy(col("doc_id"), col("chunk_idx"))

  /** q95 over a caller-supplied (doc_id, text) corpus. */
  def docChunksOn(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(toksExpr).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, n, $ChunkStride)")).as("st"))
      .select(col("doc_id"),
        expr(s"CAST((st - 1) DIV $ChunkStride AS BIGINT)").as("chunk_idx"),
        col("st").cast("long").as("start_tok"),
        expr(s"size(slice(toks, st, $ChunkWin))").cast("long").as("n_toks"),
        expr(graft.functions.Hashing.h60SparkSql(
          s"concat_ws(' ', slice(toks, st, $ChunkWin))")).as("chunk_hash"))

  val docChunksSql: String = {
    val (w, s) = (ChunkWin, ChunkStride)
    val slice = s"list_slice(toks, st, st + ${w - 1})"
    s"""WITH t AS (SELECT doc_id, $toksSqlExpr AS toks FROM documents),
       |c AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $s)) AS st
       |      FROM t WHERE len(toks) > 0)
       |SELECT doc_id, CAST((st - 1) // $s AS BIGINT) AS chunk_idx,
       |  CAST(st AS BIGINT) AS start_tok,
       |  CAST(len($slice) AS BIGINT) AS n_toks,
       |  ${graft.functions.Hashing.h60Sql(s"array_to_string($slice, ' ')")}
       |    AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Redaction pattern (ID-like digit runs) and replacement tag for
    * q99. The pattern stays inside the regex subset RE2 (DuckDB) and
    * java.util.regex (Spark) agree on — char classes, bounded repeats;
    * no lookaround, no backrefs. */
  val RedactPat = "[0-9]{3,}"
  val RedactTag = "<ID>"

  /** PII/ID scrubbing: replace every match of `pat` in `textCol` with
    * `tag`, annotating each row with match and removed-char counts —
    * the pre-training compliance pass (strip emails / phone numbers /
    * account ids before the corpus ships). Pure map-side: three
    * codegen'd regex expressions per row, no shuffle. */
  def redactOn(df: DataFrame, textCol: String, pat: String,
      tag: String): DataFrame =
    df.withColumn("red", regexp_replace(col(textCol), pat, tag))
      .withColumn("n_matches",
        expr(s"regexp_count($textCol, '$pat')").cast("long"))
      .withColumn("chars_removed",
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), pat, ""))).cast("long"))

  /** q99: redaction census over customer names (the one testdata
    * column carrying ID-like digit runs) — per segment: rows touched,
    * total matches, characters removed, and an order-independent XOR
    * checksum of the REDACTED strings, so the oracle verifies the
    * actual post-redaction bytes, not just the counts. */
  def redactIds(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Hashing
    redactOn(customer(s, d), "c_name", RedactPat, RedactTag)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("n_matches") > 0, 1L).otherwise(0L)).as("n_redacted"),
        sum(col("n_matches")).as("total_matches"),
        sum(col("chars_removed")).as("chars_removed"),
        expr(s"bit_xor(${Hashing.h60SparkSql("red")})").as("red_checksum"))
      .orderBy(col("c_mktsegment"))
  }

  val redactIdsSql: String = {
    import graft.functions.Hashing
    s"""WITH r AS (
       |  SELECT c_mktsegment,
       |    regexp_replace(c_name, '$RedactPat', '$RedactTag', 'g') AS red,
       |    len(regexp_extract_all(c_name, '$RedactPat')) AS n_matches,
       |    length(c_name) -
       |      length(regexp_replace(c_name, '$RedactPat', '', 'g'))
       |      AS chars_removed
       |  FROM customer)
       |SELECT c_mktsegment, count(*) AS n_rows,
       |  CAST(sum(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_redacted,
       |  CAST(sum(n_matches) AS BIGINT) AS total_matches,
       |  CAST(sum(chars_removed) AS BIGINT) AS chars_removed,
       |  bit_xor(${Hashing.h60Sql("red")}) AS red_checksum
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q117
  /** Minimum pair count for a q117 collocation candidate. */
  val CollocMinCount = 5L
  /** Collocations reported (top by lift, deterministic ties). */
  val CollocTopK = 20

  /** q117: collocation mining by LIFT — bigrams occurring far more
    * often than their marginals predict:
    * lift = c(w1,w2)·N / (c(w1,·)·c(·,w2)), the log-free cousin of PMI
    * (same ranking, and — unlike log — built only from IEEE mul/div of
    * exact integers, so both engines agree bit-for-bit). Candidates
    * need [[CollocMinCount]] occurrences; top-[[CollocTopK]] by
    * (lift desc, w1, w2) via TakeOrdered.
    *
    * Scale: bigram counts map-side combine to vocab²-bounded state;
    * the two marginal tables are vocab-sized and BROADCAST back onto
    * the pair table; N is one scalar. Nothing after the first
    * aggregate touches corpus-sized data. */
  def collocations(s: SparkSession, d: String): DataFrame =
    collocationsOn(graft.Tables.documents(s, d))

  /** q117 over a caller-supplied (doc_id, text) corpus. */
  def collocationsOn(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(expr(toksExpr).as("toks"))
      .select(explode(expr(ngramExpr("toks", 2))).as("g"))
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint() // kept: 4 readers; 2 more stages without it
    val c1 = pairs.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val c2 = pairs.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val n = pairs.agg(sum(col("c12")).as("n_bigrams"))
    pairs.filter(col("c12") >= CollocMinCount)
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(c2), Seq("w2"))
      .crossJoin(broadcast(n)) // 1-row scalar frame
      .select(col("w1"), col("w2"), col("c12"),
        (floor(col("c12").cast("double") * col("n_bigrams").cast("double")
          / (col("c1").cast("double") * col("c2").cast("double"))
          * 1e4 + 0.5) / 1e4).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(CollocTopK)
  }

  val collocationsSql: String =
    s"""WITH p AS (
       |  SELECT string_split(g, ' ')[1] AS w1,
       |    string_split(g, ' ')[2] AS w2, count(*) AS c12
       |  FROM (SELECT unnest(${ngramSqlExpr("toks", 2)}) AS g
       |        FROM (SELECT ${toksSqlExpr} AS toks FROM documents))
       |  GROUP BY 1, 2),
       |m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
       |       FROM p GROUP BY 1),
       |m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2
       |       FROM p GROUP BY 1),
       |n AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bigrams FROM p)
       |SELECT p.w1, p.w2, p.c12,
       |  floor(CAST(p.c12 AS DOUBLE) * CAST(n.n_bigrams AS DOUBLE)
       |    / (CAST(m1.c1 AS DOUBLE) * CAST(m2.c2 AS DOUBLE))
       |    * 1e4 + 0.5) / 1e4 AS lift
       |FROM p JOIN m1 ON m1.w1 = p.w1
       |       JOIN m2 ON m2.w2 = p.w2
       |       CROSS JOIN n
       |WHERE p.c12 >= $CollocMinCount
       |ORDER BY lift DESC, p.w1, p.w2 LIMIT $CollocTopK""".stripMargin

  // --------------------------------------------------------------- q120
  /** Characteristic terms kept per source in q120. */
  val SourceTermsTopK = 3

  /** q120: characteristic terms per source — the top-[[SourceTermsTopK]]
    * tokens by DISTINCTIVENESS, the ratio of a token's share within
    * the source to its share in the whole corpus
    * (obs·N / (n_source·tot) — the source-level cousin of q117's lift,
    * and the table q114's single top-drift token summarizes). Built
    * from exact integer moments through identically-written IEEE
    * mul/div, integerized to a ×10⁶ ranking key, and cut per source by
    * the O(k)-state [[graft.functions.BoundedTopByCount]] aggregator —
    * no window ever sorts a source's full vocabulary in one task
    * (vocab is bounded here, but the plan shape is the one that
    * survives an unbounded vocabulary). */
  def sourceTerms(s: SparkSession, d: String): DataFrame =
    sourceTermsOn(graft.Tables.documents(s, d))
      .orderBy(col("source"), col("score_1e6").desc, col("token"))

  /** q120 over a caller-supplied (source, text) corpus. */
  def sourceTermsOn(docs: DataFrame): DataFrame = {
    val topk = udaf(new graft.functions.BoundedTopByCount(SourceTermsTopK))
    val obs = docs
      .select(col("source"), explode(expr(toksExpr)).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("obs"))
      .localCheckpoint() // kept: 3 readers; 6% slower at sf0.1 without it
    val bySource = obs.groupBy(col("source"))
      .agg(sum(col("obs")).as("n_source"))
    val byToken = obs.groupBy(col("token"))
      .agg(sum(col("obs")).as("tot"))
    val totals = bySource.agg(sum(col("n_source")).as("n_total"))
    obs
      .join(broadcast(bySource), Seq("source"))
      .join(broadcast(byToken), Seq("token"))
      .crossJoin(broadcast(totals)) // 1-row scalar frame
      .select(col("source"), col("token"), col("obs"),
        floor(col("obs").cast("double") * col("n_total").cast("double")
          / (col("n_source").cast("double") * col("tot").cast("double"))
          * 1e6 + 0.5).cast("long").as("score_1e6"))
      .groupBy(col("source"))
      .agg(topk(col("score_1e6"), col("token")).as("tops"))
      .select(col("source"), explode(col("tops")).as("t"))
      .select(col("source"), col("t._2").as("token"),
        col("t._1").as("score_1e6"))
  }

  val sourceTermsSql: String =
    s"""WITH obs AS (
       |  SELECT source, token, count(*) AS obs FROM (
       |    SELECT source, unnest(${toksSqlExpr}) AS token
       |    FROM documents)
       |  GROUP BY 1, 2),
       |bys AS (SELECT source, CAST(sum(obs) AS BIGINT) AS n_source
       |        FROM obs GROUP BY 1),
       |byt AS (SELECT token, CAST(sum(obs) AS BIGINT) AS tot
       |        FROM obs GROUP BY 1),
       |n AS (SELECT CAST(sum(n_source) AS BIGINT) AS n_total FROM bys),
       |scored AS (
       |  SELECT o.source, o.token,
       |    CAST(floor(CAST(o.obs AS DOUBLE) * CAST(n.n_total AS DOUBLE)
       |      / (CAST(s.n_source AS DOUBLE) * CAST(t.tot AS DOUBLE))
       |      * 1e6 + 0.5) AS BIGINT) AS score_1e6,
       |    row_number() OVER (PARTITION BY o.source
       |      ORDER BY floor(CAST(o.obs AS DOUBLE)
       |        * CAST(n.n_total AS DOUBLE)
       |        / (CAST(s.n_source AS DOUBLE) * CAST(t.tot AS DOUBLE))
       |        * 1e6 + 0.5) DESC, o.token) AS rn
       |  FROM obs o JOIN bys s ON s.source = o.source
       |             JOIN byt t ON t.token = o.token
       |             CROSS JOIN n)
       |SELECT source, token, score_1e6
       |FROM scored WHERE rn <= $SourceTermsTopK
       |ORDER BY source, score_1e6 DESC, token""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q120_source_terms" -> (sourceTerms _),
    "q117_collocations" -> (collocations _),
    "q99_redact_ids" -> (redactIds _),
    "q95_doc_chunks" -> (docChunks _),
    "q88_lm_quality" -> (lmQuality _),
    "q71_bigram_lm" -> (bigramLm _),
    "q72_inverted_index" -> (invertedIndex _),
    "q82_novelty" -> (novelty _),
    "q59_curation" -> (curation _),
    "q57_tfidf" -> (tfidfTopTerms _),
    "q55_repetition" -> (repetitionSignals _),
    "q17_token_stats" -> (tokenStats _),
    "q18_doc_quality" -> (docQuality _),
    "q19_lang_id" -> (langId _),
    "q20_fingerprint" -> (fingerprint _),
    "q21_exact_dedup" -> (exactDedup _))

  val oracle: Map[String, String] = Map(
    "q120_source_terms" -> sourceTermsSql,
    "q117_collocations" -> collocationsSql,
    "q99_redact_ids" -> redactIdsSql,
    "q95_doc_chunks" -> docChunksSql,
    "q88_lm_quality" -> lmQualitySql,
    "q71_bigram_lm" -> bigramLmSql,
    "q72_inverted_index" -> invertedIndexSql,
    "q82_novelty" -> noveltySql,
    "q59_curation" -> curationSql,
    "q57_tfidf" -> tfidfTopTermsSql,
    "q55_repetition" -> repetitionSignalsSql,
    "q17_token_stats" -> tokenStatsSql,
    "q18_doc_quality" -> docQualitySql,
    "q19_lang_id" -> langIdSql,
    "q20_fingerprint" -> fingerprintSql,
    "q21_exact_dedup" -> exactDedupSql)
}
