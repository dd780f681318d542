package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.GraftQuery

/** Text analysis for large-scale training-data pipelines over the
  * `documents` table (builder contract "Text analysis"): token
  * counting, quality scoring, language-ID by stopword evidence, and
  * winnowing-style document fingerprinting. Everything is exploded
  * relational dataflow (tokens/shingles as rows) + hash aggregation —
  * no UDFs, no driver materialization, linear in corpus size.
  */
object TextQueries {

  /** The Spark side's one whitespace tokenizer: `c` trimmed, then split
    * on runs of the six ASCII whitespace characters — the split the
    * DuckDB twins spell as `string_split_regex(trim(text), ...)`.
    */
  def words(c: Column): Column = split(trim(c), "[ \\t\\n\\x0B\\f\\r]+")

  /** Word tokens, whitespace-split after trim (empty-safe). */
  private def tokens(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"doc_id", explode(words($"text")).as("tok"))
  }

  /** q12a — token counting: per-doc token totals, distinct counts,
    * type-token ratio, average token length.
    */
  val q12aTokenStats: GraftQuery = GraftQuery(
    "q12a_token_stats",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
      |  FROM documents)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |       COUNT(DISTINCT tok) AS n_distinct,
      |       CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS type_token_ratio,
      |       CAST(SUM(length(tok)) AS DOUBLE) / COUNT(*) AS avg_token_len
      |FROM toks GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    tokens(Tables(spark, dir).documents)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct($"tok").as("n_distinct"),
        (countDistinct($"tok").cast("double") / count(lit(1)))
          .as("type_token_ratio"),
        (sum(length($"tok")).cast("double") / count(lit(1)))
          .as("avg_token_len"))
  }

  /** BPE-ish pre-tokenizer regex (GPT-2-style, portable subset):
    * contraction suffixes, optional-leading-space letter runs, digit
    * runs, punctuation runs, then whitespace runs. Both engines use
    * leftmost-first alternation (Java regex, DuckDB's RE2 non-POSIX
    * mode), so the match streams are identical.
    */
  private[graft] val bpePattern =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^ \\t\\n\\x0B\\f\\ra-zA-Z0-9]+|[ \\t\\n\\x0B\\f\\r]+"

  /** q12e — BPE-ish token counting (builder contract: "token counting
    * (whitespace + a BPE-ish regex)"; q12a is the whitespace half).
    * Whitespace runs count as tokens here (as a byte-level BPE would
    * carry them), so `bpe_per_word` > 1 measures subword+space
    * expansion over the whitespace segmentation.
    */
  val q12eBpeTokens: GraftQuery = GraftQuery(
    "q12e_bpe_tokens",
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(regexp_extract_all(text,
       |           '${bpePattern.replace("'", "''")}'))
       |           AS tok
       |  FROM documents),
       |ws AS (
       |  SELECT doc_id, COUNT(*) AS n_words
       |  FROM (SELECT doc_id,
       |          unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w
       |        FROM documents) GROUP BY 1),
       |bpe AS (
       |  SELECT doc_id, COUNT(*) AS n_bpe,
       |         COUNT(DISTINCT tok) AS n_distinct_bpe,
       |         CAST(SUM(length(tok)) AS DOUBLE) / COUNT(*) AS avg_bpe_len
       |  FROM toks GROUP BY 1)
       |SELECT bpe.doc_id, n_bpe, n_distinct_bpe, avg_bpe_len,
       |       CAST(n_bpe AS DOUBLE) / n_words AS bpe_per_word
       |FROM bpe JOIN ws ON bpe.doc_id = ws.doc_id""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val toks = docs.select($"doc_id",
        explode(regexp_extract_all($"text", lit(bpePattern), lit(0)))
          .as("tok"))
      val bpe = toks.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bpe"),
          countDistinct($"tok").as("n_distinct_bpe"),
          (sum(length($"tok")).cast("double") / count(lit(1)))
            .as("avg_bpe_len"))
      val ws = tokens(docs).groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"))
        .withColumnRenamed("doc_id", "wdoc")
      bpe.join(ws, $"doc_id" === $"wdoc")
        .select($"doc_id", $"n_bpe", $"n_distinct_bpe", $"avg_bpe_len",
          ($"n_bpe".cast("double") / $"n_words").as("bpe_per_word"))
  }

  /** Per-language keep rates for q12f, in 256ths (so the threshold
    * compares against an exact byte value — no float roundoff between
    * engines). Demo mixture: downsample the over-represented sources.
    */
  private val rebalanceRates: Seq[(String, Int)] =
    Seq("en" -> 128, "es" -> 192, "de" -> 192, "fr" -> 256, "zh" -> 96)

  /** q12f — deterministic corpus rebalancing: keep a doc iff the
    * first byte of md5(doc_id || '|rebalance') falls under its
    * language's threshold. Training pipelines re-mix sources at
    * weights; doing it with a content-independent hash (not `rand()`
    * or `sample`) makes the subset reproducible across runs, engines,
    * partitionings and cluster sizes — the property an auditable data
    * recipe needs. Map-side only: no shuffle, no state, linear scan.
    */
  /** Keep-filter of the rebalance rule over any (doc_id, lang) frame —
    * reused by q12f and the q12k curation pipeline. Map-side only.
    */
  def rebalanceKeep(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val byte0 = conv(
      substr(md5(concat($"doc_id".cast("string"), lit("|rebalance"))),
        lit(1), lit(2)), 16, 10).cast("int")
    val threshold = rebalanceRates
      .foldLeft(when(lit(false), 0)) { case (c, (l, r)) =>
        c.when($"lang" === l, r)
      }.otherwise(0)
    df.filter(byte0 < threshold)
  }

  /** SQL predicate twin of [[rebalanceKeep]] (over doc_id, lang). */
  val rebalanceCondSql: String = {
    val caseSql = rebalanceRates
      .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""((strpos('0123456789abcdef',
       |    substr(md5(CAST(doc_id AS VARCHAR) || '|rebalance'), 1, 1)) - 1) * 16
       |  + (strpos('0123456789abcdef',
       |    substr(md5(CAST(doc_id AS VARCHAR) || '|rebalance'), 2, 1)) - 1))
       |  < CASE lang $caseSql ELSE 0 END""".stripMargin
  }

  val q12fCorpusRebalance: GraftQuery = GraftQuery(
    "q12f_corpus_rebalance",
    s"""SELECT doc_id, lang FROM documents
       |WHERE $rebalanceCondSql""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    rebalanceKeep(Tables(spark, dir).documents)
      .select($"doc_id", $"lang")
  }

  /** English-ish stopwords present in the corpus vocabulary. */
  private[text] val stopEn = Seq("the", "a", "and", "of", "to", "is")

  /** Quality transform over any (doc_id, text, n_chars) frame — q12b's
    * body. One token explode + hash agg + doc join. q12k does not call
    * it: its quality gate is fused over one staged token array, and
    * this function is the unfused reference CurationSpec compares
    * that gate against.
    */
  def qualityScores(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val f = tokens(docs).groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"tok".isin(stopEn: _*), 1).otherwise(0)).as("n_stop"),
        sum(when(length($"tok") <= 2, 1).otherwise(0)).as("n_short"),
        sum(when($"tok".rlike("^[0-9]+$"), 1).otherwise(0)).as("n_digit"))
    val lenScore   = least(docs("n_chars").cast("double") / 200.0, lit(1.0))
    val shortRatio = $"n_short".cast("double") / $"n_tokens"
    val digitRatio = $"n_digit".cast("double") / $"n_tokens"
    docs.join(f, "doc_id")
      .select($"doc_id",
        lenScore.as("len_score"),
        ($"n_stop".cast("double") / $"n_tokens").as("stop_ratio"),
        shortRatio.as("short_ratio"),
        digitRatio.as("digit_ratio"),
        (lenScore * 0.5 + (lit(1.0) - shortRatio) * 0.3
          + (lit(1.0) - digitRatio) * 0.2).as("quality"))
  }

  /** SQL twin of [[qualityScores]] over source relation `src`
    * (must expose doc_id, text, n_chars).
    */
  def qualitySql(src: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
       |  FROM $src),
       |f AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |         SUM(CASE WHEN tok IN (${stopEn.map("'" + _ + "'").mkString(",")})
       |             THEN 1 ELSE 0 END) AS n_stop,
       |         SUM(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS n_short,
       |         SUM(CASE WHEN tok SIMILAR TO '[0-9]+' THEN 1 ELSE 0 END) AS n_digit
       |  FROM toks GROUP BY 1)
       |SELECT d.doc_id,
       |       least(CAST(d.n_chars AS DOUBLE) / 200.0, 1.0) AS len_score,
       |       CAST(f.n_stop AS DOUBLE) / f.n_tokens AS stop_ratio,
       |       CAST(f.n_short AS DOUBLE) / f.n_tokens AS short_ratio,
       |       CAST(f.n_digit AS DOUBLE) / f.n_tokens AS digit_ratio,
       |       0.5 * least(CAST(d.n_chars AS DOUBLE) / 200.0, 1.0)
       |         + 0.3 * (1.0 - CAST(f.n_short AS DOUBLE) / f.n_tokens)
       |         + 0.2 * (1.0 - CAST(f.n_digit AS DOUBLE) / f.n_tokens)
       |         AS quality
       |FROM $src d JOIN f ON d.doc_id = f.doc_id""".stripMargin

  /** q12b — quality scoring: length score, stopword ratio, digit
    * ratio, short-token ratio → composite quality (ref-style
    * heuristics: length/punct/stopword ratios).
    */
  val q12bQualityScore: GraftQuery = GraftQuery(
    "q12b_quality_score", qualitySql("documents")) { (spark, dir) =>
    qualityScores(Tables(spark, dir).documents)
  }

  /** Stopword-evidence table: (lang, word). The synthetic corpus
    * shares one vocabulary across langs, so this demonstrates the
    * operator (argmax of per-language evidence with deterministic
    * tiebreak), not a high-accuracy classifier.
    */
  private val stopLists: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "and", "en" -> "of",
    "es" -> "el", "es" -> "la", "es" -> "que",
    "de" -> "der", "de" -> "und", "de" -> "das",
    "fr" -> "le", "fr" -> "et", "fr" -> "les",
    "zh" -> "de", "zh" -> "le")

  /** q12c — language-ID: per-language stopword hit counts → argmax
    * (hits desc, lang asc), 'unknown' when no evidence; compared
    * against the labeled lang.
    */
  val q12cLangId: GraftQuery = GraftQuery(
    "q12c_langid",
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
       |  FROM documents),
       |stop(slang, word) AS (VALUES ${stopLists
          .map { case (l, w) => s"('$l','$w')" }.mkString(",")}),
       |hits AS (
       |  SELECT doc_id, slang, COUNT(*) AS n_hits
       |  FROM toks JOIN stop ON tok = word GROUP BY 1, 2),
       |best AS (
       |  SELECT doc_id, slang, n_hits,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY n_hits DESC, slang) AS rn
       |  FROM hits)
       |SELECT d.doc_id, d.lang AS actual_lang,
       |       coalesce(b.slang, 'unknown') AS predicted_lang,
       |       CAST(coalesce(b.n_hits, 0) AS BIGINT) AS evidence,
       |       coalesce(b.slang, 'unknown') = d.lang AS correct
       |FROM documents d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val stop = stopLists.toDF("slang", "word")
      val hits = tokens(docs)
        .join(broadcast(stop), $"tok" === $"word")
        .groupBy($"doc_id", $"slang")
        .agg(count(lit(1)).as("n_hits"))
      val best = hits
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"n_hits".desc, $"slang")))
        .filter($"rn" === 1)
        .select($"doc_id".as("bdoc"), $"slang", $"n_hits")
      docs.join(best, $"doc_id" === $"bdoc", "left")
        .select($"doc_id", $"lang".as("actual_lang"),
          coalesce($"slang", lit("unknown")).as("predicted_lang"),
          coalesce($"n_hits", lit(0L)).as("evidence"),
          (coalesce($"slang", lit("unknown")) === $"lang").as("correct"))
  }

  /** Word 3-gram shingles, shared by fingerprinting and the dedup
    * family. Exposed for reuse. NOT deduplicated: a repeated shingle
    * within a doc emits one row per occurrence. All consumers are
    * duplicate-insensitive — min-aggregation (q12d) and the bounded
    * collect-SET in [[DedupQueries.cappedPostings]], which dedupes
    * inside O(cap) agg buffers — so the former corpus-wide
    * `.distinct()` shuffle of the full shingle mass is dropped.
    */
  def shingles(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    // Native codegen n-gram expression (one loop per row, no
    // interpreted lambda); < 3 tokens yields an empty array → no rows
    // after explode. The HOF twin lives in shinglesHof for the
    // parity spec.
    docs
      .select($"doc_id", words($"text").as("toks"))
      .select($"doc_id", explode(GraftColumnBridge.column(
        graft.functions.WordNGrams(
          GraftColumnBridge.expression($"toks"), 3))).as("sh"))
  }

  /** HOF twin of [[shingles]] — kept as the independent parity
    * witness (TextDedupSpec asserts identical output).
    */
  def shinglesHof(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // Docs shorter than one shingle (< 3 tokens) yield no shingles.
    // The guard matters: sequence(1, 0) counts DOWN ([1, 0]) because
    // the step defaults to -1 when start > stop, and element_at(_, 0)
    // throws — so short docs must never reach the generator.
    docs
      .select($"doc_id", words($"text").as("toks"))
      .select($"doc_id", explode(expr(
        """CASE WHEN size(toks) >= 3 THEN
          |  transform(sequence(1, size(toks) - 2),
          |    i -> concat_ws(' ', element_at(toks, i),
          |                   element_at(toks, i + 1),
          |                   element_at(toks, i + 2)))
          |ELSE CAST(array() AS array<string>) END""".stripMargin)).as("sh"))
  }

  val shinglesSql: String =
    """SELECT DISTINCT doc_id,
      |       unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws
      |      FROM documents)""".stripMargin

  /** q12d — document fingerprinting: winnowing-style min-hash over
    * shingles (lexicographic min of md5) + whole-text hash; docs
    * shorter than one shingle fall back to the text hash.
    */
  val q12dFingerprint: GraftQuery = GraftQuery(
    "q12d_fingerprint",
    s"""WITH sh AS ($shinglesSql),
       |fp AS (SELECT doc_id, min(md5(sh)) AS winnow_fp FROM sh GROUP BY 1)
       |SELECT d.doc_id, md5(d.text) AS text_hash,
       |       coalesce(fp.winnow_fp, md5(d.text)) AS winnow_fp
       |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      val fp = shingles(spark, docs)
        .groupBy($"doc_id").agg(min(md5($"sh")).as("winnow_fp"))
        .withColumnRenamed("doc_id", "fdoc")
      docs.join(fp, $"doc_id" === $"fdoc", "left")
        .select($"doc_id", md5($"text").as("text_hash"),
          coalesce($"winnow_fp", md5($"text")).as("winnow_fp"))
  }

  /** q12u — Unicode NFC normalization over the corpus, the curation
    * step that must precede ANY byte-level dedup/fingerprint: the
    * same logical text arrives composed (é = U+00E9) and decomposed
    * (e + U+0301) and hashes differently until normalized. The
    * synthetic corpus is ASCII (the fast path), so decomposed
    * sequences are PLANTED deterministically (doc_id%5 → e+combining
    * acute, doc_id%7 → A+combining ring) and the gate proves the
    * [[graft.functions.NormalizeText]] codegen expression recomposes
    * them exactly as DuckDB's independent `nfc_normalize`:
    * changed-flag, codepoint counts before/after, and the md5 of the
    * normalized text all hash-match. Map-only at any scale.
    */
  val q12uNfcNormalize: GraftQuery = GraftQuery(
    "q12u_nfc_normalize",
    """WITH planted AS (
      |  SELECT doc_id,
      |         text || CASE WHEN doc_id % 5 = 0 THEN ' cafe' || chr(769)
      |                      WHEN doc_id % 7 = 0 THEN ' A' || chr(778)
      |                      ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |       t <> nfc_normalize(t) AS changed,
      |       CAST(length(t) AS BIGINT) AS n_before,
      |       CAST(length(nfc_normalize(t)) AS BIGINT) AS n_after,
      |       md5(nfc_normalize(t)) AS norm_md5
      |FROM planted""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.NormalizeText.nfc
    // DECOMPOSED plant strings (e + U+0301, A + U+030A) — spelled as
    // escapes so no editor/encoding pass can silently recompose them
    val planted = Tables(spark, dir).documents
      .select($"doc_id",
        concat($"text",
          when($"doc_id" % 5 === 0, lit(" cafe\u0301"))
            .when($"doc_id" % 7 === 0, lit(" A\u030A"))
            .otherwise(lit(""))).as("t"))
    planted.select($"doc_id",
      ($"t" =!= nfc($"t")).as("changed"),
      length($"t").cast("long").as("n_before"),
      length(nfc($"t")).cast("long").as("n_after"),
      md5(nfc($"t")).as("norm_md5"))
  }

  val all: Seq[GraftQuery] =
    Seq(q12aTokenStats, q12bQualityScore, q12cLangId, q12dFingerprint,
      q12eBpeTokens, q12fCorpusRebalance, q12uNfcNormalize)
}
