package graft.text

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.GraftQuery
import graft.Staging.Stageable

/** TF-IDF keyword extraction — the classic text-analysis operator the
  * LLM-pipeline family was still missing: per-document salient terms,
  * the building block for topic tagging, near-dup explanation, and
  * quality filtering by topical coherence.
  *
  * Scale shape (one scan, two key shuffles, no driver loops):
  *   1. tokenize + explode — map-side, same whitespace tokenizer as
  *      q12j so the DuckDB twin stays `string_split_regex`;
  *   2. (doc, term) term frequencies — ONE shuffle on the pair;
  *   3. document frequencies — shuffle of the (doc, term) grain on
  *      term (already distinct per doc, so df = COUNT(*)); at 100 TB
  *      the vocabulary is millions of terms — a proper shuffle join
  *      back onto the tf grain, NOT a broadcast (AQE may still choose
  *      one at small SF);
  *   4. corpus size N — single-row aggregate, cross-joined as a
  *      broadcast scalar (q1b's pattern);
  *   5. top-k per document — a window partitioned by doc_id, which is
  *      safe at any scale: a partition holds one document's distinct
  *      terms, bounded by document length, never by corpus size.
  *
  * Ranking is PURE-INTEGER — (tf DESC, df ASC, term ASC) — rather
  * than by the floating tfidf score: mathematically tied scores from
  * different (tf, df) pairs exist (2·ln(N/4) = ln(N²/16) = 1·ln(N) at
  * N = 16), and cross-engine libm ulp differences would order such
  * ties arbitrarily. The integer key is a monotone proxy within a
  * document (higher tf, then rarer term wins) and makes the cut
  * deterministic on both engines; the double score is emitted as a
  * rounded VALUE column only.
  */
object TfIdfQueries {

  val q12oTfidfTopk: GraftQuery = GraftQuery(
    "q12o_tfidf_topk",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (
      |  SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf
      |  FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, term, tf, df, cf,
      |       ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      |FROM (SELECT t.doc_id, t.term, t.tf, d.df, d.cf, n.n_docs,
      |             ROW_NUMBER() OVER (PARTITION BY t.doc_id
      |               ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS rn
      |      FROM tf t JOIN df d USING (term) CROSS JOIN n)
      |WHERE rn <= 5""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir).documents
    val tf = docs
      .select($"doc_id", explode(TextQueries.words($"text")).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    // df aggregates tf's COUNT as well as its rows (cf = collection
    // frequency, a useful stat in its own right) ON PURPOSE: with cf,
    // column pruning cannot reduce this branch to a distinct-only
    // aggregate, both consumers compute the IDENTICAL scan + explode +
    // partial-count + (doc_id, term) exchange, and ReuseExchange
    // tokenizes the corpus ONCE (MixtureTfIdfSpec pins the reuse) —
    // without cf the pruned df branch re-scans the full corpus.
    val df = tf.groupBy($"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("cf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"tf".desc, $"df".asc, $"term".asc)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"doc_id", $"term", $"tf", $"df", $"cf",
        round($"tf" * log($"n_docs".cast("double") / $"df"), 6)
          .as("tfidf"))
  }

  /** q12y — BM25 lexical retrieval (Okapi k1=1.2, b=0.75): every
    * 101st document plays the query role and retrieves its top-5
    * lexical neighbors from the rest of the corpus through the
    * inverted index — the retrieval half the ANN family (vector
    * search) was missing, and the standard first-stage ranker for
    * contamination hunting and quality retrieval over a training
    * corpus.
    *
    * Determinism: BM25 is float math by definition, so the score is
    * rebuilt as INTEGERS end to end. IDF = ln((N−df+½)/(df+½)+1) is
    * the ONLY transcendental — both engines evaluate the identical
    * double expression shape and quantize ⌊·1e6+½⌋ immediately (the
    * q26c device; a 1-ulp libm wobble moves a quantum only at exact
    * .5 boundaries, which the +1 inside the ln keeps irrational). The
    * tf normalization is rationalized: with avgdl = TL/N,
    * tf·(k1+1)/(tf+k1·(1−b+b·len/avgdl)) ≡ 22·tf·TL /
    * (10·TL·tf + 3·TL + 9·len·N) — integer numerator and denominator,
    * one integer division per (query, doc, term), order-free BIGINT
    * sum. Headroom: the numerator idf_q6·22·tf·TL reaches ~10¹⁹ at
    * TL ≈ 10⁷ and ~10²⁷ at a 100 TB corpus (TL ≈ 10¹³), and the
    * denominator's 10·TL·tf term clears Long at TL·tf ≳ 10¹⁸ — so the
    * division is ADAPTIVE per row: an exact integer guard (every
    * operand bounded so each product and the 3-term denominator sum
    * stay ≤ ⌊2⁶³/4⌋ — all-division arithmetic, itself overflow-free)
    * keeps small corpora on the codegen-fast BIGINT path, and rows
    * past the guard compute BOTH sides of the division in 128-bit
    * integers: Spark DECIMAL(38,0) with `div` (IntegralDivide — exact
    * divideToIntegralValue, LongType result; BigDecimal-backed, hence
    * guarded — the unconditional decimal form measured 2.6× slower),
    * DuckDB HUGEINT (`//`). The guard is the same integer expression
    * on both engines, so every row takes the same branch; both
    * branches truncate toward zero on positive operands, so the
    * quotients agree exactly. The per-term quotient is ≤ 2.2·idf_q6
    * ≤ ~10⁸ and the per-(query,doc) sum is bounded by query length,
    * so the summed score stays deep inside BIGINT. 128-bit ceiling:
    * idf_q6(≤4·10⁷)·22·tf·TL < 10³⁸ holds through tf·TL ≲ 10²⁹ —
    * 15 orders of magnitude past the 100 TB point (proven at
    * TL > 10⁷ with Long-overflowing products in TfIdfOverflowSpec).
    *
    * Scale shape: tokenize → (doc,term) tf [one shuffle] → df [one
    * shuffle at term grain]; query terms (tiny by the %101 rule)
    * broadcast onto the posting lists; stopword-grade terms
    * (df > 0.9·N — the +1 IDF variant never goes negative, so the
    * rule is purely a posting-list bound, the q13b hot-shingle cap
    * applied to retrieval; the synthetic corpus's 31-term vocabulary
    * sits mostly at df ≈ 0.5–0.8·N, so a textbook df > N/2 cut would
    * empty the audit) are dropped by an integer rule BEFORE the
    * probe; then
    * one (query,doc) hash-agg and a per-query top-5 window (partition
    * = one query's candidates, bounded by posting mass, never corpus
    * grain).
    */
  val q12yBm25Topk: GraftQuery = GraftQuery(
    "q12y_bm25_topk",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(len) AS BIGINT) AS tl
      |  FROM dl),
      |idf AS (
      |  SELECT d.term, d.df,
      |         CAST(floor(LN((CAST(2*s.n - 2*d.df + 1 AS DOUBLE)
      |                        / CAST(2*d.df + 1 AS DOUBLE)) + 1.0)*1e6 + 0.5)
      |              AS BIGINT) AS idf_q6
      |  FROM df d CROSS JOIN stats s
      |  WHERE 10*d.df <= 9*s.n),
      |qterms AS (
      |  SELECT DISTINCT doc_id AS query_id, term FROM tf
      |  WHERE doc_id % 101 = 0),
      |hits AS (
      |  SELECT q.query_id, t.doc_id, t.tf, q.term
      |  FROM qterms q
      |  JOIN tf t ON t.term = q.term AND t.doc_id <> q.query_id),
      |scored AS (
      |  SELECT h.query_id, h.doc_id,
      |         COUNT(*) AS n_terms_matched,
      |         CAST(SUM(CASE
      |           WHEN h.tf <= 2305843009213693951 // (i.idf_q6*22 + 1) // s.tl
      |            AND h.tf <= 2305843009213693951 // 10 // s.tl
      |            AND l.len <= 2305843009213693951 // 9 // s.n
      |            AND s.tl <= 2305843009213693951 // 3
      |           THEN (i.idf_q6 * 22 * h.tf * s.tl)
      |                // (10*s.tl*h.tf + 3*s.tl + 9*l.len*s.n)
      |           ELSE CAST((CAST(i.idf_q6 AS HUGEINT) * 22 * h.tf * s.tl)
      |                     // (CAST(10 AS HUGEINT)*s.tl*h.tf
      |                        + CAST(3 AS HUGEINT)*s.tl
      |                        + CAST(9 AS HUGEINT)*l.len*s.n) AS BIGINT)
      |         END) AS BIGINT) AS score_q6
      |  FROM hits h
      |  JOIN idf i ON i.term = h.term
      |  JOIN dl l ON l.doc_id = h.doc_id
      |  CROSS JOIN stats s
      |  GROUP BY 1, 2)
      |SELECT query_id, doc_id, n_terms_matched, score_q6,
      |       CAST(rn AS INTEGER) AS rank
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY score_q6 DESC, doc_id ASC) AS rn FROM scored)
      |WHERE rn <= 5""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    bm25Scored(spark, Tables(spark, dir).documents)
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"score_q6".desc, $"doc_id".asc)))
      .filter($"rank" <= 5)
      .select($"query_id", $"doc_id", $"n_terms_matched", $"score_q6",
        $"rank")
  }

  /** BM25 candidate scores (query_id, doc_id, n_terms_matched,
    * score_q6) BEFORE the per-query top-5 cut — one row per
    * (query, doc) pair sharing at least one surviving index term.
    * Factored out of q12y for [[graft.ScaleProbe]], which
    * measures this candidate mass directly at decade-up corpus scale;
    * q12y composes this frame unchanged, so the probe measures
    * exactly the probe-join mass the query pays.
    */
  private[graft] def bm25Scored(
      spark: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // (doc, term) grain staged ONCE (eager localCheckpoint, the q13j
    // device): five consumers hang off tf (dl, df, stats via dl,
    // qterms, the posting probe) and none of their pruned subtrees
    // align for ReuseExchange — unstaged, the optimizer re-tokenized
    // the whole corpus SIX times (6 Generate+scan branches in the r17
    // baseline plan, plans/r17/q12y_bm25_topk_before.txt). Staging the
    // tf grain (≪ corpus: distinct terms per doc) computes the
    // scan+explode+count exactly once; at 100 TB this is the standard
    // inverted-index materialization every retrieval system pays.
    val tf = docs
      .select($"doc_id", explode(TextQueries.words($"text")).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
      .staged
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("len"))
    val dfq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n"), sum($"len").as("tl"))
    val idf = dfq.crossJoin(broadcast(stats))
      .filter($"df" * 10 <= $"n" * 9)
      .select($"term",
        floor(log((($"n" * 2 - $"df" * 2 + 1).cast("double")
          / ($"df" * 2 + 1).cast("double")) + 1.0) * 1e6 + 0.5)
          .cast("long").as("idf_q6"))
    val qterms = tf.filter($"doc_id" % 101 === 0)
      .select($"doc_id".as("query_id"), $"term").distinct()
    // The per-term BM25 quotient depends ONLY on the posting row
    // (term, doc) — idf_q6(term), tf(doc,term), len(doc) and the two
    // corpus scalars — never on the query. Computing it at POSTING
    // grain instead of hit grain (r17 shape: hits ⋈ idf ⋈ dl, CASE
    // per hit row) moves the adaptive-precision division from
    // Σ_t df(t)·qf(t) evaluations to Σ_t df(t) — 4.44 M → 116 k rows
    // at sf0.1, and proportionally at 100 TB wherever queries share
    // vocabulary (guide §2.3: compute on the small grain, shuffle the
    // result). The idf inner join lands BEFORE the probe, so
    // stopword-grade postings (10·df > 9·N, dropped by the idf join
    // in BOTH shapes) now never enter the probe join at all — the
    // biggest posting lists leave first (guide §3.2's pre-filter, as
    // an exact join reorder rather than a Bloom approximation). The
    // per-(query,doc) score is the SAME multiset of BIGINT quotients
    // summed (order-free), and n_terms_matched the same count, so the
    // output is bit-identical.
    val posting = tf
      .join(idf, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select($"term", $"doc_id",
        expr(
          """CASE
            |  WHEN tf <= 2305843009213693951 div (idf_q6*22 + 1) div tl
            |   AND tf <= 2305843009213693951 div 10 div tl
            |   AND len <= 2305843009213693951 div 9 div n
            |   AND tl <= 2305843009213693951 div 3
            |  THEN (idf_q6 * 22 * tf * tl)
            |       div (10*tl*tf + 3*tl + 9*len*n)
            |  ELSE (cast(idf_q6 as decimal(38,0)) * 22 * tf * tl)
            |       div (cast(10 as decimal(38,0))*tl*tf
            |            + cast(3 as decimal(38,0))*tl
            |            + cast(9 as decimal(38,0))*len*n)
            |END""".stripMargin).as("contrib_q6"))
      // Hash-partition the posting grain by doc_id BEFORE the probe:
      // all of a doc's postings land in one partition, so every
      // (query, doc) group is partition-local and the big aggregation
      // below needs NO exchange (HashPartitioning(doc_id) satisfies
      // ClusteredDistribution(query_id, doc_id)) — the hit-grain mass
      // (qf(t)·df(t), 4.4 M rows at sf0.1, query-overlap-multiplied at
      // any scale) never shuffles; only the posting grain does
      // (116 k narrow rows). Measured −0.5 s on the scored subtree
      // (guide §2.3/§2.4: shuffle the small grain, co-partition so the
      // aggregation collapses before the wire). At 100 TB the dl join
      // above is itself a doc_id shuffle join, so this exchange is
      // the same key re-asserted, not a second full pass.
      .repartition($"doc_id")
    val scored = broadcast(qterms)
      .join(posting, Seq("term"))
      .filter($"doc_id" =!= $"query_id")
      .groupBy($"query_id", $"doc_id")
      .agg(count(lit(1)).as("n_terms_matched"),
        sum($"contrib_q6").as("score_q6"))
    scored
  }

  val all: Seq[GraftQuery] = Seq(q12oTfidfTopk, q12yBm25Topk)
}
