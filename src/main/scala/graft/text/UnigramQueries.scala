package graft.text

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.DistributedRank
import graft.queries.GraftQuery
import graft.Staging.Stageable

/** Unigram language-model quality scoring — the perplexity-proxy
  * filter of CCNet-style curation: score each document by its
  * cross-entropy under the corpus's own unigram model,
  * xent(d) = −Σ_t tf_t(d) · ln(cf_t / T) / |d|. Documents whose
  * token distribution diverges from the corpus (rare-token soup,
  * boilerplate, encoding junk) score high and can be cut at a
  * quantile — the missing "statistical quality" sibling of q12b's
  * rule-based score.
  *
  * Scale shape: tokenize once — the (doc, term) tf grain is staged,
  * so its consumers (the cf model, the corpus total through cf, and
  * the scoring join) read the staged blocks and the query plan proper
  * holds no `Generate explode` (MixtureTfIdfSpec pins it). A per-doc
  * attribute a caller needs (q12t's source) rides that grain as an
  * extra key, so no query scans documents twice. Model
  * probabilities are one term-keyed aggregate joined back at term
  * grain, the corpus total rides a broadcast scalar, and the per-doc
  * reduction is doc-bounded.
  *
  * CROSS-ENGINE FLOAT DISCIPLINE: a plain SUM of doubles is
  * order-dependent and flaky across engines, so the per-doc sum is a
  * LEFT FOLD IN TERM ORDER on both sides — Spark sorts the
  * (term, x) structs and folds with `aggregate`; the DuckDB twin
  * builds `LIST(x ORDER BY term)` and folds with `list_reduce`.
  * Same addition order → bitwise-identical doubles → hashable.
  */
object UnigramQueries {

  /** Shared CTE chain producing the per-doc xent at (doc_id,
    * n_tokens, xent) grain — reused verbatim by q12t's oracle so the
    * bucket query runs on EXACTLY the scores q12r hash-gates.
    */
  private val xentCtes: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS t FROM cf),
      |doc AS (
      |  SELECT t.doc_id,
      |         LIST(t.tf * LN(CAST(c.cf AS DOUBLE) / tot.t)
      |              ORDER BY t.term) AS xs,
      |         CAST(SUM(t.tf) AS BIGINT) AS n_tokens
      |  FROM tf t JOIN cf c USING (term) CROSS JOIN tot
      |  GROUP BY 1),
      |x AS (
      |  SELECT doc_id, n_tokens,
      |         ROUND(-list_reduce(xs, (a, b) -> a + b) / n_tokens, 6) AS xent
      |  FROM doc)""".stripMargin

  /** The Spark twin of [[xentCtes]]: per-doc cross-entropy under the
    * corpus unigram model, ordered-fold exact (see q12r doc), at
    * (`keys`, n_tokens, xent) grain. `keys` must hold doc_id and may
    * add columns that doc_id determines: they ride the tf grain to the
    * output, so a caller that needs one (q12t's source) joins nothing
    * back.
    */
  private[graft] def xentPerDoc(docs: org.apache.spark.sql.DataFrame,
      keys: Seq[String] = Seq("doc_id")): org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    val k = keys.map(col)
    // tf fans out to the model branch (cf→tot) and the scoring join;
    // unstaged, the optimizer would tokenize the corpus once per
    // consumer. The (doc, term) grain ≪ corpus, so it is staged once.
    val tf = docs
      .select(k :+ explode(TextQueries.words($"text")).as("term"): _*)
      .groupBy(k :+ $"term": _*)
      .agg(count(lit(1)).as("tf"))
      .staged
    val cf = tf.groupBy($"term").agg(sum($"tf").as("cf"))
    val tot = cf.agg(sum($"cf").as("t"))
    tf.join(cf, Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn("x", $"tf" * log($"cf".cast("double") / $"t"))
      .groupBy(k: _*)
      .agg(sort_array(collect_list(struct($"term", $"x"))).as("xs"),
        sum($"tf").as("n_tokens"))
      .select(k ++ Seq($"n_tokens",
        round(-aggregate($"xs", lit(0.0),
            (acc, s) => acc + s.getField("x")) / $"n_tokens", 6)
          .as("xent")): _*)
  }

  val q12rUnigramLogprob: GraftQuery = GraftQuery(
    "q12r_unigram_logprob",
    s"WITH $xentCtes\nSELECT doc_id, n_tokens, xent FROM x") { (spark, dir) =>
    xentPerDoc(Tables(spark, dir).documents)
  }

  /** q12t — CCNet-style perplexity bucketing: within each source,
    * rank documents by their q12r cross-entropy and cut into terciles
    * — head (most corpus-fluent), middle, tail — keeping head+middle,
    * the classic "perplexity filter with per-source thresholds" (a
    * GLOBAL xent cut would simply drop whole unusual sources; the
    * per-source tercile is the reference design precisely because the
    * threshold adapts to each source's own distribution).
    *
    * Determinism: xent is the ROUND(..., 6) value q12r already
    * hash-gates bitwise, and ties (common after rounding) break on
    * doc_id — so the tercile boundaries are identical on both
    * engines. Scale shape: per-source ranking rides
    * [[DistributedRank]] (NOT `Window.partitionBy(source)` — few
    * strata by construction, one task per stratum at 100 TB);
    * everything upstream is q12r's one-tokenize-pass plan, with
    * source carried through its tf grain (doc_id is the documents
    * key, so source is one value per doc) instead of a second
    * documents scan joined back by doc_id.
    */
  val q12tPerplexityBuckets: GraftQuery = GraftQuery(
    "q12t_perplexity_buckets",
    s"""WITH $xentCtes,
       |j AS (
       |  SELECT d.doc_id, d.source, x.xent
       |  FROM documents d JOIN x ON d.doc_id = x.doc_id),
       |b AS (
       |  SELECT doc_id, source, xent,
       |         NTILE(3) OVER (PARTITION BY source
       |                        ORDER BY xent, doc_id) AS bucket
       |  FROM j)
       |SELECT doc_id, source, xent, CAST(bucket AS INTEGER) AS bucket,
       |       bucket <= 2 AS keep
       |FROM b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val j = xentPerDoc(Tables(spark, dir).documents, Seq("doc_id", "source"))
    DistributedRank.rankNtile(j,
        groupCols = Seq("source"),
        orderCols = Seq(col("xent"), col("doc_id")),
        ntiles = 3, rankName = "__xrank", ntileName = "bucket")
      .select($"doc_id", $"source", $"xent",
        $"bucket".cast("int").as("bucket"),
        ($"bucket" <= 2).as("keep"))
  }

  /** q12s — per-source KL divergence from the corpus unigram model,
    * KL(pₛ ‖ p) = Σ_t pₛ(t)·ln(pₛ(t)/p(t)): the mixture diagnostic
    * that tells you WHICH source is distributionally off before you
    * re-weight it (q12p/q12q decide how much of each source to take;
    * this measures what taking it does to the mix). Every term in a
    * source has cfₛ ≥ 1 and corpus cf ≥ cfₛ, so no zero-probability
    * edge cases exist by construction.
    *
    * Unlike q12r's doc-bounded ordered fold, a per-SOURCE sum spans
    * the source's whole vocabulary — collecting that into an array
    * would not scale. Instead the summands are snapped to FIXED-POINT
    * integers (⌊x·10¹² + ½⌋ as BIGINT): integer addition is
    * associative, so ANY aggregation order gives the same result and
    * the plain distributed SUM hash-matches DuckDB exactly — the
    * same order-independence idea as `Exact`'s decimal sums, applied
    * to log-space values. (floor, not round: round half-up vs
    * half-away-from-zero differs between engines on negative
    * summands, and individual KL terms CAN be negative.)
    *
    * The snap makes the SUM order-independent but each TERM still
    * assumes both engines' LN agree bitwise; a 1-ulp divergence when
    * a scaled summand lies within ~ulp of an integer would flip that
    * term's floor by 1 (Δkl = 10⁻¹²). The reported kl is therefore
    * ROUNDED to 6 digits — the q12r tolerance device — so a
    * single-term flip cannot change the hashed value unless the sum
    * ALSO sits exactly on a 5·10⁻⁷ rounding boundary (two independent
    * rare events). n_terms stays exact.
    */
  val q12sSourceKl: GraftQuery = GraftQuery(
    "q12s_source_kl",
    """WITH toks AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS term
      |  FROM documents),
      |tfs AS (SELECT source, term, COUNT(*) AS cfs FROM toks GROUP BY 1, 2),
      |cf AS (SELECT term, CAST(SUM(cfs) AS BIGINT) AS cf FROM tfs GROUP BY 1),
      |ts AS (SELECT source, CAST(SUM(cfs) AS BIGINT) AS t_s FROM tfs
      |       GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS t FROM cf)
      |SELECT s.source, COUNT(*) AS n_terms,
      |       ROUND(CAST(SUM(CAST(FLOOR(
      |         (CAST(s.cfs AS DOUBLE) / ts.t_s)
      |           * LN((CAST(s.cfs AS DOUBLE) / ts.t_s)
      |                / (CAST(c.cf AS DOUBLE) / tot.t)) * 1e12 + 0.5)
      |         AS BIGINT)) AS BIGINT) / 1e12, 6) AS kl
      |FROM tfs s
      |JOIN cf c USING (term)
      |JOIN ts USING (source)
      |CROSS JOIN tot
      |GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    // Three consumers (cf, ts, join) need the (source, term) counts;
    // exchange reuse is NOT contractual, and with three identical
    // exchanges only 2 of 3 deduped (observed) — the third consumer
    // re-tokenized. tfs is already reduced to vocab × source grain — tiny
    // next to the corpus — so the q12k staging pattern applies:
    // materialize it once, eagerly, and let every consumer read the
    // materialized form. The corpus is tokenized exactly once by
    // construction, not by optimizer luck.
    val tfs = docs
      .select($"source", explode(TextQueries.words($"text")).as("term"))
      .groupBy($"source", $"term")
      .agg(count(lit(1)).as("cfs"))
      .staged
    val cf = tfs.groupBy($"term").agg(sum($"cfs").as("cf"))
    val ts = tfs.groupBy($"source").agg(sum($"cfs").as("t_s"))
    val tot = cf.agg(sum($"cf").as("t"))
    val ps = $"cfs".cast("double") / $"t_s"
    val p = $"cf".cast("double") / $"t"
    tfs.join(cf, Seq("term"))
      .join(broadcast(ts), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("fx", floor(ps * log(ps / p) * lit(1e12) + 0.5))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_terms"),
        round(sum($"fx") / lit(1e12), 6).as("kl"))
  }

  /** q12x — bigram language-model scoring with add-one smoothing:
    * per-doc cross-entropy under the corpus's own bigram model,
    * xent2(d) = −Σ_{(w1,w2)} tf·ln((cb+1)/(cu+V)) / n_bigrams — the
    * order-sensitive upgrade of q12r's unigram score (detects
    * shuffled/templated text whose unigram profile looks fluent).
    *
    * Model vocabulary V is the CONTINUATION vocabulary (distinct w2
    * over corpus bigrams): it derives from the bigram counts already
    * in hand, so the corpus is tokenized exactly once — no second
    * unigram pass; smoothing mass goes to tokens ever observed as a
    * continuation, which is the space p(w2|w1) ranges over.
    *
    * Scale shape: bigrams are built MAP-SIDE from each doc's token
    * array (zip-with-next — no positional self-join), reduced to
    * (doc, w1, w2) grain in one keyed shuffle; the model tables cb/cu
    * and the V scalar all derive from that one aggregate. The per-doc
    * sum is q12r's ordered fold (sorted structs, left fold) so the
    * doubles are bitwise-identical cross-engine; docs with < 2 tokens
    * have no bigrams and drop out on both sides by construction.
    */
  val q12xBigramLogprob: GraftQuery = GraftQuery(
    "q12x_bigram_logprob",
    """WITH lists AS (
      |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |  FROM lists, UNNEST(range(1, len(ws))) AS t(i)),
      |tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM big
      |       GROUP BY 1, 2, 3),
      |cb AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS cb FROM tf
      |       GROUP BY 1, 2),
      |cu AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM cb GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT w2) AS v FROM cb),
      |doc AS (
      |  SELECT t.doc_id,
      |         LIST(t.tf * LN(CAST(c.cb + 1 AS DOUBLE) / (u.cu + v.v))
      |              ORDER BY t.w1, t.w2) AS xs,
      |         CAST(SUM(t.tf) AS BIGINT) AS n_bigrams
      |  FROM tf t JOIN cb c USING (w1, w2) JOIN cu u USING (w1)
      |  CROSS JOIN v
      |  GROUP BY 1)
      |SELECT doc_id, n_bigrams,
      |       ROUND(-list_reduce(xs, (a, b) -> a + b) / n_bigrams, 6)
      |         AS xent2
      |FROM doc""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val tf = docs
      .select($"doc_id", TextQueries.words($"text").as("ws"))
      .select($"doc_id", explode(expr(
        """transform(slice(ws, 1, size(ws) - 1),
          |  (x, i) -> struct(x AS w1, ws[i + 1] AS w2))""".stripMargin))
        .as("b"))
      .select($"doc_id", $"b.w1", $"b.w2")
      .groupBy($"doc_id", $"w1", $"w2")
      .agg(count(lit(1)).as("tf"))
      // three model consumers (cb→cu→V and the scoring join) over a
      // vocab²-bounded frame — the q12s staging pattern
      .staged
    val cb = tf.groupBy($"w1", $"w2").agg(sum($"tf").as("cb"))
    val cu = cb.groupBy($"w1").agg(sum($"cb").as("cu"))
    val v = cb.agg(countDistinct($"w2").as("v"))
    tf.join(cb, Seq("w1", "w2"))
      .join(cu, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("x",
        $"tf" * log(($"cb" + 1).cast("double") / ($"cu" + $"v")))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"w1", $"w2", $"x"))).as("xs"),
        sum($"tf").as("n_bigrams"))
      .select($"doc_id", $"n_bigrams",
        round(-aggregate($"xs", lit(0.0),
            (acc, s) => acc + s.getField("x")) / $"n_bigrams", 6)
          .as("xent2"))
  }

  val all: Seq[GraftQuery] =
    Seq(q12rUnigramLogprob, q12sSourceKl, q12tPerplexityBuckets,
      q12xBigramLogprob)
}
