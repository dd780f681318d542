package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.GraftQuery
import graft.Staging.Stageable

/** Corpus-curation operators for training-data pipelines (builder
  * contract "Text analysis" / "Deduplication" adjuncts): PII
  * detection + redaction, Gopher-style repetition quality signals,
  * benchmark-contamination checks, and a deterministic global
  * training-shuffle order. All are linear relational dataflow —
  * regex/ngram work happens map-side, aggregation is hash-based, and
  * the one broadcast (the holdout shingle set in q13g) is bounded by
  * benchmark-suite size, not corpus size.
  */
object CurationQueries {

  // ---------------------------------------------------------------
  // q12g — PII scrub
  // ---------------------------------------------------------------

  /** Email/phone patterns written to behave identically under Java
    * regex (Spark codegen) and RE2 (DuckDB): greedy character-class
    * runs, no backreferences, no lookaround.
    */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\b555-[0-9]{4}\\b"

  /** q12g — PII detection + redaction. The synthetic corpus carries no
    * PII, so both engines symmetrically PLANT deterministic addresses
    * (doc_id % 10) and numbers (doc_id % 15; % 30 gets both) the same
    * way the dedup family plants duplicates — the operator is then
    * exercised against known positives AND negatives. Counting uses
    * native regexp_count and redaction chained regexp_replace, all
    * map-side; the redacted text is emitted as a hash so the oracle
    * hash-compare covers the full replacement output without shipping
    * megabyte strings through the gate.
    */
  val q12gPiiScrub: GraftQuery = GraftQuery(
    "q12g_pii_scrub",
    s"""WITH planted AS (
       |  SELECT doc_id,
       |         text
       |         || CASE WHEN doc_id % 10 = 0
       |              THEN ' contact user' || CAST(doc_id AS VARCHAR)
       |                   || '@mail' || CAST(doc_id % 7 AS VARCHAR)
       |                   || '.example.com now'
       |              ELSE '' END
       |         || CASE WHEN doc_id % 15 = 0
       |              THEN ' call 555-'
       |                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |                   || ' today'
       |              ELSE '' END AS text
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT)
       |         AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$PhonePat')) AS BIGINT)
       |         AS n_phones,
       |       md5(regexp_replace(regexp_replace(text,
       |             '$EmailPat', '[EMAIL]', 'g'),
       |             '$PhonePat', '[PHONE]', 'g')) AS redacted_hash
       |FROM planted""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val planted = docs.select($"doc_id",
      concat($"text",
        when($"doc_id" % 10 === 0,
          concat(lit(" contact user"), $"doc_id".cast("string"),
            lit("@mail"), ($"doc_id" % 7).cast("string"),
            lit(".example.com now"))).otherwise(lit("")),
        when($"doc_id" % 15 === 0,
          concat(lit(" call 555-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
            lit(" today"))).otherwise(lit(""))).as("text"))
    planted.select($"doc_id",
      regexp_count($"text", lit(EmailPat)).cast("long").as("n_emails"),
      regexp_count($"text", lit(PhonePat)).cast("long").as("n_phones"),
      md5(regexp_replace(regexp_replace($"text",
        lit(EmailPat), lit("[EMAIL]")),
        lit(PhonePat), lit("[PHONE]"))).as("redacted_hash"))
  }

  // ---------------------------------------------------------------
  // q12h — repetition quality signals (Gopher-style)
  // ---------------------------------------------------------------

  /** Repetition transform over any (doc_id, text) frame — q12h's body,
    * and the unfused reference CurationSpec compares q12k's fused
    * repetition gate against (q12k does not call it). Two-level hash
    * aggregation: (doc, gram) counts, then per-doc max/sum — no
    * windows, no sorts; 2-grams come from the same native codegen
    * n-gram expression as the shingle path.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val ws = docs.select($"doc_id",
      TextQueries.words($"text").as("ws"))
    val tokStats = ws
      .select($"doc_id", explode($"ws").as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), max($"c").as("max_tok"))
    val bgStats = ws
      .select($"doc_id", explode(GraftColumnBridge.column(
        graft.functions.WordNGrams(
          GraftColumnBridge.expression($"ws"), 2))).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_2grams"), max($"c").as("max_bg"),
        sum(when($"c" > 1, $"c").otherwise(0L)).as("dup_mass"))
      .withColumnRenamed("doc_id", "bdoc")
    val top2 = coalesce($"max_bg".cast("double") / $"n_2grams", lit(0.0))
    val dup2 = coalesce($"dup_mass".cast("double") / $"n_2grams", lit(0.0))
    tokStats.join(bgStats, $"doc_id" === $"bdoc", "left")
      .select($"doc_id",
        $"n_tokens",
        ($"max_tok".cast("double") / $"n_tokens").as("top_token_frac"),
        coalesce($"n_2grams", lit(0L)).as("n_2grams"),
        top2.as("top_2gram_frac"),
        dup2.as("dup_2gram_frac"),
        (top2 > 0.18 || dup2 > 0.6).as("repetitive"))
  }

  /** SQL twin of [[repetitionStats]] over source relation `src`. */
  def repetitionSql(src: String): String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
       |  FROM $src),
       |tok AS (
       |  SELECT doc_id, unnest(ws) AS tok FROM ws),
       |tokc AS (
       |  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |toks AS (
       |  SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS max_tok
       |  FROM tokc GROUP BY 1),
       |bg AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(ws), 1)),
       |           i -> ws[i] || ' ' || ws[i+1])) AS bg
       |  FROM ws),
       |bgc AS (
       |  SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       |bgs AS (
       |  SELECT doc_id, SUM(c) AS n_2grams, MAX(c) AS max_bg,
       |         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_mass
       |  FROM bgc GROUP BY 1)
       |SELECT t.doc_id,
       |       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       |       CAST(t.max_tok AS DOUBLE) / t.n_tokens AS top_token_frac,
       |       CAST(coalesce(b.n_2grams, 0) AS BIGINT) AS n_2grams,
       |       coalesce(CAST(b.max_bg AS DOUBLE) / b.n_2grams, 0.0)
       |         AS top_2gram_frac,
       |       coalesce(CAST(b.dup_mass AS DOUBLE) / b.n_2grams, 0.0)
       |         AS dup_2gram_frac,
       |       coalesce(CAST(b.max_bg AS DOUBLE) / b.n_2grams, 0.0) > 0.18
       |         OR coalesce(CAST(b.dup_mass AS DOUBLE) / b.n_2grams, 0.0) > 0.6
       |         AS repetitive
       |FROM toks t LEFT JOIN bgs b ON t.doc_id = b.doc_id""".stripMargin

  /** q12h — repetition signals: top-token fraction, top-2-gram
    * fraction, and duplicate-2-gram mass fraction (the share of
    * 2-gram occurrences whose 2-gram appears more than once in the
    * doc) — the Gopher-rule family for catching degenerate/looped
    * generations.
    */
  val q12hRepetitionStats: GraftQuery = GraftQuery(
    "q12h_repetition_stats", repetitionSql("documents")) { (spark, dir) =>
    repetitionStats(Tables(spark, dir).documents)
  }

  // ---------------------------------------------------------------
  // q13g — benchmark contamination check
  // ---------------------------------------------------------------

  /** q13g — test-set contamination: fraction of each training doc's
    * distinct 3-gram shingles that also appear in a holdout set
    * (docs with doc_id % 97 == 0 stand in for a benchmark suite).
    * The holdout's shingle vocabulary is broadcast — it is bounded by
    * BENCHMARK size (thousands of eval documents), not corpus size,
    * which is what makes the check a map-side semi-probe + one
    * per-doc aggregation at 100 TB. Holdout shingling filters its
    * docs BEFORE the n-gram explode (partition-prunable scan), so
    * the corpus-side mass is shingled exactly once.
    */
  /** Contamination transform over any (doc_id, text) frame — q13g's
    * body, and the unfused reference CurationSpec compares q12k's
    * fused contamination gate against (q12k does not call it). Docs
    * with doc_id % 97 == 0 play the holdout; output covers
    * non-holdout docs that have at least one shingle.
    */
  def contaminationFlags(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val hold = TextQueries.shingles(spark, docs.filter($"doc_id" % 97 === 0))
      .select($"sh").distinct()
      .withColumn("hit", lit(1))
    val corp = TextQueries.shingles(spark, docs.filter($"doc_id" % 97 =!= 0))
      .distinct()
    val frac = $"n_overlap".cast("double") / $"n_shingles"
    corp.join(broadcast(hold), Seq("sh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"hit".isNotNull, 1L).otherwise(0L)).as("n_overlap"))
      .select($"doc_id", $"n_shingles", $"n_overlap",
        frac.as("overlap_frac"), (frac >= 0.3).as("contaminated"))
  }

  /** SQL twin of [[contaminationFlags]] over source relation `src`. */
  def contaminationSql(src: String): String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
       |  FROM $src),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
       |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       |  FROM ws),
       |hold AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
       |corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
       |agg AS (
       |  SELECT c.doc_id, COUNT(*) AS n_shingles,
       |         CAST(SUM(CASE WHEN h.sh IS NOT NULL THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_overlap
       |  FROM corp c LEFT JOIN hold h ON c.sh = h.sh
       |  GROUP BY 1)
       |SELECT doc_id, n_shingles, n_overlap,
       |       CAST(n_overlap AS DOUBLE) / n_shingles AS overlap_frac,
       |       CAST(n_overlap AS DOUBLE) / n_shingles >= 0.3 AS contaminated
       |FROM agg""".stripMargin

  val q13gContamination: GraftQuery = GraftQuery(
    "q13g_contamination", contaminationSql("documents")) { (spark, dir) =>
    contaminationFlags(spark, Tables(spark, dir).documents)
  }

  // ---------------------------------------------------------------
  // q12i — deterministic global training-shuffle order
  // ---------------------------------------------------------------

  /** q12i — reproducible corpus shuffle: every doc gets a global
    * pseudo-random position (rank of a seeded content-independent
    * hash) and a training shard (NTILE over the same order). `rand()`
    * or `.orderBy(rand())` would change across runs/partitionings; a
    * seeded hash gives the exact property a training recipe needs —
    * the same corpus always shuffles the same way on any cluster.
    * Ranking goes through [[graft.operators.DistributedRank]] (range
    * repartition + per-partition offsets), NOT a global window — a
    * single-partition `row_number() OVER (ORDER BY …)` funnels the
    * whole corpus through one task at 100 TB. The md5 key is the
    * tie-free total order (doc_id tiebreak guards the theoretical
    * collision), satisfying the operator's total-order contract.
    */
  val q12iShuffleOrder: GraftQuery = GraftQuery(
    "q12i_shuffle_order",
    """WITH keyed AS (
      |  SELECT doc_id,
      |         md5(CAST(doc_id AS VARCHAR) || '|shuffle') AS shuffle_key
      |  FROM documents)
      |SELECT doc_id, shuffle_key,
      |       ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id)
      |         AS shuffle_pos,
      |       CAST(NTILE(16) OVER (ORDER BY shuffle_key, doc_id)
      |            AS INTEGER) AS shard
      |FROM keyed""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val keyed = Tables(spark, dir).documents.select($"doc_id",
      md5(concat($"doc_id".cast("string"), lit("|shuffle")))
        .as("shuffle_key"))
    graft.operators.DistributedRank.rankNtile(
      keyed,
      groupCols = Seq.empty,
      orderCols = Seq($"shuffle_key", $"doc_id"),
      ntiles = 16,
      rankName = "shuffle_pos",
      ntileName = "shard")
  }

  // ---------------------------------------------------------------
  // q12j — corpus vocabulary stats (exact + HLL scale twin)
  //
  // Naming note: the registry holds BOTH
  // `q12j_vocab_stats` and `q12j_vocab_approx` — the only shared
  // letter-prefix in the registry. Deliberate: they are the exact/
  // sketch twin pair of ONE operator (like q9a/q9a_approx, which
  // differ only by suffix), kept under one letter so the family
  // reads as a unit. Renaming now would churn CORRECTNESS history
  // for zero semantic gain; README pins the registry counts.
  // ---------------------------------------------------------------

  /** q12j — per-language vocabulary: token occurrences, exact vocab
    * size, type-token ratio. Exact COUNT(DISTINCT tok) is a two-phase
    * hash aggregation (partial distinct per map task, merge on lang) —
    * fine per-language, but the distinct-token shuffle mass grows with
    * corpus vocabulary; [[q12jVocabApprox]] is the sketch path.
    */
  val q12jVocabStats: GraftQuery = GraftQuery(
    "q12j_vocab_stats",
    """WITH toks AS (
      |  SELECT lang, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_tokens,
      |       COUNT(DISTINCT tok) AS vocab_size,
      |       CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*)
      |         AS type_token_ratio
      |FROM toks GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"lang", explode(TextQueries.words($"text")).as("tok"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct($"tok").as("vocab_size"),
        (countDistinct($"tok").cast("double") / count(lit(1)))
          .as("type_token_ratio"))
  }

  /** q12j-approx — the same vocabulary report through
    * approx_count_distinct (HyperLogLog++, rsd 1%). At 100 TB the
    * exact form shuffles every distinct token per language; the
    * sketch is fixed-size per group, merges map-side, and turns the
    * job into one linear scan.
    *
    * ORACLE-GATED via a tolerance invariant: HLL estimates are
    * engine-specific, so the output hashes the EXACT token count plus
    * one boolean per language asserting the sketch landed within 5%
    * (5× its 1% rsd) of the exact cardinality; the DuckDB twin emits
    * the exact counts and `true` literals. The gate query pays for
    * the exact twin ON PURPOSE — it is the verification harness; the
    * sketch aggregate it validates runs inside the same plan and is
    * the production shape at scale. CurationSpec keeps the
    * value-level error bound.
    */
  val q12jVocabApprox: GraftQuery = GraftQuery(
    "q12j_vocab_approx",
    """WITH toks AS (
      |  SELECT lang, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_tokens, true AS vocab_ok
      |FROM toks GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables(spark, dir).documents
      .select($"lang", explode(TextQueries.words($"text")).as("tok"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        approx_count_distinct($"tok", 0.01).as("v_approx"),
        countDistinct($"tok").as("v_exact"))
      .select($"lang", $"n_tokens",
        // rel 5% + abs 2, same contract as q26a's sketch_ok (the
        // `boundary` class: HLL++'s integer estimate + collision
        // bias have an absolute floor at tiny vocabularies that a
        // relative band cannot cover). Defense-in-depth at THIS rsd:
        // a sweep found no ≤20-token vocabulary where rsd-1%
        // HLL deviates, so the class's red-case pin and mutation
        // (m53) live on q26a's rsd-2% site in ProfileSpec — a
        // removal here has no reachable witness and would be an
        // equivalent mutant, the m44 precedent.
        (abs($"v_approx" - $"v_exact") <= $"v_exact" * 0.05 + 2)
          .as("vocab_ok"))
  }

  // ---------------------------------------------------------------
  // q12k — the full curation pipeline as ONE declarative plan
  // ---------------------------------------------------------------

  /** q12k — end-to-end training-data prep recipe: planted corpus →
    * exact dedup (keep-min per content hash) → quality + repetition
    * gate → holdout-contamination gate → language rebalance →
    * deterministic global shuffle + shard. The deduped corpus is
    * staged once; above it the three gates are ONE per-doc
    * aggregation over a (doc, gram kind, gram) grain behind one
    * doc-keyed exchange, and CurationSpec checks that fused plan
    * against the composition of the reusable transforms
    * (qualityScores, repetitionStats, contaminationFlags). The oracle
    * composes the stages' SQL twins the same way, so the hash gate
    * covers the COMPOSITION, not just the pieces.
    */
  val q12kCurationPipeline: GraftQuery = {
    val plantSql =
      """SELECT doc_id, text, lang, n_chars FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000, text, lang, n_chars
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin
    GraftQuery(
      "q12k_curation_pipeline",
      s"""WITH plant AS ($plantSql),
         |keepmin AS (
         |  SELECT md5(text) AS h, MIN(doc_id) AS doc_id
         |  FROM plant GROUP BY 1),
         |d1 AS (
         |  SELECT p.* FROM plant p
         |  JOIN keepmin k ON md5(p.text) = k.h AND p.doc_id = k.doc_id),
         |q AS (SELECT doc_id, quality FROM (${TextQueries.qualitySql("d1")})),
         |rep AS (SELECT doc_id, repetitive FROM (${repetitionSql("d1")})),
         |cont AS (SELECT doc_id, contaminated FROM (${contaminationSql("d1")})),
         |kept AS (
         |  SELECT doc_id, lang, quality
         |  FROM d1
         |  JOIN q USING (doc_id)
         |  JOIN rep USING (doc_id)
         |  LEFT JOIN cont USING (doc_id)
         |  WHERE doc_id % 97 <> 0
         |    AND quality >= 0.45
         |    AND NOT repetitive
         |    AND coalesce(contaminated, false) = false
         |    AND ${TextQueries.rebalanceCondSql})
         |SELECT doc_id, lang, quality,
         |       ROW_NUMBER() OVER
         |         (ORDER BY md5(CAST(doc_id AS VARCHAR) || '|shuffle'), doc_id)
         |         AS shuffle_pos,
         |       CAST(NTILE(16) OVER
         |         (ORDER BY md5(CAST(doc_id AS VARCHAR) || '|shuffle'), doc_id)
         |         AS INTEGER) AS shard
         |FROM kept""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      // no fan-out: the pipeline's CPU-heavy stage (the gates)
      // consumes the d1 checkpoint through its own doc_id exchange —
      // fanning the scan only prepends a 32-task exchange to every
      // stage of the plan (measured on an idle box when the plan had
      // ~6 stages: 3.7 s with it, below 2 s without)
      val docs = Tables(spark, dir).documentsNoFanOut
      val plant = docs.select($"doc_id", $"text", $"lang", $"n_chars")
        .unionByName(docs.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + 1000000).as("doc_id"),
            $"text", $"lang", $"n_chars"))
      val keepMin = plant
        .groupBy(md5($"text").as("h")).agg(min($"doc_id").as("doc_id"))
      // d1 feeds two consumers, the holdout shingle set and the
      // training gram grain; left as lineage, the dedup join under it
      // would run once per consumer. It is staged once, eagerly, and
      // as the TOKEN ARRAY rather than the raw text, so the
      // whitespace-regex split runs once and every gram (tokens,
      // 2-grams, 3-gram shingles, all the codegen WordNGrams
      // expression) derives from the staged array. A production
      // pipeline at corpus scale stages this boundary to parquet; see
      // Staging for the mechanism and its trade.
      val d1ws = plant.withColumn("h", md5($"text"))
        .join(keepMin, Seq("h", "doc_id")).drop("h")
        .select($"doc_id", $"lang", $"n_chars",
          TextQueries.words($"text").as("ws"))
        .staged
      import org.apache.spark.sql.GraftColumnBridge
      def grams(d: DataFrame, n: Int) = d.select($"doc_id", $"lang",
        $"n_chars", lit(n).as("k"), explode(GraftColumnBridge.column(
          graft.functions.WordNGrams(
            GraftColumnBridge.expression($"ws"), n))).as("g"))
      val hold = grams(d1ws.filter($"doc_id" % 97 === 0), 3)
        .select($"g".as("sh")).distinct()
      // All three gates ride ONE hashpartitioning(doc_id) exchange:
      // the (doc, kind, gram) counts and the per-doc roll-up above
      // them both accept it, and the broadcast hold join between them
      // keeps it. It sits here, in the consuming plan, because a
      // staged frame reports no partitioning under AQE. Tokens are
      // WordNGrams(ws, 1), not explode(ws): Catalyst infers a
      // size(ws) > 0 filter under a plain explode, below the exchange
      // in that branch only, and the branches stop sharing it.
      val train = d1ws.filter($"doc_id" % 97 =!= 0).repartition($"doc_id")
      val tok = $"k" === 1
      val bg = $"k" === 2
      val sh = $"k" === 3
      // Every doc in the grain has a token, but the 2-gram and shingle
      // counts, the denominators, stay NULL for a doc with no gram of
      // that kind, as the left joins of the unfused gates leave them:
      // a one-token doc has no 2-gram, and 0 / 0 throws under ANSI
      // where NULL / 0 gives NULL.
      val stats = Seq(1, 2, 3).map(grams(train, _)).reduce(_ union _)
        .groupBy($"doc_id", $"lang", $"n_chars", $"k", $"g")
        .agg(count(lit(1)).as("c"))
        .join(broadcast(hold), sh && $"g" === $"sh", "left")
        .groupBy($"doc_id", $"lang", $"n_chars")
        .agg(sum(when(tok, $"c")).as("n_tokens"),
          sum(when(tok && length($"g") <= 2, $"c").otherwise(0L)).as("n_short"),
          sum(when(tok && $"g".rlike("^[0-9]+$"), $"c").otherwise(0L))
            .as("n_digit"),
          sum(when(bg, $"c")).as("n_2grams"),
          max(when(bg, $"c")).as("max_bg"),
          sum(when(bg && $"c" > 1, $"c").otherwise(0L)).as("dup_mass"),
          sum(when(sh, 1L)).as("n_shingles"),
          count($"sh").as("n_overlap"))
      val top2 = coalesce($"max_bg".cast("double") / $"n_2grams", lit(0.0))
      val dup2 = coalesce($"dup_mass".cast("double") / $"n_2grams", lit(0.0))
      val cfrac = $"n_overlap".cast("double") / $"n_shingles"
      val lenScore = least($"n_chars".cast("double") / 200.0, lit(1.0))
      val shortRatio = $"n_short".cast("double") / $"n_tokens"
      val digitRatio = $"n_digit".cast("double") / $"n_tokens"
      val kept = stats
        .withColumn("quality",
          lenScore * 0.5 + (lit(1.0) - shortRatio) * 0.3
            + (lit(1.0) - digitRatio) * 0.2)
        .filter($"quality" >= 0.45 && !(top2 > 0.18 || dup2 > 0.6) &&
          !coalesce(cfrac >= 0.3, lit(false)))
      val balanced = TextQueries.rebalanceKeep(kept)
        .select($"doc_id", $"lang", $"quality",
          md5(concat($"doc_id".cast("string"), lit("|shuffle")))
            .as("shuffle_key"))
      graft.operators.DistributedRank.rankNtile(
        balanced,
        groupCols = Seq.empty,
        orderCols = Seq($"shuffle_key", $"doc_id"),
        ntiles = 16,
        rankName = "shuffle_pos",
        ntileName = "shard")
        .select($"doc_id", $"lang", $"quality", $"shuffle_pos", $"shard")
    }
  }

  // ---------------------------------------------------------------
  // q12l — concat-and-chunk sequence packing offsets
  // ---------------------------------------------------------------

  /** Whitespace token counts per doc — the shared first stage of the
    * packing (q12l) and chunk-window (q12m) operators; one change to
    * tokenization propagates to both.
    */
  private def tokenCounts(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", explode(TextQueries.words($"text")).as("tok"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_tokens"))
  }

  /** q12l — GPT-style packing: docs are concatenated in the
    * deterministic shuffle order and chunked into 2048-token training
    * sequences; each doc reports its global token offset and the
    * chunk span it lands in. The offset is a GLOBAL running total —
    * the window form (`SUM OVER (ORDER BY …)` with no partition) is a
    * one-task funnel at corpus scale, so the offsets come from
    * [[graft.operators.PrefixSum]] (range repartition + per-partition
    * sums + offset handoff, input shuffled once). The oracle IS that
    * window form, so the gate proves the two-pass operator exactly
    * reproduces the single-task semantics.
    */
  val q12lPackChunks: GraftQuery = GraftQuery(
    "q12l_pack_chunks",
    """WITH toks AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
      |        FROM documents) GROUP BY 1),
      |keyed AS (
      |  SELECT doc_id, n_tokens,
      |         md5(CAST(doc_id AS VARCHAR) || '|shuffle') AS k
      |  FROM toks),
      |pre AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(coalesce(SUM(n_tokens) OVER (ORDER BY k, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS start_offset
      |  FROM keyed)
      |SELECT doc_id, n_tokens, start_offset,
      |       CAST(start_offset // 2048 AS BIGINT) AS first_chunk,
      |       CAST((start_offset + n_tokens - 1) // 2048 AS BIGINT)
      |         AS last_chunk
      |FROM pre""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val keyed = tokenCounts(Tables(spark, dir).documents)
      .withColumn("k",
        md5(concat($"doc_id".cast("string"), lit("|shuffle"))))
    graft.operators.PrefixSum.exclusivePrefixSum(
      keyed, Seq($"k", $"doc_id"), $"n_tokens", "start_offset")
      .select($"doc_id", $"n_tokens", $"start_offset",
        expr("start_offset div 2048").as("first_chunk"),
        expr("(start_offset + n_tokens - 1) div 2048").as("last_chunk"))
  }

  // ---------------------------------------------------------------
  // q12n — deterministic train/val/test split assignment
  // ---------------------------------------------------------------

  /** q12n — split carving: every doc lands in train/val/test by the
    * first byte of a seeded content-independent hash (248/4/4 out of
    * 256 ≈ 97/1.5/1.5 %), so the split is reproducible across runs,
    * engines and partitionings and NEVER leaks: a doc's assignment
    * depends only on its id, not on ordering or sampling state.
    * Map-side only. The per-language rates in the output audit the
    * stratification (hash uniformity makes each language's split
    * converge to the same fractions without explicit stratified
    * bookkeeping).
    */
  val q12nSplitAssign: GraftQuery = GraftQuery(
    "q12n_split_assign",
    """WITH assigned AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN b < 248 THEN 'train'
      |              WHEN b < 252 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id, lang,
      |          (strpos('0123456789abcdef',
      |             substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 1)) - 1) * 16
      |          + (strpos('0123456789abcdef',
      |             substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 2, 1)) - 1)
      |            AS b
      |        FROM documents))
      |SELECT lang, split, COUNT(*) AS n_docs,
      |       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
      |       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
      |FROM assigned GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val b = conv(
      substr(md5(concat($"doc_id".cast("string"), lit("|split"))),
        lit(1), lit(2)), 16, 10).cast("int")
    Tables(spark, dir).documents
      .select($"doc_id", $"lang",
        when(b < 248, "train").when(b < 252, "val").otherwise("test")
          .as("split"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc_id"),
        max($"doc_id").as("max_doc_id"))
  }

  // ---------------------------------------------------------------
  // q12m — overlapping chunk windows (RAG/embedding prep)
  // ---------------------------------------------------------------

  /** q12m — sliding chunk windows: each doc splits into 64-token
    * chunks at stride 48 (16-token overlap) — the retrieval/embedding
    * prep shape (overlap keeps boundary context retrievable). One
    * token-count aggregation + a map-side sequence explode per doc:
    * no shuffle beyond the count, chunk rows stream out linearly.
    * The final (possibly short) chunk starts at the last stride
    * position before the doc ends, exactly like the range() twin.
    */
  val q12mChunkWindows: GraftQuery = GraftQuery(
    "q12m_chunk_windows",
    """WITH toks AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
      |        FROM documents) GROUP BY 1)
      |SELECT doc_id, n_tokens,
      |       CAST(start_tok // 48 AS BIGINT) AS chunk_idx,
      |       CAST(start_tok AS BIGINT) AS start_tok,
      |       CAST(least(64, n_tokens - start_tok) AS BIGINT) AS chunk_len
      |FROM (SELECT doc_id, n_tokens,
      |        unnest(range(0, n_tokens, 48)) AS start_tok
      |      FROM toks)""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    tokenCounts(Tables(spark, dir).documents)
      .select($"doc_id", $"n_tokens",
        explode(sequence(lit(0L), $"n_tokens" - 1, lit(48L)))
          .as("start_tok"))
      .select($"doc_id", $"n_tokens",
        expr("start_tok div 48").as("chunk_idx"),
        $"start_tok",
        least(lit(64L), $"n_tokens" - $"start_tok").as("chunk_len"))
  }

  /** q12w — filter-funnel attribution (the RefinedWeb/Gopher-style
    * curation report; no reference analogue — LLM-pipeline
    * extension): each doc is attributed to the FIRST rule it fails in
    * a fixed priority order (too_short → bad_lang → low_diversity),
    * and the output is the funnel — one row per stage with docs
    * entering, dropped here, and surviving. Every verdict is an
    * integer rule (the diversity threshold is distinct·100 <
    * total·35, never a float ratio compare), so the gate is
    * arithmetic-exact. ONE corpus scan into a doc-grain token
    * aggregate, ONE global count row, and the 4 funnel rows explode
    * from that single row map-side.
    */
  val q12wFilterFunnel: GraftQuery = GraftQuery(
    "q12w_filter_funnel",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
      |  FROM documents),
      |tt AS (
      |  SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT tok) AS n_dis
      |  FROM toks GROUP BY 1),
      |lab AS (
      |  SELECT CASE WHEN d.n_chars < 150 THEN 1
      |              WHEN d.lang = 'zh' THEN 2
      |              WHEN tt.n_dis * 100 < tt.n_tok * 35 THEN 3
      |              ELSE 0 END AS label
      |  FROM documents d JOIN tt USING (doc_id)),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
      |         CAST(SUM(CASE WHEN label = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
      |         CAST(SUM(CASE WHEN label = 3 THEN 1 ELSE 0 END) AS BIGINT) AS d3
      |  FROM lab)
      |SELECT 1 AS stage, 'too_short' AS rule,
      |       n AS n_in, d1 AS n_dropped, n - d1 AS n_out FROM m
      |UNION ALL SELECT 2, 'bad_lang', n - d1, d2, n - d1 - d2 FROM m
      |UNION ALL SELECT 3, 'low_diversity', n - d1 - d2, d3,
      |       n - d1 - d2 - d3 FROM m
      |UNION ALL SELECT 4, 'kept', n - d1 - d2 - d3, CAST(0 AS BIGINT),
      |       n - d1 - d2 - d3 FROM m""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val tt = docs
      .select($"doc_id", explode(TextQueries.words($"text")).as("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"), countDistinct($"tok").as("n_dis"))
    val lab = docs.join(tt, "doc_id").select(
      when($"n_chars" < 150, 1)
        .when($"lang" === "zh", 2)
        .when($"n_dis" * 100 < $"n_tok" * 35, 3)
        .otherwise(0).as("label"))
    val m = lab.agg(
      count(lit(1)).as("n"),
      sum(when($"label" === 1, 1L).otherwise(0L)).as("d1"),
      sum(when($"label" === 2, 1L).otherwise(0L)).as("d2"),
      sum(when($"label" === 3, 1L).otherwise(0L)).as("d3"))
    m.select(explode(array(
      struct(lit(1).as("stage"), lit("too_short").as("rule"),
        $"n".as("n_in"), $"d1".as("n_dropped"), ($"n" - $"d1").as("n_out")),
      struct(lit(2).as("stage"), lit("bad_lang").as("rule"),
        ($"n" - $"d1").as("n_in"), $"d2".as("n_dropped"),
        ($"n" - $"d1" - $"d2").as("n_out")),
      struct(lit(3).as("stage"), lit("low_diversity").as("rule"),
        ($"n" - $"d1" - $"d2").as("n_in"), $"d3".as("n_dropped"),
        ($"n" - $"d1" - $"d2" - $"d3").as("n_out")),
      struct(lit(4).as("stage"), lit("kept").as("rule"),
        ($"n" - $"d1" - $"d2" - $"d3").as("n_in"), lit(0L).as("n_dropped"),
        ($"n" - $"d1" - $"d2" - $"d3").as("n_out")))).as("s"))
      .select($"s.stage", $"s.rule", $"s.n_in", $"s.n_dropped", $"s.n_out")
  }

  val all: Seq[GraftQuery] = Seq(
    q12gPiiScrub, q12hRepetitionStats, q12iShuffleOrder,
    q12jVocabStats, q12jVocabApprox, q12kCurationPipeline,
    q12lPackChunks, q12mChunkWindows, q12nSplitAssign,
    q12wFilterFunnel, q13gContamination)
}
