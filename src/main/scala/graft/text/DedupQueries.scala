package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.Exact
import graft.queries.GraftQuery
import graft.Staging.Stageable

/** Deduplication family for training-data pipelines (builder contract
  * "Deduplication"): exact hash-dedup, n-gram Jaccard, MinHash+LSH
  * banding, SimHash, and embedding-cosine near-dup. All candidate
  * generation is inverted-index style (shared shingle / shared band /
  * shared bucket) — never all-pairs over the full corpus — so the
  * plans stay shuffle-bounded by true candidate counts at 100 TB.
  * Hash primitive is md5 (identical hex output in Spark and DuckDB);
  * min-hash minimizes the hex string lexicographically.
  */
object DedupQueries {

  /** Corpus with deterministically planted exact duplicates
    * (doc_id%7==0 re-inserted at doc_id+1e6) — the raw synthetic
    * corpus has none, and an exact-dedup operator needs positives.
    */
  private def corpus(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"text")
      .unionByName(docs.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 1000000).as("doc_id"), $"text"))
  }

  private val corpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** q13a — exact dedup: group by content hash, keep min doc_id. */
  val q13aExactDedup: GraftQuery = GraftQuery(
    "q13a_exact_dedup",
    s"""WITH c AS ($corpusSql)
       |SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
       |       MIN(doc_id) AS keep_doc_id,
       |       COUNT(*) - 1 AS n_removed
       |FROM c GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    corpus(Tables(spark, dir).documents)
      .groupBy(md5($"text").as("text_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min($"doc_id").as("keep_doc_id"),
        (count(lit(1)) - 1).as("n_removed"))
      .filter($"n_copies" > 1)
  }

  /** Hot-shingle document-frequency cap: a shingle shared by k docs
    * contributes k² candidate pairs in the inverted-index self-join,
    * and boilerplate shingles (headers, common phrases) reach huge k
    * at corpus scale while carrying no dedup signal. Dropping shingles
    * with DF > [[MaxShingleDf]] bounds every posting list — the join
    * is then linear in (capped) posting-list mass. The cap sits far
    * above the synthetic corpus's organic max DF (7 at sf0.01), so
    * the oracle results are unchanged; both engines apply it
    * symmetrically. Implementation is ONE scan + ONE shuffle: a
    * bounded collect ([[graft.functions.BoundedList]], ≤ cap+1
    * elements per agg buffer even on a billion-doc hot key) groups
    * each shingle's posting list and drops overflowing shingles —
    * where a count-then-anti-join would scan the corpus twice.
    */
  val MaxShingleDf = 50

  /** Per-shingle posting lists (sorted doc_ids), hot shingles
    * (DF > maxDf) dropped.
    */
  def cappedPostings(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    import spark.implicits._
    // NOTE: this aggregation wants
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold well
    // above the 128-key default (see GraftConf.tune — set explicitly
    // in graft's session builders, NOT mutated here: a query silently
    // re-configuring the session would change unrelated object
    // aggregations that run after it).
    val bounded =
      udaf(graft.functions.BoundedList.BoundedListAggregator(maxDf),
        org.apache.spark.sql.Encoders.scalaLong)
    TextQueries.shingles(spark, docs)
      .groupBy($"sh").agg(bounded($"doc_id").as("ds"))
      .filter($"ds".isNotNull)
  }

  /** Shingles minus those appearing in more than `maxDf` docs. */
  def cappedShingles(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    import spark.implicits._
    cappedPostings(spark, docs, maxDf)
      .select(explode($"ds").as("doc_id"), $"sh")
  }

  private def cappedShinglesSql(maxDf: Int = MaxShingleDf): String =
    s"""SELECT * FROM (${TextQueries.shinglesSql}) s0
       |WHERE sh NOT IN (
       |  SELECT sh FROM (${TextQueries.shinglesSql}) s1
       |  GROUP BY sh HAVING COUNT(*) > $maxDf)""".stripMargin

  /** q13b — n-gram Jaccard near-dup: candidate pairs via the shingle
    * inverted index, J = |∩|/|∪| ≥ 0.5 (the planted near-dup
    * threshold in the corpus). Jaccard is over the CAPPED shingle
    * sets — hot boilerplate shingles are excluded from both |∩| and
    * |∪|, in both engines.
    */
  /** Shared CTE body + final select of the Jaccard pair query —
    * reused verbatim by q13f's oracle so the component oracle runs on
    * EXACTLY the pair set q13b produces.
    */
  private def jaccardCtes: String =
    s"""sh AS (${cappedShinglesSql()}),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  private val jaccardSelect: String =
    """SELECT doc_a, doc_b,
      |       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      |FROM inter
      |JOIN sz sa ON doc_a = sa.doc_id
      |JOIN sz sb ON doc_b = sb.doc_id
      |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5""".stripMargin

  val q13bNgramJaccard: GraftQuery = GraftQuery(
    "q13b_ngram_jaccard",
    s"WITH $jaccardCtes\n$jaccardSelect") {
    (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir).documents
      // Candidate generation via posting lists, not a self-join: ONE
      // doc scan, ONE groupBy(sh) shuffle builds each shingle's
      // (capped, ≤ 50-doc, sorted) posting list, and the ordered pairs
      // explode map-side — C(k,2) ≤ 1,225 pairs per shingle by the DF
      // cap. Both the per-doc set sizes and the pair counts derive
      // from the SAME materialized postings, so the corpus is never
      // scanned or shuffled twice the way a self-join formulation
      // would. Materialization is an EAGER localCheckpoint, not
      // .cache(): postings are shingle-grain (corpus-proportional),
      // and a library call must not pin corpus-scale state in the
      // CacheManager for the session lifetime — checkpoint blocks are
      // reclaimed by the ContextCleaner once the returned plan goes
      // unreachable (the q12k staging pattern; CacheSpec asserts the
      // no-new-entries invariant).
      val postings = cappedPostings(spark, docs).staged
      val sz = postings.select(explode($"ds").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = postings
        .filter(size($"ds") >= 2)
        .select(explode(expr(
          """flatten(transform(ds, (a, i) ->
            |  transform(slice(ds, i + 2, size(ds)),
            |            b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin))
          .as("p"))
        .select($"p.doc_a", $"p.doc_b")
        .groupBy($"doc_a", $"doc_b")
        .agg(count(lit(1)).as("c"))
      inter
        .join(sz.select($"doc_id".as("da"), $"n".as("na")), $"doc_a" === $"da")
        .join(sz.select($"doc_id".as("db"), $"n".as("nb")), $"doc_b" === $"db")
        .select($"doc_a", $"doc_b",
          ($"c".cast(DoubleType) / ($"na" + $"nb" - $"c")).as("jaccard"))
        .filter($"jaccard" >= 0.5)
  }

  /** q13f — near-dup clusters: connected components over the q13b
    * pair graph ([[graft.operators.ConnectedComponents]], min-label
    * propagation), with the component minimum as the kept
    * representative. This is the step between PAIRS and a keep-one
    * decision: A~B and B~C collapse into one cluster even though A~C
    * was never scored. The oracle recomputes components independently
    * via a recursive transitive-closure CTE over the same pair set.
    */
  val q13fDedupComponents: GraftQuery = GraftQuery(
    "q13f_dedup_components",
    s"""WITH RECURSIVE $jaccardCtes,
       |pairs AS ($jaccardSelect),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |      UNION SELECT doc_b, doc_a FROM pairs),
       |reach(v, r) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.v)
       |SELECT v AS doc_id, MIN(r) AS component, v = MIN(r) AS keep
       |FROM reach GROUP BY v""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val pairs = q13bNgramJaccard.fn(spark, dir).select($"doc_a", $"doc_b")
    graft.operators.ConnectedComponents.components(pairs)
      .select($"id".as("doc_id"), $"component",
        ($"id" === $"component").as("keep"))
  }

  private val NumHashes = 8
  private val NumBands  = 4 // rows per band = 2

  /** Band rows (band_idx, band_val, doc_id, sg) backing q13c's LSH
    * candidate generation — members of one (band_idx, band_val)
    * bucket pair off, so candidate mass is Σ C(|bucket|, 2) over the
    * groups of this frame. Factored out for
    * [[graft.ScaleProbe]], which measures that mass directly at
    * decade-up corpus scale; q13c composes this frame unchanged, so
    * the probe measures exactly the bucket structure the query runs.
    */
  private[graft] def minhashBandRows(
      spark: org.apache.spark.sql.SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // The 8 seeded hashes depend only on the shingle, and
    // cappedPostings has ONE row per distinct shingle — hash
    // there, then explode the posting list, so md5 runs per
    // distinct shingle instead of per (doc, shingle) occurrence
    // (the min over each doc's multiset is unchanged). Partial
    // min-aggregation still combines map-side before the
    // per-doc shuffle.
    val hashed = cappedPostings(spark, docs).select(
      $"ds" +: (0 until NumHashes)
        .map(i => md5(concat(lit(s"$i|"), $"sh")).as(s"h$i")): _*)
    val sig = hashed
      .select($"ds" +: (0 until NumHashes).map(i => col(s"h$i")): _*)
      .withColumn("doc_id", explode($"ds")).drop("ds")
      .groupBy($"doc_id")
      .agg(min($"h0").as("h0"),
        (1 until NumHashes).map(i => min(col(s"h$i")).as(s"h$i")): _*)
    // Each doc emits its 4 (band_idx, band_val) rows map-side in ONE
    // explode, carrying the full signature struct for the in-bucket
    // match-fraction computation.
    val bandStructs = array((0 until NumBands).map { j =>
      struct(lit(j).as("band_idx"),
        md5(concat(col(s"h${2 * j}"), col(s"h${2 * j + 1}")))
          .as("band_val"))
    }: _*)
    val sigStruct = struct((0 until NumHashes).map(i => col(s"h$i")): _*)
    sig
      .select($"doc_id", sigStruct.as("sg"), explode(bandStructs).as("b"))
      .select($"b.band_idx", $"b.band_val", $"doc_id", $"sg")
  }

  /** q13c — MinHash + LSH banding: 8 min-hashes (lexicographic min of
    * seeded md5 over shingles), 4 bands of 2 → candidate pairs share
    * a band; estimated similarity = matching minhash fraction ≥ 0.5.
    * The band bucket-join is the scale path: candidates are generated
    * per-band by equality, never by corpus cross product. Signatures
    * are computed over the DF-capped shingle set (see
    * [[MaxShingleDf]]) so boilerplate can neither skew a posting list
    * nor collapse unrelated docs into one band bucket.
    */
  val q13cMinhashLsh: GraftQuery = {
    val hashAggsSql = (0 until NumHashes)
      .map(i => s"min(md5('$i|' || sh)) AS h$i").mkString(", ")
    val bandsSql = (0 until NumBands)
      .map(j => s"md5(h${2 * j} || h${2 * j + 1}) AS b$j").mkString(", ")
    val bandRowsSql = (0 until NumBands)
      .map(j => s"SELECT doc_id, $j AS band_idx, b$j AS band_val FROM sig2")
      .mkString("\nUNION ALL\n")
    val matchFracSql = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    GraftQuery(
      "q13c_minhash_lsh",
      s"""WITH sh AS (${cappedShinglesSql()}),
         |sig AS (SELECT doc_id, $hashAggsSql FROM sh GROUP BY 1),
         |sig2 AS (SELECT *, $bandsSql FROM sig),
         |bands AS ($bandRowsSql),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       CAST($matchFracSql AS DOUBLE) / $NumHashes AS est_similarity
         |FROM cand
         |JOIN sig sa ON doc_a = sa.doc_id
         |JOIN sig sb ON doc_b = sb.doc_id
         |WHERE CAST($matchFracSql AS DOUBLE) / $NumHashes >= 0.5""".stripMargin) {
      (spark, dir) =>
        import spark.implicits._
        val docs = Tables(spark, dir).documents
        // Candidates via posting lists over band buckets — the SAME
        // bounded pattern as q13b, not a two-sided self-join: each doc
        // emits (band_idx, band_val, doc_id, signature) rows map-side
        // in ONE explode (see [[minhashBandRows]]), each bucket groups
        // its members once, and the
        // ordered pairs + their match fraction explode map-side from
        // the sorted member list. This replaces the former 4-way band
        // union, two-sided bucket join, candidate distinct, and TWO
        // signature re-joins (which needed `sig` cached) with two
        // exchanges and no cache. Bucket buffers are O(bucket size);
        // a mega-bucket can only come from floods of byte-identical
        // docs, which exact dedup (q13a) removes UPSTREAM in any real
        // pipeline — and a flood of k identical docs is k² candidate
        // pairs under ANY LSH formulation, so the join form would
        // blow up on the same input anyway.
        val bandRows = minhashBandRows(spark, docs)
        val matchSql = (0 until NumHashes)
          .map(i => s"CASE WHEN a.sg.h$i = b.sg.h$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        bandRows
          .groupBy($"band_idx", $"band_val")
          // sort_array orders struct elements by leading field doc_id,
          // so the exploded pairs satisfy doc_a < doc_b by construction
          .agg(sort_array(collect_list(struct($"doc_id", $"sg"))).as("ms"))
          .filter(size($"ms") >= 2)
          .select(explode(expr(
            s"""flatten(transform(ms, (a, i) ->
               |  transform(slice(ms, i + 2, size(ms)),
               |    b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
               |           CAST($matchSql AS DOUBLE) / $NumHashes
               |             AS est_similarity))))""".stripMargin)).as("p"))
          .select($"p.doc_a", $"p.doc_b", $"p.est_similarity")
          .filter($"est_similarity" >= 0.5)
          // a pair sharing several bands repeats with the SAME
          // est_similarity (it is a function of the two signatures),
          // so distinct after the threshold dedups across bands
          .distinct()
    }
  }

  /** q13d — SimHash (16-bit) per doc + bucket sizes: per token, md5
    * hex digits supply the bit stream; the per-bit signed majority
    * over tokens forms the signature. Bit extraction is relational
    * (token × bit-index rows → hash agg) so it stays a linear
    * explode + aggregation at scale.
    */
  val q13dSimhash: GraftQuery = GraftQuery(
    "q13d_simhash",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
      |  FROM documents),
      |bits AS (
      |  SELECT doc_id, tok, b,
      |         ((strpos('0123456789abcdef',
      |                  substr(md5(tok), 1 + b // 4, 1)) - 1)
      |          >> (3 - b % 4)) & 1 AS bitval
      |  FROM toks, (SELECT unnest(range(0, 16)) AS b)),
      |sig AS (
      |  SELECT doc_id, b,
      |         CASE WHEN SUM(2 * bitval - 1) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM bits GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id, CAST(SUM(bit * (1 << b)) AS BIGINT) AS simhash
      |  FROM sig GROUP BY 1)
      |SELECT doc_id, simhash,
      |       COUNT(*) OVER (PARTITION BY simhash) AS bucket_size
      |FROM sh""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    // All 16 bit contributions are extracted map-side from each
    // token's md5 (hex digit b/4, bit 3−b%4) and aggregated as 16
    // parallel SUM columns in ONE groupBy(doc_id) — the former
    // token × bit-index crossJoin shuffled 16× the token mass through
    // an extra (doc_id, b) aggregation stage for the same numbers.
    // hex digit value: conv(hexchar, 16, 10); same result as the
    // oracle's strpos-in-alphabet — only outputs must match, not calls
    val toks = docs
      .select($"doc_id", explode(TextQueries.words($"text")).as("tok"))
      .select($"doc_id", md5($"tok").as("h"))
    def bitval(b: Int) = {
      val digit = conv(substr($"h", lit(1 + b / 4), lit(1)), 16, 10)
        .cast("int")
      shiftright(digit, 3 - b % 4) % 2
    }
    val sums = toks.groupBy($"doc_id")
      .agg(sum(bitval(0) * 2 - 1).as("s0"),
        (1 until 16).map(b => sum(bitval(b) * 2 - 1).as(s"s$b")): _*)
    val sh = sums.select($"doc_id",
      (0 until 16).map(b => when(col(s"s$b") > 0, 1L << b).otherwise(0L))
        .reduce(_ + _).cast(LongType).as("simhash"))
    sh.withColumn("bucket_size",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"simhash")))
  }

  /** q13e — embedding-cosine near-dup: ordered-fold dot products
    * ([[graft.functions.VectorOps]]) over the pair join, cosine ≥ 0.4.
    * Brute-force baseline (quadratic in corpus — fine as the exactness
    * reference); the LSH-bucketed scale path is q14b. Refuses corpora
    * above [[BruteForceGuard.QuadraticMaxRows]] instead of attempting
    * an all-pairs join at scale.
    */
  val q13eEmbedNeardup: GraftQuery = GraftQuery(
    "q13e_embed_neardup",
    s"""WITH v0 AS (
       |  SELECT vec_id, embedding,
       |         ${graft.functions.VectorOps.norm2Sql("embedding")} AS n2
       |  FROM embeddings),
       |v AS (SELECT * FROM v0 WHERE n2 > 0)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ${graft.functions.VectorOps.dotSql("a.embedding", "b.embedding")}
       |         / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
       |FROM v a JOIN v b ON a.vec_id < b.vec_id
       |WHERE ${graft.functions.VectorOps.dotSql("a.embedding", "b.embedding")}
       |        / (sqrt(a.n2) * sqrt(b.n2)) >= 0.4""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      import graft.functions.VectorOps
      val emb = Tables(spark, dir).embeddings
      BruteForceGuard.guard("q13e_embed_neardup",
        emb.select($"vec_id").count(), BruteForceGuard.QuadraticMaxRows,
        "q14b_ann_lsh (bucketed) or q14e_semantic_dedup (cell-bounded)")
      val v = emb.select($"vec_id", $"embedding",
        VectorOps.norm2($"embedding").as("n2"))
        .filter($"n2" > 0) // zero-norm: no direction → no cosine (q14a)
      val a = v.toDF("vec_a", "emb_a", "n2_a")
      val b = v.toDF("vec_b", "emb_b", "n2_b")
      a.join(b, $"vec_a" < $"vec_b")
        .select($"vec_a", $"vec_b",
          VectorOps.cosineFrom(VectorOps.dot($"emb_a", $"emb_b"),
            $"n2_a", $"n2_b").as("cosine"))
        .filter($"cosine" >= 0.4)
  }

  /** Chunk size for q13h: docs split into NON-overlapping runs of 8
    * whitespace tokens ("lines" — the synthetic corpus has no real
    * newlines). 8 matches the planted boilerplate header length so
    * the header lands exactly on chunk 0 and the doc's own chunks
    * keep their alignment.
    */
  private val ChunkTokens = 8

  /** A chunk shared by ≥ this many docs is boilerplate (the planted
    * header reaches ~N/3 docs; organic 8-token runs over the ~31-word
    * vocabulary never approach 30 — and the cap is applied identically
    * in both engines, so the gate is semantics-proof either way).
    */
  private val BoilerplateDf = 30

  /** Eight-token boilerplate header prepended to every third doc —
    * the corpus positive for chunk-level dedup (none of these words
    * occur in the synthetic vocabulary, so the plant cannot collide
    * with organic chunks).
    */
  private val Boiler = "please read these terms of service all rights"

  /** q13h — chunk-level dedup (the CCNet/RefinedWeb "line dedup"
    * shape; reference has no analogue — LLM-pipeline extension):
    * split each doc into non-overlapping [[ChunkTokens]]-token
    * chunks, count each chunk's document frequency across the
    * corpus, mark chunks with DF ≥ [[BoilerplateDf]] as boilerplate,
    * and report per-doc retention. The keep verdict is pure integer
    * arithmetic (kept·100 ≥ 95·total) — no float comparison in the
    * gate; `kept_ratio` is a rounded VALUE column only.
    *
    * Scale shape: ONE corpus scan into a (chunk, doc)-grain
    * aggregate, eagerly checkpointed (the q12k staging pattern — a
    * multi-consumer frame must not re-scan the corpus, and a library
    * call must not pin corpus-scale state in the CacheManager); the
    * chunk-DF aggregate and the DF join both run over that
    * chunk-grain frame, never the raw corpus. Every shuffle is keyed
    * (chunk or doc_id); nothing is quadratic.
    */
  val q13hChunkDedup: GraftQuery = GraftQuery(
    "q13h_chunk_dedup",
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 3 = 0 THEN '$Boiler ' || text
       |              ELSE text END AS text
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
       |  FROM base),
       |chunks AS (
       |  SELECT doc_id,
       |         unnest(list_transform(
       |           range(CAST(ceil(len(w) / $ChunkTokens.0) AS BIGINT)),
       |           ci -> array_to_string(
       |             w[ci * $ChunkTokens + 1 : ci * $ChunkTokens + $ChunkTokens],
       |             ' '))) AS chunk
       |  FROM toks),
       |g1 AS (SELECT doc_id, chunk, COUNT(*) AS occ FROM chunks GROUP BY 1, 2),
       |df AS (SELECT chunk, COUNT(*) AS df FROM g1 GROUP BY 1)
       |SELECT doc_id,
       |       CAST(SUM(occ) AS BIGINT) AS n_chunks,
       |       CAST(SUM(CASE WHEN df >= $BoilerplateDf THEN occ ELSE 0 END)
       |            AS BIGINT) AS n_dropped,
       |       ROUND(CAST(SUM(CASE WHEN df < $BoilerplateDf THEN occ ELSE 0 END)
       |                  AS DOUBLE) / SUM(occ), 6) AS kept_ratio,
       |       SUM(CASE WHEN df < $BoilerplateDf THEN occ ELSE 0 END) * 100
       |         >= 95 * SUM(occ) AS keep
       |FROM g1 JOIN df USING (chunk)
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val base = docs.select($"doc_id",
      when($"doc_id" % 3 === 0, concat(lit(Boiler + " "), $"text"))
        .otherwise($"text").as("text"))
    val chunks = base
      .withColumn("w", TextQueries.words($"text"))
      .select($"doc_id", explode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(size(w) / $ChunkTokens.0) as int) - 1),
           |  ci -> array_join(slice(w, ci * $ChunkTokens + 1, $ChunkTokens),
           |                   ' '))""".stripMargin)).as("chunk"))
    // (chunk, doc)-grain occurrence counts: the single corpus-derived
    // frame both downstream consumers read. Eager checkpoint, not
    // .cache() — see scaladoc.
    val g1 = chunks.groupBy($"chunk", $"doc_id")
      .agg(count(lit(1)).as("occ"))
      .staged
    val df = g1.groupBy($"chunk").agg(count(lit(1)).as("df"))
    val dropped = when($"df" >= BoilerplateDf, $"occ").otherwise(0L)
    val kept    = when($"df" < BoilerplateDf, $"occ").otherwise(0L)
    g1.join(df, "chunk")
      .groupBy($"doc_id")
      .agg(sum($"occ").as("n_chunks"),
        sum(dropped).as("n_dropped"),
        round(sum(kept).cast(DoubleType) / sum($"occ"), 6).as("kept_ratio"),
        (sum(kept) * 100 >= sum($"occ") * 95).as("keep"))
  }

  /** q13i — canonical-doc selection: the keep-BEST step a real
    * pipeline runs after q13f's keep-min clustering (min-id keeps an
    * arbitrary member; curation wants the richest one). Per near-dup
    * component: canonical = the member with the longest text,
    * tie-broken by smallest doc_id. The argmax is ONE groupBy, no
    * per-component window, and partial aggregation combines map-side;
    * component count and sizes are bounded by the q13b pair graph,
    * and the doc-length join touches only clustered docs
    * (semi-join-sized, ≪ corpus).
    *
    * Argmax shape (r13 census): the order (len DESC, doc_id ASC) is
    * packed into ONE collision-free DECIMAL(38,0) ordering
    * `enc = coalesce(len,−1)·10^20 + (2^63−1 − doc_id)` and taken with
    * `max_by(doc_id, enc)` — doc_id is injective, so enc has no ties
    * and max_by is deterministic, and `canon_len = max(len)` is the
    * argmax's len because enc orders by len first. len ≤ 2^31−1 (JVM
    * string cap) and doc_id > Long.MinValue keep the id slot inside
    * its 10^20 base, so enc fits 30 digits and the comparison is
    * exact. Both buffers are fixed-width (16-byte decimal + long) →
    * UnsafeRow-mutable → HashAggregateExec; the previous
    * max(struct(len, −doc_id)) form planned SortAggregateExec, an
    * external sort of the clustered-doc mass per task (the only
    * linear grouped SortAggregate the census found — SURVEY §8.11).
    */
  val q13iCanonicalDocs: GraftQuery = GraftQuery(
    "q13i_canonical_docs",
    s"""WITH RECURSIVE $jaccardCtes,
       |pairs AS ($jaccardSelect),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |      UNION SELECT doc_b, doc_a FROM pairs),
       |reach(v, r) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.v),
       |comp AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v),
       |j AS (
       |  SELECT component, comp.doc_id, length(text) AS len
       |  FROM comp JOIN documents USING (doc_id)),
       |rn AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY component ORDER BY len DESC, doc_id ASC) AS rk
       |  FROM j)
       |SELECT component,
       |       CAST(COUNT(*) AS BIGINT) AS n_members,
       |       CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
       |         AS canonical_doc_id,
       |       CAST(MAX(CASE WHEN rk = 1 THEN len END) AS BIGINT) AS canon_len
       |FROM rn GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val comp = q13fDedupComponents.fn(spark, dir)
      .select($"doc_id", $"component")
    val lens = Tables(spark, dir).documents
      .select($"doc_id", length($"text").cast(LongType).as("len"))
    canonicalFrom(comp.join(lens, "doc_id"))
  }

  /** The q13i argmax over a (component, doc_id, len) member frame,
    * factored so CanonicalArgmaxSpec can pin the tie-break on a
    * crafted fixture (len ties don't occur in the sf0.01 replay —
    * the m33/m34 unexercised-boundary lesson applied here).
    */
  private[graft] def canonicalFrom(members: DataFrame): DataFrame = {
    import members.sparkSession.implicits._
    val idSlotBase = lit(new java.math.BigDecimal("100000000000000000000"))
    val maxLong    = lit(new java.math.BigDecimal("9223372036854775807"))
    // A NULL len (null-text doc) coalesces to -1 — below every real
    // len ≥ 0, exactly where DuckDB's `ORDER BY len DESC` puts NULLs
    // (nulls-last). Without it max_by SKIPS null-ordering rows, so a
    // hypothetical component whose every member has NULL len would
    // emit NULL canonical_doc_id while the twin's ROW_NUMBER still
    // elects the smallest doc_id. Unreachable from q13i today (null
    // text → no shingles → never enters the pair graph), but the
    // frame is private[graft] API and the contract should not be
    // implicit. canon_len = max(len) stays null-skipping on both
    // engines (all-null component → NULL canon_len, matching the
    // twin's MAX(CASE...)).
    val enc =
      coalesce($"len", lit(-1L)) * idSlotBase + (maxLong - $"doc_id")
    members.groupBy($"component")
      .agg(count(lit(1)).as("n_members"),
        max_by($"doc_id", enc).as("canonical_doc_id"),
        max($"len").as("canon_len"))
  }

  /** q13j — typo-tolerant vocabulary reconciliation: all distinct
    * token pairs within Levenshtein distance 1, found by
    * [[graft.operators.EditDistanceJoin]] deletion-neighborhood
    * blocking (equi-join on shared variants — linear fan-out) and
    * gated against DuckDB's QUADRATIC `levenshtein` self-join, which
    * proves the blocking lossless. The raw synthetic vocabulary has
    * almost no near-miss pairs, so typos are planted with an integer
    * rule both engines apply identically: docs with doc_id%7==0 drop
    * the first character of every ≥5-char token (deletion), doc_id%11
    * swaps it for 'z' (substitution). Vocabulary is capped at the top
    * 600 tokens by (count DESC, token) — a total integer+string order,
    * so the cut is deterministic at any scale.
    */
  val q13jEditdistJoin: GraftQuery = GraftQuery(
    "q13j_editdist_join",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
      |  FROM documents),
      |typo AS (
      |  SELECT CASE
      |    WHEN doc_id % 7 = 0 AND length(tok) >= 5 THEN substr(tok, 2)
      |    WHEN doc_id % 11 = 0 AND length(tok) >= 5 THEN 'z' || substr(tok, 2)
      |    ELSE tok END AS tok
      |  FROM toks),
      |vocab AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM typo
      |  WHERE regexp_matches(tok, '^[a-z]{3,12}$') GROUP BY 1),
      |top AS (SELECT tok, cnt FROM vocab ORDER BY cnt DESC, tok LIMIT 600)
      |SELECT a.tok AS tok_a, b.tok AS tok_b, a.cnt AS cnt_a, b.cnt AS cnt_b
      |FROM top a JOIN top b
      |  ON a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 1""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val toks = Tables(spark, dir).documents
        .select($"doc_id", explode(TextQueries.words($"text")).as("tok"))
      val typo = toks.select(
        when($"doc_id" % 7 === 0 && length($"tok") >= 5,
          expr("substring(tok, 2)"))
          .when($"doc_id" % 11 === 0 && length($"tok") >= 5,
            concat(lit("z"), expr("substring(tok, 2)")))
          .otherwise($"tok").as("tok"))
      val vocab = typo.filter($"tok".rlike("^[a-z]{3,12}$"))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"tok").limit(600)
      graft.operators.EditDistanceJoin.distance1Pairs(vocab, "tok", "cnt")
  }

  /** q13k — split-leakage audit: near-duplicate pairs that STRADDLE a
    * train/val/test boundary — the contamination mode that silently
    * inflates eval scores (a val doc whose near-twin sits in train is
    * a leaked answer). Composes the q13b pair graph with the q12n
    * hash-split rule VERBATIM on both sides (pairs from the same
    * oracle CTE, split from the same md5-byte rule), so the audit can
    * never disagree with either primitive. Output at
    * (split_a, split_b) grain with the leak flag; the fix for flagged
    * pairs is q13f/q13i (components → canonical) BEFORE splitting —
    * this query is the gate that proves you needed it. Scale: the
    * pair graph is the already-bounded q13b candidate set; labeling
    * is two map-side md5 bytes; the rollup is a ≤9-key hash-agg.
    */
  val q13kSplitLeakage: GraftQuery = {
    def splitSqlFor(idCol: String): String =
      s"""CASE WHEN (strpos('0123456789abcdef',
         |       substr(md5(CAST($idCol AS VARCHAR) || '|split'), 1, 1)) - 1) * 16
         |     + (strpos('0123456789abcdef',
         |       substr(md5(CAST($idCol AS VARCHAR) || '|split'), 2, 1)) - 1)
         |     < 248 THEN 'train'
         |     WHEN (strpos('0123456789abcdef',
         |       substr(md5(CAST($idCol AS VARCHAR) || '|split'), 1, 1)) - 1) * 16
         |     + (strpos('0123456789abcdef',
         |       substr(md5(CAST($idCol AS VARCHAR) || '|split'), 2, 1)) - 1)
         |     < 252 THEN 'val' ELSE 'test' END""".stripMargin
    GraftQuery(
      "q13k_split_leakage",
      s"""WITH $jaccardCtes,
         |pairs AS ($jaccardSelect),
         |lab AS (
         |  SELECT doc_a, doc_b,
         |         ${splitSqlFor("doc_a")} AS split_a,
         |         ${splitSqlFor("doc_b")} AS split_b
         |  FROM pairs)
         |SELECT split_a, split_b, COUNT(*) AS n_pairs,
         |       split_a <> split_b AS is_leak
         |FROM lab GROUP BY 1, 2, 4""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      def splitCol(c: org.apache.spark.sql.Column) = {
        val b = conv(substr(md5(concat(c.cast("string"), lit("|split"))),
          lit(1), lit(2)), 16, 10).cast("int")
        when(b < 248, "train").when(b < 252, "val").otherwise("test")
      }
      q13bNgramJaccard.fn(spark, dir)
        .select($"doc_a", $"doc_b",
          splitCol($"doc_a").as("split_a"),
          splitCol($"doc_b").as("split_b"))
        .groupBy($"split_a", $"split_b",
          ($"split_a" =!= $"split_b").as("is_leak"))
        .agg(count(lit(1)).as("n_pairs"))
    }
  }

  /** q13l — CONTENT-DEFINED chunking + cross-document span dedup: the
    * variable-length counterpart of q13h's fixed windows. Boundaries
    * depend on content alone (a token opens a new chunk iff its md5
    * byte-0 ≡ 0 mod 8 — an expected chunk length of 8 tokens with NO
    * positional anchor), so the same phrase chunks identically
    * wherever it appears and an insertion upstream cannot shift every
    * downstream boundary — the property fixed-size chunking lacks and
    * the reason CDC is the substring-dedup device at corpus scale.
    * Chunk assembly is a DOC-grain window (cumulative boundary count,
    * bounded by document length) + the ordered struct-sort rebuild
    * (q27 device); dedup is one hash-grain aggregation. Output =
    * every span text shared across documents, with copy/doc counts.
    */
  val q13lCdcChunks: GraftQuery = GraftQuery(
    "q13l_cdc_chunks",
    """WITH toks AS (
      |  SELECT doc_id,
      |         unnest(range(len(w))) AS pos,
      |         unnest(w) AS tok
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w
      |        FROM documents)),
      |marked AS (
      |  SELECT doc_id, pos, tok,
      |         SUM(CASE WHEN CAST(('0x' || substr(md5(tok), 1, 2)) AS INTEGER)
      |                       % 8 = 0 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
      |  FROM toks),
      |chunks AS (
      |  SELECT doc_id, chunk,
      |         string_agg(tok, ' ' ORDER BY pos) AS span
      |  FROM marked GROUP BY 1, 2)
      |SELECT md5(span) AS span_hash,
      |       CAST(COUNT(*) AS BIGINT) AS n_copies,
      |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |       CAST(MIN(length(span)) AS BIGINT) AS span_chars
      |FROM chunks
      |GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(spark, dir).documents
      .select($"doc_id",
        posexplode(TextQueries.words($"text")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val marked = toks.withColumn("chunk",
      sum((conv(substring(md5($"tok"), 1, 2), 16, 10).cast("int") % 8 === 0)
        .cast("long")).over(w))
    val chunks = marked.groupBy($"doc_id", $"chunk")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
        " ").as("span"))
    chunks.groupBy(md5($"span").as("span_hash"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct($"doc_id").as("n_docs"),
        min(length($"span")).cast("long").as("span_chars"))
      .filter($"n_copies" > 1)
  }

  val all: Seq[GraftQuery] = Seq(
    q13aExactDedup, q13bNgramJaccard, q13cMinhashLsh, q13dSimhash,
    q13eEmbedNeardup, q13fDedupComponents, q13hChunkDedup,
    q13iCanonicalDocs, q13jEditdistJoin, q13kSplitLeakage, q13lCdcChunks)
}
