package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.GraftQuery
import graft.Staging.Stageable

/** Exact heavy hitters over a token-pair stream via the two-pass
  * sketch-then-recount pattern (no reference analogue — LLM-pipeline
  * extension: corpus-frequency floors for boilerplate phrase mining
  * and tokenizer-vocabulary seeding need "every pair above phi of the
  * stream", exactly).
  *
  * Pass 1 aggregates the whole stream through the mergeable
  * Misra–Gries sketch ([[graft.functions.MisraGries]], capacity
  * [[MgCapacity]]) — ONE scan with map-side combine whose state is k
  * counters per partition, never a per-key hash table over the
  * stream's full key space. Its ≤ k candidate keys provably contain
  * every item with frequency > n/(k+1); with the threshold at
  * n/[[PhiInv]] > n/(k+1), no true heavy hitter can be missed.
  * Pass 2 recounts ONLY the candidates (array_contains against the
  * broadcast 1-row candidate frame) and keeps keys whose exact count
  * clears the integer threshold cnt·[[PhiInv]] > n — both engines
  * compare pure integers; `share` is a rounded VALUE column.
  *
  * At 100 TB the full-key-space GROUP BY of the oracle twin is a
  * corpus-scale shuffle, while this plan shuffles k≤32 candidate
  * partial counts per partition in pass 2 and nothing per-key in
  * pass 1 — that asymmetry is the point of the operator.
  */
object HeavyHitterQueries {

  /** Consecutive-token bigrams through the codegen'd
    * [[graft.functions.WordNGrams]] expression (r17 optimization: the
    * `zip_with(slice, slice, concat)` HOF form evaluated an
    * interpreted lambda with boxed lookups per bigram — on the two
    * full-stream passes q12v/q12z pay BY DESIGN, the tokenizer is the
    * hot loop). Output strings are identical: split() never yields
    * NULL tokens, so concat_ws ≡ concat, and <2 tokens → empty array
    * on both forms. Same device as q12a's bigram stats
    * (CurationQueries) and the q13 shingle path.
    */
  private def bigrams(w: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.WordNGrams(
        org.apache.spark.sql.GraftColumnBridge.expression(w), 2))

  /** Sketch capacity: guarantees candidates cover every key above
    * n/33 of the stream — comfortably below the 1/[[PhiInv]] output
    * threshold.
    */
  val MgCapacity = 32

  /** Output threshold denominator: heavy hitter = count·20 > n,
    * i.e. share > 5%.
    */
  val PhiInv = 20

  /** Planted hot keys: (key, doc_id modulus, copies per qualifying
    * doc). The organic bigram space (~31² near-uniform keys, each
    * ≈0.1% of the stream) has no heavy hitters, so the positives are
    * planted deterministically: mod-2 and mod-3 plants clear the 5%
    * bar, the mod-4 plant lands near 1.6% — a candidate the exact
    * recount must reject.
    */
  private val Plants = Seq(
    ("__hot_mod2__", 2, 8),
    ("__hot_mod3__", 3, 10),
    ("__hot_mod4__", 4, 4))

  /** Consecutive-token-pair stream + planted hot keys, as a single
    * string column `bg`.
    */
  private def stream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val organic = docs
      .withColumn("w", TextQueries.words($"text"))
      .select(explode(bigrams(col("w"))).as("bg"))
    Plants.foldLeft(organic) { case (acc, (key, m, copies)) =>
      acc.unionByName(docs.filter($"doc_id" % m === 0)
        .select(explode(array_repeat(lit(key), copies)).as("bg")))
    }
  }

  private val streamSql: String = {
    val plants = Plants.map { case (key, m, copies) =>
      s"""SELECT '$key' AS bg
         |FROM documents, (SELECT unnest(range($copies)))
         |WHERE doc_id % $m = 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT unnest(list_transform(range(len(w) - 1),
       |                             i -> w[i + 1] || ' ' || w[i + 2])) AS bg
       |FROM (SELECT string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
       |      FROM documents)
       |UNION ALL
       |$plants""".stripMargin
  }

  /** q12v — exact >5% heavy hitters of the bigram stream. */
  val q12vHeavyHitters: GraftQuery = GraftQuery(
    "q12v_heavy_hitters",
    s"""WITH bg AS ($streamSql),
       |tot AS (SELECT COUNT(*) AS n FROM bg)
       |SELECT bg AS bigram,
       |       CAST(COUNT(*) AS BIGINT) AS cnt,
       |       ROUND(CAST(COUNT(*) AS DOUBLE) / n, 6) AS share
       |FROM bg, tot
       |GROUP BY bg, n
       |HAVING COUNT(*) * $PhiInv > n""".stripMargin) { (spark, dir) =>
    heavyHitters(spark, stream(Tables(spark, dir).documents), col("bg"))
  }

  /** The reusable operator: exact items of `key` whose count clears
    * count·[[PhiInv]] > n, via MG candidates + filtered recount. The
    * input is scanned twice (sketch pass, recount pass) — inherent to
    * exact two-pass heavy hitters and linear, unlike a full-key-space
    * aggregation which shuffles every distinct key.
    */
  def heavyHitters(spark: SparkSession, in: DataFrame, key: Column)
      : DataFrame = {
    import spark.implicits._
    val mg = udaf(graft.functions.MisraGries.MgAggregator(MgCapacity),
      org.apache.spark.sql.Encoders.STRING)
    val keyed = in.select(key.as("bg"))
    val pass1 = keyed.agg(mg($"bg").as("cands"), count(lit(1)).as("n"))
    keyed.crossJoin(broadcast(pass1))
      .filter(array_contains($"cands", $"bg"))
      .groupBy($"bg", $"n")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * PhiInv > $"n")
      .select($"bg".as("bigram"), $"cnt",
        round($"cnt".cast("double") / $"n", 6).as("share"))
  }

  /** Count–min sketch geometry: [[CmDepth]] independent hash rows ×
    * [[CmWidth]] buckets. Width 256 against the ~31² organic bigram
    * key space gives a load factor ≈3.8 — real collisions, so the
    * audit exercises the sketch property (estimate ≥ exact, tightened
    * by min-over-rows) instead of degenerating to the identity.
    */
  val CmDepth = 4
  val CmWidth = 256L

  /** q12z — count–min sketch frequency estimation over the bigram
    * stream, audited against the exact counts. The OTHER half of the
    * sketch toolbox next to Misra–Gries (q12v): MG answers "which keys
    * are heavy", CMS answers "how often is THIS key seen" from
    * O(d·w) = 1024 integers of mergeable state — at 100 TB the grid is
    * built in ONE scan whose shuffle carries at most d·w cells per
    * partition (map-side combined), while any exact per-key answer
    * shuffles the full key space. Bucket hashes are the md5 device
    * (`row|key` → first 13 hex digits → mod w), identical integers on
    * both engines, so estimates — unlike most sketches — hash-gate
    * EXACTLY rather than via tolerance verdicts.
    *
    * Output per distinct bigram: exact count, CMS estimate (min over
    * [[CmDepth]] row counters), and the non-negative overcount the
    * collisions added.
    */
  val q12zCountMin: GraftQuery = GraftQuery(
    "q12z_countmin",
    s"""WITH bg AS (
       |  SELECT unnest(list_transform(range(len(w) - 1),
       |                               i -> w[i + 1] || ' ' || w[i + 2])) AS bg
       |  FROM (SELECT string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
       |        FROM documents)),
       |cells AS (
       |  SELECT r,
       |         CAST(('0x' || SUBSTR(md5(CAST(r AS VARCHAR) || '|' || bg),
       |                              1, 13)) AS BIGINT) % $CmWidth AS b,
       |         CAST(COUNT(*) AS BIGINT) AS c
       |  FROM bg, (SELECT unnest(range($CmDepth)) AS r)
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT bg, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM bg GROUP BY 1),
       |probes AS (
       |  SELECT bg, exact_cnt, r,
       |         CAST(('0x' || SUBSTR(md5(CAST(r AS VARCHAR) || '|' || bg),
       |                              1, 13)) AS BIGINT) % $CmWidth AS b
       |  FROM exact, (SELECT unnest(range($CmDepth)) AS r))
       |SELECT p.bg AS bigram, p.exact_cnt AS exact_cnt,
       |       MIN(c.c) AS cms_est,
       |       MIN(c.c) - p.exact_cnt AS overcount
       |FROM probes p JOIN cells c ON p.r = c.r AND p.b = c.b
       |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val bg = docs
      .withColumn("w", TextQueries.words($"text"))
      .select(explode(bigrams(col("w"))).as("bg"))
    def bucket(key: Column, r: Int): Column =
      conv(substring(md5(concat(lit(r.toString), lit("|"), key)), 1, 13),
        16, 10).cast("long") % CmWidth
    // Exact per-key counts: the ONE corpus pass (this query computes
    // them anyway — they are the audit's ground truth). Staged once
    // (eager localCheckpoint, distinct-bigram grain ≪ stream grain):
    // two consumers below.
    val exact = bg.groupBy($"bg").agg(count(lit(1)).as("exact_cnt"))
      .staged
    // Grid build DERIVED from the exact counts instead of a second
    // full-stream pass (r17): the count of stream occurrences landing
    // in cell (r, b) is exactly the sum of exact_cnt over the keys
    // hashing there — a partition-of-multiset identity, so `c` is
    // bit-identical to the twin's stream-grain COUNT(*). This removes
    // the second tokenize+explode of the corpus AND moves the d-way
    // bucket fan-out from stream grain to vocabulary grain. (q12v's
    // MG pass cannot do this — its whole point is never materializing
    // the key space; HERE the key space is materialized by design.)
    val cells = exact
      .select($"exact_cnt", posexplode(array((0 until CmDepth).map(r =>
        bucket($"bg", r)): _*)).as(Seq("r", "b")))
      .groupBy($"r", $"b").agg(sum($"exact_cnt").as("c"))
    val probes = exact
      .select($"bg", $"exact_cnt", posexplode(array((0 until CmDepth).map(r =>
        bucket($"bg", r)): _*)).as(Seq("r", "b")))
    probes.join(broadcast(cells), Seq("r", "b"))
      .groupBy($"bg", $"exact_cnt")
      .agg(min($"c").as("cms_est"))
      .select($"bg".as("bigram"), $"exact_cnt", $"cms_est",
        ($"cms_est" - $"exact_cnt").as("overcount"))
  }

  val all: Seq[GraftQuery] = Seq(q12vHeavyHitters, q12zCountMin)
}
