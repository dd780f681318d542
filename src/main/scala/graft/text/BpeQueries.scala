package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.GraftQuery
import graft.Staging.Stageable

/** BPE merge-rule TRAINING as iterative dataflow — the step q12e's
  * BPE-ish tokenizer presupposes: learn the merge table itself from
  * corpus pair statistics (count adjacent symbol pairs weighted by
  * word frequency → take the argmax pair → rewrite every vocabulary
  * entry → repeat). This is how production tokenizer trainers work:
  * ONE corpus-scale aggregation builds the (word, freq) vocabulary,
  * and every training round after that runs at VOCABULARY grain
  * (millions of rows at 100 TB, never the corpus), so the loop's
  * per-round cost is a vocab-grain shuffle + a broadcast 1-row argmax
  * — the pageRank iteration discipline applied to tokenizers.
  *
  * Determinism devices: symbol sequences are UNIT-SEPARATOR-joined
  * strings; the merge rewrite is a left-to-right fold at SYMBOL
  * granularity (see [[mergeSeqCol]]) implemented identically on both
  * engines (Spark `aggregate` over the split sequence; DuckDB
  * `list_reduce`) — greedy non-overlapping, whole-symbol matches
  * only; pair counts are integer SUMs of integer frequencies
  * (order-free); the argmax tie-breaks lexicographically on (count
  * DESC, l ASC, r ASC). The whole k-round chain therefore hash-gates
  * exactly against the unrolled DuckDB twin.
  */
object BpeQueries {

  /** Number of merge rules to learn. */
  val Merges = 6

  /** Symbol delimiter inside a sequence string: US (0x1F) never
    * appears in text tokens (tokens containing it are excluded on
    * both engines — a guard, not an expectation).
    */
  private val US = "\u001f"

  private def roundSql(k: Int): String =
    s"""pairs$k AS (
       |  SELECT l, r, SUM(freq) AS c FROM (
       |    SELECT freq,
       |      unnest(list_transform(range(len(syms) - 1), i -> syms[i + 1])) AS l,
       |      unnest(list_transform(range(len(syms) - 1), i -> syms[i + 2])) AS r
       |    FROM (SELECT freq, string_split(seq, chr(31)) AS syms FROM v${k - 1}))
       |  GROUP BY 1, 2),
       |best$k AS MATERIALIZED (
       |  SELECT l, r, c FROM pairs$k ORDER BY c DESC, l ASC, r ASC LIMIT 1),
       |v$k AS MATERIALIZED (
       |  SELECT word, freq,
       |    list_reduce(string_split(seq, chr(31)), (acc, x) ->
       |      CASE WHEN list_extract(string_split(acc, chr(31)), -1) = b.l
       |                AND x = b.r
       |           THEN left(acc, length(acc) - length(b.l)) || b.l || b.r
       |           ELSE acc || chr(31) || x END) AS seq
       |  FROM v${k - 1}, best$k b)""".stripMargin

  /** One merge round applied at SYMBOL granularity: left-to-right fold
    * over the split sequence, merging when the accumulator's LAST
    * SYMBOL equals l and the incoming symbol equals r. A raw string
    * `replace(seq, l∥US∥r, l∥r)` anchors only the internal separator
    * and false-matches across a symbol boundary once a learned symbol
    * ENDS in l (e.g. [ab, c] under rule (b, c) would fuse to 'abc');
    * the fold compares whole symbols, so that can't happen. The fold
    * is still BPE's greedy non-overlapping order: a just-merged last
    * symbol is l∥r ≠ l, so it can never be the left side of another
    * merge in the same round — exactly the i += 2 skip of the
    * imperative scan (BpeSpec.trainReference pins the equivalence).
    */
  private def mergeSeqCol(seq: Column, l: Column, r: Column): Column =
    array_join(
      aggregate(
        split(seq, US),
        array().cast("array<string>"),
        (acc: Column, x: Column) =>
          when(size(acc) > 0 && element_at(acc, -1) === l && x === r,
            concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
            .otherwise(concat(acc, array(x)))),
      US)

  /** q29 — the learned merge table: (step, merged symbol, corpus pair
    * count). Each row depends on every rewrite before it, so the hash
    * gate covers the full iterative chain, not just round one.
    */
  val q29BpeTrain: GraftQuery = GraftQuery(
    "q29_bpe_train",
    s"""WITH words AS (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w
       |        FROM documents)
       |  WHERE length(w) > 0 AND strpos(w, chr(31)) = 0
       |  GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         list_aggr(list_transform(range(length(word)),
       |                                  i -> word[i + 1][1]),
       |                   'string_agg', chr(31)) AS seq
       |  FROM words),
       |${(1 to Merges).map(roundSql).mkString(",\n")}
       |SELECT * FROM (
       |${(1 to Merges).map(k =>
            s"SELECT CAST($k AS INTEGER) AS step, l || r AS merged, " +
              s"CAST(c AS BIGINT) AS pair_count FROM best$k")
            .mkString("\nUNION ALL\n")}
       |) ORDER BY step""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    // the ONLY corpus-scale pass: word frequencies
    val words = docs
      .select(explode(TextQueries.words($"text")).as("w"))
      .filter(length($"w") > 0 && !$"w".contains(US))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    var vocab = words.select($"w".as("word"), $"freq",
      array_join(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"), US)
        .as("seq"))
      .staged
    var bests = Seq.empty[DataFrame]
    for (k <- 1 to Merges) {
      val pairs = vocab
        .select($"freq", split($"seq", US).as("syms"))
        .select($"freq", explode(expr(
          """zip_with(slice(syms, 1, size(syms) - 1),
            |         slice(syms, 2, size(syms) - 1),
            |         (a, b) -> struct(a AS l, b AS r))""".stripMargin))
          .as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"freq").as("c"))
      // argmax with total tie-break → a deterministic 1-row frame,
      // broadcast onto the vocab for the map-side rewrite
      val best = pairs.orderBy($"c".desc, $"l".asc, $"r".asc).limit(1)
        .staged
      bests = bests :+ best.select(lit(k).as("step"),
        concat($"l", $"r").as("merged"), $"c".as("pair_count"))
      vocab = vocab.crossJoin(broadcast(best))
        .select($"word", $"freq",
          mergeSeqCol($"seq", $"l", $"r").as("seq"))
        .staged
    }
    bests.reduce(_ unionByName _).orderBy($"step")
  }

  /** Re-tokenize the vocabulary with a learned merge table (apply
    * rules in training order — BPE inference at vocab grain). Exposed
    * for the spec's round-trip check.
    */
  def applyMerges(vocab: DataFrame, merges: Seq[(String, String)])
      : DataFrame = {
    merges.foldLeft(vocab) { case (v, (l, r)) =>
      v.withColumn("seq", mergeSeqCol(col("seq"), lit(l), lit(r)))
    }
  }

  val all: Seq[GraftQuery] = Seq(q29BpeTrain)
}
