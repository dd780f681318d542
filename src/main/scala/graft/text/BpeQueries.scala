package graft.text

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.queries.GraftQuery

/** BPE merge-rule TRAINING — the step q12e's BPE-ish tokenizer
  * presupposes: learn the merge table itself from corpus pair
  * statistics (count adjacent symbol pairs weighted by word frequency
  * → take the argmax pair → rewrite every vocabulary entry → repeat).
  * ONE corpus-scale aggregation builds the (word, freq) vocabulary in
  * Spark; every training round after it runs at VOCABULARY grain.
  * The rounds form a sequential chain (each argmax reads the previous
  * rewrite), so, as production tokenizer trainers do, they all run in
  * ONE task over the whole vocabulary ([[train]]): its state is
  * O(distinct words) symbol sequences, never the corpus, and a run
  * builds one plan instead of a plan and staged vocabulary per round.
  *
  * Determinism: symbols are code points, as Spark's `substring`
  * splits them; pair counts are integer sums of
  * integer frequencies (order-free); the argmax breaks ties on (count
  * DESC, l ASC, r ASC) with strings in UTF-8 byte order, the order of
  * Spark's `orderBy` and DuckDB's `ORDER BY`; each merge is greedy,
  * left to right, non-overlapping, over whole symbols. The whole
  * k-round chain therefore hash-gates exactly against the unrolled
  * DuckDB twin.
  */
object BpeQueries {

  /** Number of merge rules to learn. */
  val Merges = 6

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

  /** Learns up to `merges` rules from a (word, freq) vocabulary:
    * (step, merged symbol, pair count) per round, in step order. It
    * stops early once no word holds two symbols. Holds the vocabulary's
    * symbol sequences and one round's pair counts in memory.
    */
  def train(vocab: Iterator[(String, Long)], merges: Int): Seq[(Int, String, Long)] = {
    val words = vocab.map { case (w, f) =>
      val u = UTF8String.fromString(w)
      (Array.tabulate(u.numChars)(i => u.substring(i, i + 1)), f)
    }.toArray
    def round(k: Int): Option[(Int, String, Long)] = {
      val counts = mutable.HashMap.empty[(UTF8String, UTF8String), Long]
      for ((syms, f) <- words; i <- 1 until syms.length) {
        val p = (syms(i - 1), syms(i))
        counts(p) = counts.getOrElse(p, 0L) + f
      }
      if (counts.isEmpty) None
      else {
        val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        val lr = UTF8String.concat(l, r)
        words.mapInPlace { case (syms, f) =>
          val b = mutable.ArrayBuilder.make[UTF8String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += lr; i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.result(), f)
        }
        Some((k, lr.toString, c))
      }
    }
    // rounds run in step order, each rewriting `words` for the next
    Iterator.range(1, merges + 1).map(round).takeWhile(_.isDefined).flatten.toSeq
  }

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
    // the ONLY corpus-scale pass: word frequencies. The twin joins
    // symbols with US (0x1F), so both engines drop words holding it.
    Tables(spark, dir).documents
      .select(explode(TextQueries.words($"text")).as("w"))
      .filter(length($"w") > 0 && !$"w".contains("\u001f"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .repartition(1)
      .as[(String, Long)]
      .mapPartitions(vocab => train(vocab, Merges).iterator)
      .toDF("step", "merged", "pair_count")
  }

  val all: Seq[GraftQuery] = Seq(q29BpeTrain)
}
