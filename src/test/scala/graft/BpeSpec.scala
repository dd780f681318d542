package graft

import org.apache.spark.sql.functions._

import graft.text.BpeQueries

/** BPE merge-rule training: plain-Scala replay of the full training
  * loop on the real corpus, plus planted micro-cases that pin the
  * greedy-overlap and tie-break semantics.
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  /** Reference BPE trainer: driver-side, no Spark, no string-replace
    * tricks — sequences are real Seq[String], merges applied by an
    * explicit left-to-right scan.
    */
  private def trainReference(words: Map[String, Long], merges: Int)
      : Seq[(Int, String, Long)] = {
    var vocab: Map[Seq[String], Long] =
      words.map { case (w, f) => w.map(_.toString) -> f }
    val out = Seq.newBuilder[(Int, String, Long)]
    for (k <- 1 to merges) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.zip(syms.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      // a vocabulary without pairs learns nothing more
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq
          .sortBy { case ((l, r), c) => (-c, l, r) }.head
        out += ((k, l + r, c))
        def mergeSeq(syms: Seq[String]): Seq[String] = {
          val b = collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2 // greedy left-to-right, non-overlapping
            } else { b += syms(i); i += 1 }
          }
          b.toSeq
        }
        vocab = vocab.map { case (syms, f) => mergeSeq(syms) -> f }
      }
    }
    out.result()
  }

  test("q29 merge table equals the plain-Scala trainer on the corpus") {
    val words = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .as[String].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = trainReference(words, BpeQueries.Merges)
    val got = BpeQueries.q29BpeTrain.fn(spark, sfDir)
      .as[(Int, String, Long)].collect().toSeq
    assert(got == expected,
      s"merge tables differ:\n got=$got\n exp=$expected")
  }

  /** q29's trainer and the reference replay on one vocabulary. */
  private def trainBoth(words: Map[String, Long], merges: Int) =
    (BpeQueries.train(words.iterator, merges), trainReference(words, merges))

  test("greedy overlap: (a,a) over 'aaaa' merges twice, 'aaa' once") {
    // 'aaaa' → [aa, aa]; 'aaa' → [aa, a]: the left-to-right
    // non-overlapping rule. Round 1: pair (a,a) count 3+2=5 → 'aa';
    // round 2 over [aa,aa] and [aa,a]: (aa,aa)=1, (aa,a)=1 →
    // tie-break l ASC then r ASC: ("aa","a") wins ("a" < "aa")
    val (got, ref) = trainBoth(Map("aaaa" -> 1L, "aaa" -> 1L), 2)
    assert(got == Seq((1, "aa", 5L), (2, "aaa", 1L)))
    assert(ref == got)
  }

  test("symbol boundary: rule (b,c) must NOT fuse across [ab, c]") {
    // The planted suffix-collision case: after (a,b) is learned,
    // 'abc' is [ab, c]; a later rule (b,c) must not fuse it, since 'b'
    // is only the tail of the symbol 'ab'. r1 (a,b)=9 beats (b,c)=8;
    // r2 (b,c)=5 touches only 'bc'; r3 (ab,c)=3 proves [ab, c]
    // survived r2 un-fused
    val (got, ref) = trainBoth(Map("abc" -> 3L, "ab" -> 6L, "bc" -> 5L), 3)
    assert(got == Seq((1, "ab", 9L), (2, "bc", 5L), (3, "abc", 3L)))
    assert(ref == got)
  }

  test("the trainer learns the scanner/scan/banner merge table") {
    // (a,n)=7 first; the 6-6 tie of (c,an) and (s,c) goes to l='c'
    // < 's'; the 5-5 tie of (e,r) and (n,e) to 'e' < 'n'
    val (got, ref) = trainBoth(
      Map("scanner" -> 4L, "scan" -> 2L, "banner" -> 1L), BpeQueries.Merges)
    assert(got == Seq((1, "an", 7L), (2, "can", 6L), (3, "scan", 6L),
      (4, "er", 5L), (5, "ner", 5L), (6, "scanner", 4L)))
    assert(ref == got)
  }

  test("the trainer stops once no word holds two symbols") {
    assert(BpeQueries.train(Iterator("a" -> 3L, "é" -> 2L, "b" -> 1L), 6).isEmpty)
    // 'scanner' is one symbol after round 6, 'banner' after round 8
    val got = BpeQueries.train(
      Iterator("scanner" -> 4L, "scan" -> 2L, "banner" -> 1L), 20)
    assert(got.map(_._1) == (1 to 8))
    assert(got.drop(6) == Seq((7, "anner", 1L), (8, "banner", 1L)))
  }

  test("a count tie breaks in UTF-8 byte order, as Spark's orderBy does") {
    // U+E000 sorts before U+1F600 in UTF-8 (EE.. < F0..) but after it
    // in Java's UTF-16 order (0xE000 > the 0xD83D high surrogate)
    val (pua, emoji) = ("\uE000", "\uD83D\uDE00")
    assert(pua.compareTo(emoji) > 0)
    val got = BpeQueries.train(Iterator(s"x$pua" -> 1L, s"x$emoji" -> 1L), 1)
    val (l, r, c) = Seq(("x", emoji, 1L), ("x", pua, 1L)).toDF("l", "r", "c")
      .orderBy($"c".desc, $"l".asc, $"r".asc).as[(String, String, Long)].head()
    assert(got == Seq((1, l + r, c)))
    assert(got.head._2 == s"x$pua")
  }

  test("property: the trainer equals trainReference on random vocabularies") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // short words over a 4-symbol BMP alphabet (one and two UTF-8
    // bytes, where UTF-16 and UTF-8 order agree) with skewed
    // frequencies: frequent ties, overlaps and early exhaustion
    val word = Gen.choose(1, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'é')).map(_.mkString))
    val vocab = Gen.mapOfN(10, Gen.zip(word, Gen.choose(1L, 5L)))
    (1 to 24).foreach { i =>
      val words = vocab(Gen.Parameters.default, Seed(i.toLong)).get
      val merges = 1 + i % 8
      val (got, ref) = trainBoth(words, merges)
      assert(got == ref, s"seed $i, $merges merges over $words")
    }
  }
}
