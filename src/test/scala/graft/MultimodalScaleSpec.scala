package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow

/** Decade-up stress for the MULTIMODAL family (relational/corpus:
  * ScaleSpec, streaming: StreamingScaleSpec, graphs/geo: GraphScaleSpec).
  *
  * Two cost shapes exist in this family and each gets its own gate:
  *
  *  1. The map-side decode/hash pass (q16e/f/g/i/l/m profile): media
  *     ×10 by id-shift must reproduce the base features copy-for-copy
  *     with ZERO keyed shuffles in the plan — at 100 TB this family
  *     must stay embarrassingly parallel.
  *  2. The banded-hamming near-dup JOIN (q16j/k) — the family's one
  *     shuffle-bearing op. At ×10 population (ten seed-shifted
  *     corpora, ≈6k fingerprints) the distributed 5-band pigeonhole
  *     join is checked for EXACTNESS against a driver-side
  *     brute-force truth (64-bit popcount over all pairs — feasible
  *     precisely because the spec collects only the fingerprints, not
  *     the media): every hamming-≤4 pair found, none invented,
  *     including any cross-corpus coincidences. Zero disk spill
  *     across both runs (the executor-memory proxy at suite scale).
  */
class MultimodalScaleSpec extends SparkTestBase {
  import spark.implicits._

  private val baseDir = "/root/testdata/sf0.01"
  private val reps = 10
  private val Shift = 10000000L

  test("decode/feature pass at 10x media: copy-exact, zero keyed shuffles") {
    assertNoSpill("pixel features x10") {
      val docs = Tables(spark, baseDir).documents
        .filter($"doc_id" % 10 === 1)
        .select($"doc_id", (lit(2) + pmod($"doc_id", lit(7))).cast("int").as("w"),
          (lit(2) + pmod($"doc_id", lit(5))).cast("int").as("h"))
      val reps10 = docs.crossJoin(
          broadcast(spark.range(reps).select($"id".as("rep"))))
        .select(($"doc_id" + $"rep" * Shift).as("media_id"),
          $"doc_id".as("seed"), $"w", $"h")
      val feats = reps10.as[(Long, Long, Int, Int)]
        .mapPartitions(_.map { case (id, seed, w, h) =>
          MediaRow(id, "image", Multimodal.pngBytes(w, h, seed))
        })
        .mapPartitions(Multimodal.pixelFeatures _)
        .toDF()
      feats.collect() // materialize THIS plan for the shuffle pin
      val plan = feats.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange rangepartitioning"),
        s"map-side family picked up a keyed shuffle at 10x:\n$plan")

      // copy-exactness: strip the shift; all ten copies must collapse
      // to ONE identical feature set, of base cardinality
      val perCopy = feats
        .select(pmod($"media_id", lit(Shift)).as("doc_id"),
          $"n_pixels", $"sum_r", $"sum_g", $"sum_b")
        .distinct()
      val nBase = docs.count()
      assert(feats.count() === nBase * reps)
      assert(perCopy.count() === nBase,
        "a replica's features diverged from its base copy")
    }
  }

  test("banded near-dup join at 10x population: exact vs brute-force truth") {
    val hashed: DataFrame = assertNoSpill("hash pass x10") {
      val docs = Tables(spark, baseDir).documents
        .filter($"doc_id" % 10 === 3).select($"doc_id")
      val base10 = docs.crossJoin(
          broadcast(spark.range(reps).select($"id".as("rep"))))
        .select(($"doc_id" + $"rep" * Shift).as("media_id"),
          // ten genuinely distinct corpora: per-rep seed offset; any
          // cross-corpus near-collision is a legitimate pair and the
          // brute truth below decides it
          ($"doc_id" + $"rep" * 7919363L).as("seed"), $"rep")
      // planted clones per rep (the q16j device) keep the truth set
      // non-vacuous: same seed re-inserted at a disjoint id range
      val reps10 = base10.unionByName(
          base10.filter(pmod($"media_id", lit(3)) === 0)
            .withColumn("media_id", $"media_id" + 5000000L))
        .drop("rep")
      reps10.as[(Long, Long)]
        .mapPartitions(_.map { case (id, seed) =>
          MediaRow(id, "image", Multimodal.pngBytes(8, 8, seed))
        })
        .mapPartitions(Multimodal.aHash64 _)
        .toDF().localCheckpoint(true)
    }

    val got = assertNoSpill("banded join x10") {
      Multimodal.hammingPairs(hashed)
        .as[(Long, Long, Int)].collect().toSet
    }

    // driver-side brute truth on the fingerprints alone
    val fp = hashed.as[(Long, String)].collect()
      .map { case (id, s) => (id, java.lang.Long.parseUnsignedLong(s, 2)) }
    val nBase = Tables(spark, baseDir).documents
      .filter($"doc_id" % 10 === 3).count()
    assert(fp.length.toLong >= nBase * reps,
      s"x10 population unexpectedly small: ${fp.length} vs base $nBase x $reps")
    val want = (for {
      i <- fp.indices.iterator
      j <- (i + 1) until fp.length
      d = java.lang.Long.bitCount(fp(i)._2 ^ fp(j)._2)
      if d <= 4
    } yield {
      val (a, b) = if (fp(i)._1 < fp(j)._1) (fp(i)._1, fp(j)._1)
                   else (fp(j)._1, fp(i)._1)
      (a, b, d)
    }).toSet
    assert(want.nonEmpty, "brute truth found no pairs — vacuous gate")
    assert(got === want,
      s"banded join diverges from brute truth: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }
}
