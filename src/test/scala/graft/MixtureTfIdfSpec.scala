package graft

import org.apache.spark.sql.functions._

import graft.text.{MixtureQueries, TfIdfQueries, UnigramQueries}

class MixtureTfIdfSpec extends SparkTestBase {

  test("mixture sample hits min(quota, supply) per source, deterministically") {
    import spark.implicits._
    val docs = Tables(spark, sfDir).documents
    val supply = docs.groupBy($"source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def quota(src: String): Long = 12L * ((src.drop(3).toInt % 4) + 1)

    val out = MixtureQueries.q12pMixtureSample.fn(spark, sfDir)
    val kept = out.groupBy($"source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    supply.foreach { case (src, n) =>
      assert(kept.getOrElse(src, 0L) === math.min(n, quota(src)),
        s"source $src: supply $n, quota ${quota(src)}")
    }
    // rank is dense 1..kept within each stratum and the cut re-runs
    // to the identical doc set (determinism is the operator's point)
    val ranks = out.groupBy($"source")
      .agg(max($"sample_rank").as("mx"), count(lit(1)).as("n"))
      .filter($"mx" =!= $"n").count()
    assert(ranks === 0L, "sample_rank must be dense 1..n per source")
    val again = MixtureQueries.q12pMixtureSample.fn(spark, sfDir)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("mixture sampling never plans a per-stratum window") {
    // the scale claim: ranking rides DistributedRank's range shuffle,
    // not Window.partitionBy(source) (one task per stratum at 100 TB)
    val plan = MixtureQueries.q12pMixtureSample.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"stratum ranking fell back to a window:\n$plan")
  }

  test("weighted sample: top-k by exponential-race key, no global sort") {
    import spark.implicits._
    val df = MixtureQueries.q12qWeightedSample.fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted top-k must plan as TakeOrderedAndProject:\n$plan")
    assert(df.count() === math.min(100L,
      Tables(spark, sfDir).documents.count()))
    // driver-side reference: same key formula over the collected corpus
    val docs = Tables(spark, sfDir).documents
      .select($"doc_id", $"n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long, nc: Long): Double = {
      val hex = md.digest(s"$id|ws".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / 4503599627370497.0
      -math.log(u) / (nc + 1)
    }
    val expect = docs.map { case (id, nc) => (key(id, nc), id) }
      .sorted.take(100).map(_._2).toSet
    val got = df.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expect, "sample must equal the sequential E-S draw")
  }

  test("tfidf emits at most 5 terms per doc, integer-ranked") {
    import spark.implicits._
    val out = TfIdfQueries.q12oTfidfTopk.fn(spark, sfDir).cache()
    try {
      assert(out.groupBy($"doc_id").count().filter($"count" > 5).count() === 0L)
      // the cut keeps the lexicographically-first of the best (tf, df)
      // keys: within a doc no emitted row may be dominated by more
      // than 4 emitted rows (sanity on the rank ordering)
      val bad = out.as("a").join(out.as("b"), $"a.doc_id" === $"b.doc_id")
        .filter($"b.tf" > $"a.tf" ||
          ($"b.tf" === $"a.tf" && $"b.df" < $"a.df") ||
          ($"b.tf" === $"a.tf" && $"b.df" === $"a.df" && $"b.term" < $"a.term"))
        .groupBy($"a.doc_id", $"a.term").count()
        .filter($"count" > 4).count()
      assert(bad === 0L, "an emitted term is dominated by 5 better ones")
      assert(out.filter($"tfidf" < 0).count() === 0L)
    } finally out.unpersist()
  }

  test("unigram xent: one tokenize pass, scores positive and finite") {
    import spark.implicits._
    val df = UnigramQueries.q12rUnigramLogprob.fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // tokenize happens once inside the eager tf checkpoint (tf
    // follows the q12s staging pattern — without it the cf branch
    // relies on AQE exchange reuse, and the THIRD consumer in the
    // q12t composition re-tokenizes); the query plan proper
    // must not re-tokenize for any consumer
    assert("Generate explode".r.findAllIn(plan).length === 0,
      s"a consumer re-tokenized instead of reading staged tf:\n$plan")
    // split("", '\s+') yields one empty token on BOTH engines, so even
    // an empty text produces a scored row — one row per document
    val rows = df.collect()
    assert(rows.length === Tables(spark, sfDir).documents.count())
    // −Σ tf·ln(p)/n over p ≤ cf/T < 1 is strictly positive, and ≤ ln(V)
    // would need the vocab; a loose ln(T) bound still catches nonsense
    val t = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val x = r.getDouble(2)
      assert(x > 0 && x <= math.log(t.toDouble),
        s"doc ${r.getLong(0)}: xent $x outside (0, ln($t)]")
    }
  }

  test("tfidf and xent agree with driver-side references on random corpora") {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "eps")
    val rng = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val docs = (0L until 12L).map { id =>
        val n = 1 + rng.nextInt(9)
        (id, Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length($"text"))
      val dir = java.nio.file.Files
        .createTempDirectory("tfidf_prop").toString
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")

      // reference: per-doc term counts, integer-ranked top-5
      val tfm = docs.map { case (id, t) =>
        id -> t.split("\\s+").groupBy(identity).view.mapValues(_.length).toMap
      }.toMap
      val dfm = tfm.values.flatMap(_.keys).groupBy(identity)
        .view.mapValues(_.size).toMap
      val expectTop = tfm.map { case (id, tfs) =>
        id -> tfs.toSeq
          .map { case (term, tf) => (term, tf, dfm(term)) }
          .sortBy { case (term, tf, d) => (-tf, d, term) }
          .take(5).map(_._1).toSet
      }
      val gotTop = graft.text.TfIdfQueries.q12oTfidfTopk.fn(spark, dir)
        .select($"doc_id", $"term").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
      expectTop.foreach { case (id, terms) =>
        assert(gotTop(id) === terms, s"tfidf top-5 mismatch for doc $id")
      }

      // reference: unigram cross-entropy, summed in term order like the op
      val total = tfm.values.map(_.values.sum).sum.toDouble
      val cf = tfm.values.flatten
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val expectX = tfm.map { case (id, tfs) =>
        val s = tfs.toSeq.sortBy(_._1)
          .foldLeft(0.0) { case (acc, (t, tf)) =>
            acc + tf * math.log(cf(t) / total)
          }
        id -> BigDecimal(-s / tfs.values.sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val gotX = graft.text.UnigramQueries.q12rUnigramLogprob.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      expectX.foreach { case (id, x) =>
        assert(math.abs(gotX(id) - x) < 1e-9, s"xent mismatch for doc $id")
      }
    }
  }

  test("source KL: one tokenize pass, divergences non-negative") {
    import spark.implicits._
    val df = UnigramQueries.q12sSourceKl.fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // tokenize happens once inside the eager tfs checkpoint; the
    // query plan proper must not re-tokenize for any of its three
    // consumers (AQE stage reuse is racy with three — hence staging)
    assert("Generate explode".r.findAllIn(plan).length === 0,
      s"a consumer re-tokenized instead of reading staged tfs:\n$plan")
    val rows = df.collect()
    assert(rows.length ===
      Tables(spark, sfDir).documents.select($"source").distinct().count())
    // Gibbs: KL(p_s ‖ p) ≥ 0, with slack for the 1e-12 fixed-point snap
    rows.foreach { r =>
      assert(r.getDouble(2) >= -1e-9,
        s"source ${r.getString(0)}: negative KL ${r.getDouble(2)}")
    }
  }

  test("perplexity buckets: no per-source window, one tokenize pass, " +
      "terciles partition each source") {
    import spark.implicits._
    val df = UnigramQueries.q12tPerplexityBuckets.fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // per-source ranking rides DistributedRank, never
    // Window.partitionBy(source) — q12p's scale rule. The plan shows
    // the upstream xent plan below the PrefixScan node too, so this
    // also covers it; its tokenize-once pin lives in the q12r test
    // (same shared xentPerDoc helper).
    assert(!plan.contains("Window"),
      s"per-source bucketing fell back to a window:\n$plan")
    // tercile sanity: buckets ∈ {1,2,3}, sizes within 1 per source,
    // and keep ⇔ bucket ≤ 2
    val rows = df.collect().map(r =>
      (r.getString(1), r.getInt(3), r.getBoolean(4)))
    assert(rows.forall { case (_, b, k) => b >= 1 && b <= 3 &&
      k == (b <= 2) })
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val sizes = rs.groupBy(_._2).values.map(_.size)
      assert(sizes.max - sizes.min <= 1,
        s"$src terciles unbalanced: ${rs.groupBy(_._2).view
          .mapValues(_.size).toMap}")
    }
  }

  test("multi-probe IVF plans equi-joins on the cell — no cartesian, " +
      "no cache") {
    val df = graft.text.SimilarityQueries.q14fAnnIvfMultiprobe
      .fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      s"cell probe fell back to a cartesian:\n$plan")
    assert(!plan.contains("InMemoryRelation") &&
      !plan.contains("InMemoryTableScan"),
      s"q14f pinned the corpus:\n$plan")
  }

  test("tfidf tokenizes the corpus once: df branch reuses tf's exchange") {
    val df = TfIdfQueries.q12oTfidfTopk.fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val explodes = "Generate explode".r.findAllIn(plan).length
    assert(explodes === 1,
      s"corpus tokenized $explodes times — df branch must ride " +
        s"ReusedExchange over tf's (doc_id, term) shuffle:\n$plan")
    assert(plan.contains("ReusedExchange"), s"no exchange reuse:\n$plan")
  }

  test("bigram xent: one tokenize pass, matches a driver-side reference") {
    import spark.implicits._
    val df = UnigramQueries.q12xBigramLogprob.fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the bigram explode happens once inside the eager tf checkpoint;
    // the model chain (cb, cu, V) and the scoring join all read the
    // staged frame — the query plan proper must not re-tokenize
    assert("Generate explode".r.findAllIn(plan).length === 0,
      s"a model consumer re-tokenized instead of reading staged tf:\n$plan")
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    // driver-side reference: independent bigram model + score
    val docs = Tables(spark, sfDir).documents
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val bigrams = docs.map { case (id, ws) => id -> ws.zip(ws.drop(1)) }
    val cb = bigrams.flatMap(_._2).groupBy(identity).map {
      case (k, v) => k -> v.size.toLong }
    val cu = cb.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val v = cb.keySet.map(_._2).size
    val expected = bigrams.filter(_._2.nonEmpty).map { case (id, bs) =>
      val tf = bs.groupBy(identity).map { case (k, g) => k -> g.size }
      val n = bs.size.toLong
      // same fold order as the query: sorted (w1, w2)
      val s = tf.toSeq.sortBy(_._1).foldLeft(0.0) { case (acc, (k, f)) =>
        acc + f * math.log((cb(k) + 1).toDouble / (cu(k._1) + v))
      }
      id -> (n, BigDecimal(-s / n).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (n, x)) =>
      assert(n == expected(id)._1, s"doc $id: n_bigrams $n")
      assert(math.abs(x - expected(id)._2) < 1e-9,
        s"doc $id: xent2 $x vs reference ${expected(id)._2}")
    }
    got.values.foreach { case (_, x) => assert(x > 0 && x.isFinite) }
  }
  test("q12y BM25 replays exactly from a driver-side reference") {
    import spark.implicits._
    val got = graft.text.TfIdfQueries.q12yBm25Topk.fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("n_terms_matched")),
        r.getLong(r.fieldIndex("score_q6")),
        r.getInt(r.fieldIndex("rank"))))
      .sortBy(t => (t._1, t._5))
    assert(got.nonEmpty, "no BM25 results at test scale")
    // dense ranks 1..k per query; scores nonincreasing with rank
    got.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._5)
      assert(byRank.map(_._5).toSeq == (1 to byRank.length),
        s"query $q: ranks not dense")
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a._4 > b._4 || (a._4 == b._4 && a._2 < b._2)
        case _ => true
      }, s"query $q: rank order violates (score desc, doc asc)")
      assert(rows.forall(_._2 != q), s"query $q retrieved itself")
    }
    // full first-principles recount in plain Scala
    val docs = Tables(spark, sfDir).documents
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tf: Map[(Long, String), Long] = docs.flatMap { case (id, t) =>
      t.trim.split("\\s+").map(w => (id, w))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val dl: Map[Long, Long] =
      tf.groupBy(_._1._1).map { case (d, m) => d -> m.values.sum }
    val dfm: Map[String, Long] =
      tf.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val n = docs.length.toLong
    val tl = dl.values.sum
    val idf: Map[String, Long] = dfm.collect {
      case (w, df) if 10 * df <= 9 * n =>
        w -> math.floor(math.log(((2.0 * n - 2 * df + 1) /
          (2.0 * df + 1)) + 1.0) * 1e6 + 0.5).toLong
    }
    val queries = docs.map(_._1).filter(_ % 101 == 0)
    val expect = queries.flatMap { q =>
      val qts = tf.keys.filter(_._1 == q).map(_._2).toSet
      val scored = docs.map(_._1).filter(_ != q).flatMap { d =>
        val terms = qts.filter(w => tf.contains((d, w)) && idf.contains(w))
        if (terms.isEmpty) None
        else {
          val score = terms.toSeq.map { w =>
            val t = tf((d, w))
            (idf(w) * 22 * t * tl) / (10 * tl * t + 3 * tl + 9 * dl(d) * n)
          }.sum
          Some((d, terms.size.toLong, score))
        }
      }
      scored.sortBy(x => (-x._3, x._1)).take(5).zipWithIndex.map {
        case ((d, m, sc), i) => (q, d, m, sc, i + 1)
      }
    }.sortBy(t => (t._1, t._5))
    assert(got.toSeq == expect.toSeq,
      s"BM25 mismatch:\n got=$${got.toSeq}\n exp=$${expect.toSeq}")
  }
}
