package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents
import graft.queries.GraftQuery
import graft.text.{DedupQueries, KMeansQueries, SimilarityQueries, TfIdfQueries}

/** Decade-up scale probe for the scale-critical extension families.
  * For each factor f it builds an f-times corpus from disjoint shards
  * of the base data, runs each family's timed query under
  * [[GraftSession.measure]] (a query's whole result, produced by
  * [[GraftSession.materialize]]), then measures the family's candidate
  * structure outside the timing window from the query's own building
  * blocks. Adjacent factors are compared through a growth exponent
  * ln(m₂/m₁) / ln(f₂/f₁) for every numeric key (1.0 = linear, 0 =
  * constant).
  *
  * Families (one row each in [[families]]):
  *   - q13c MinHash-LSH dedup: candidate mass = Σ C(|bucket|, 2) over
  *     the band buckets ([[DedupQueries.minhashBandRows]]);
  *   - q12y BM25 retrieval: candidate mass = scored (query, doc) pairs
  *     before the top-5 cut ([[TfIdfQueries.bm25Scored]]);
  *   - q13b n-gram Jaccard: candidate mass = Σ C(|capped posting|, 2)
  *     over the shingle inverted index ([[DedupQueries.cappedPostings]]);
  *   - q13f connected components over q13b's pairs: propagation
  *     ROUNDS must stay constant — a growing near-dup corpus multiplies
  *     components, not diameters;
  *   - q14c IVF ANN: ivfK pins the mean cell near 128 vectors, so the
  *     probe mass of the fixed vec_id < 50 query batch must saturate
  *     (exponent → 0) while the assignment shuffle stays linear;
  *   - q13d SimHash: the 16-bit fan-out is a constant factor, so
  *     shuffle records must stay ~linear in corpus tokens;
  *   - q14h k-means step: the argmin is a fold over a broadcast
  *     centroid array, so shuffle records grow ~linearly in N, never
  *     ~N·k, and spill stays zero.
  *
  * Corpus models. Documents: replica r shifts doc_ids by r·[[DocShift]]
  * and prefixes every whitespace token with a replica tag, so shingle
  * and term identity is replica-local — the honest model of a GROWING
  * corpus, under which per-document near-dup and term-collision rates
  * stay constant and a correctly bucketed candidate generator grows
  * ~linearly. Identical-text replication would instead measure a
  * duplication flood (k copies of one doc are C(k,2) pairs under any
  * LSH), the axis ScaleSpec's exact-×10 q13a algebra pins. Embeddings:
  * replica r applies an ISOMETRY of R^d — a circular dimension shift
  * by r composed with per-dimension sign flips from hash(r, i) — so
  * each shard keeps the base corpus's intra-shard neighbour structure
  * exactly while cross-shard similarities are pseudo-random new
  * content. Replica 0 is the identity in both models, so factor 1
  * reproduces the base corpus and the factor sequence is
  * self-consistent.
  *
  * Usage: ScaleProbe [family,...]   (default: every family)
  * Env: SPARK_GRAFT_SCALE_BASE (default: the sf0.01 test data),
  *      SPARK_GRAFT_SCALE_FACTORS (default 1,10,100), SPARK_GRAFT_CPUS.
  * Prints one `{"probe":"scale",...}` line per factor and one
  * `{"probe":"exponents",...}` line per adjacent factor pair, each
  * with one object per family.
  */
object ScaleProbe {

  /** Doc-id shift per replica: divisible by 101 (q12y's query rule), 7
    * (the dedup plants) and 12 (q12v's moduli), and far above every
    * base id plus the 1e6 plant offset, so replica id ranges stay
    * disjoint and every deterministic doc_id rule replicates exactly.
    */
  private[graft] val DocShift = 84840000L
  private val VecShift = 10000000L

  private type Keys = Seq[(String, Any)]

  /** A shard input: the reader of the table it writes, the key its row
    * count prints under, and the writer of its replicas (spark, base
    * dir, factor, out dir).
    */
  private final case class Shard(read: (SparkSession, String) => DataFrame,
      sizeKey: String, build: (SparkSession, String, Int, String) => Unit)
  private val Docs = Shard(docs, "docs", buildShards)
  private val Emb = Shard(vecs, "vecs", buildEmbShards)

  /** One probed family: the shards it reads, the timed query, and the
    * measurement taken after the timing window. `timed` builds any
    * input the window must not charge and returns the body it times;
    * that body returns the family's result counts.
    */
  private final case class Family(
      name: String,
      shards: Seq[Shard],
      timed: (SparkSession, String) => () => Keys,
      mass: Option[(SparkSession, String) => Keys] = None)

  private def rows(key: String, q: GraftQuery)(spark: SparkSession, dir: String): () => Keys =
    () => Seq(key -> GraftSession.materialize(q.fn(spark, dir)))
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documentsNoFanOut
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddingsNoFanOut
  private def pairs13b(spark: SparkSession, dir: String): DataFrame =
    DedupQueries.q13bNgramJaccard.fn(spark, dir).select("doc_a", "doc_b")

  private val families: Seq[Family] = Seq(
    Family("q13c", Seq(Docs), rows("pairs", DedupQueries.q13cMinhashLsh),
      Some { (spark, dir) =>
        val b = DedupQueries.minhashBandRows(spark, docs(spark, dir))
          .groupBy("band_idx", "band_val").agg(count(lit(1)).as("c"))
          .agg(sum(expr("c * (c - 1) div 2")), max("c")).head()
        Seq("cand_mass" -> b.getLong(0), "max_bucket" -> b.getLong(1))
      }),
    Family("q12y", Seq(Docs), rows("rows", TfIdfQueries.q12yBm25Topk),
      Some { (spark, dir) =>
        val s = TfIdfQueries.bm25Scored(spark, docs(spark, dir))
          .agg(count(lit(1)), countDistinct("query_id")).head()
        Seq("cand_mass" -> s.getLong(0), "queries" -> s.getLong(1))
      }),
    Family("q13b", Seq(Docs), rows("pairs", DedupQueries.q13bNgramJaccard),
      Some { (spark, dir) =>
        val p = DedupQueries.cappedPostings(spark, docs(spark, dir))
          .select(size(col("ds")).cast("long").as("k"))
          .agg(sum(expr("k * (k - 1) div 2")), max("k")).head()
        Seq("cand_mass" -> p.getLong(0), "max_posting" -> p.getLong(1))
      }),
    // the window times the propagation alone: q13b's eager staging
    // runs while its frame is built, and the component count re-runs
    // the propagation afterwards
    Family("q13f", Seq(Docs),
      (spark, dir) => {
        val pairs = pairs13b(spark, dir)
        () => {
          val (labels, rounds) = ConnectedComponents.componentsWithRounds(pairs)
          Seq("rounds" -> rounds, "vertices" -> labels.count())
        }
      },
      Some { (spark, dir) =>
        Seq("components" -> ConnectedComponents.components(pairs13b(spark, dir))
          .select(countDistinct("component")).head().getLong(0))
      }),
    Family("q14c", Seq(Emb), rows("rows", SimilarityQueries.q14cAnnIvf),
      Some { (spark, dir) =>
        val emb = vecs(spark, dir)
        val k = SimilarityQueries.ivfK(emb.count())
        val v = emb.select(col("vec_id"), col("embedding"),
            graft.functions.VectorOps.norm2(col("embedding")).as("n2"))
          .filter(col("n2") > 0)
        val c = SimilarityQueries.assignCells(v, k).groupBy("cell")
          .agg(count(lit(1)).as("csz"),
            sum(when(col("vec_id") < 50, 1L).otherwise(0L)).as("nq"))
          .agg(sum(col("nq") * (col("csz") - 1)), max("csz"), avg("csz"))
          .head()
        Seq("k" -> k, "query_probe_mass" -> c.getLong(0),
          "max_cell" -> c.getLong(1), "mean_cell" -> c.getDouble(2))
      }),
    Family("q13d", Seq(Docs), rows("rows", DedupQueries.q13dSimhash)),
    Family("q14h", Seq(Emb), rows("rows", KMeansQueries.q14hKmeansStep),
      Some((spark, dir) => Seq("k" -> SimilarityQueries.ivfK(vecs(spark, dir).count())))))

  private[graft] def buildShards(
      spark: SparkSession, base: String, factor: Int, out: String): Unit = {
    import spark.implicits._
    val replicas = spark.range(factor).select($"id".as("rep"))
    docs(spark, base).crossJoin(broadcast(replicas))
      .withColumn("doc_id", $"doc_id" + $"rep" * DocShift)
      .withColumn("text", array_join(
        transform(graft.text.TextQueries.words($"text"),
          t => concat(lit("r"), $"rep".cast("string"), lit("~"), t)),
        " "))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** vec_id += rep·VecShift, y_i = s(rep,i) · x_((i+rep) mod d) with
    * s = ±1 from hash(rep, i); identity at rep 0.
    */
  private[graft] def buildEmbShards(
      spark: SparkSession, base: String, factor: Int, out: String): Unit = {
    import spark.implicits._
    val emb = vecs(spark, base)
    val d = emb.select(size($"embedding")).head().getInt(0)
    val replicas = spark.range(factor).select($"id".as("rep"))
    emb.crossJoin(broadcast(replicas))
      .withColumn("embedding",
        when($"rep" === 0, $"embedding").otherwise(
          transform(sequence(lit(0), lit(d - 1)), i =>
            (when(pmod(hash($"rep", i), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f)) *
              element_at($"embedding", (pmod(i + $"rep", lit(d)) + 1)
                .cast("int"))).cast("float"))))
      .withColumn("vec_id", $"vec_id" + $"rep" * VecShift)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** Keys nest as objects, doubles round to 3 places, NaN is null. */
  private def json(v: Any): String = v match {
    case kv: Seq[(String, Any)] @unchecked =>
      kv.map { case (k, x) => s""""$k":${json(x)}""" }.mkString("{", ",", "}")
    case d: Double => if (d.isNaN) "null" else r3(d).toString
    case s: String => "\"" + s + "\""
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.01")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val selected = args.headOption.fold(families) { a =>
      val names = GraftSession.selection(a, families.map(_.name), "families")
      families.filter(f => names.contains(f.name))
    }
    val shards = selected.flatMap(_.shards).distinct
    val spark = GraftSession.session()

    // warm codegen/JIT on the base corpus so factor-1 walls aren't
    // charged JVM startup
    selected.foreach(_.timed(spark, base)())

    val results: Seq[(Int, Seq[(String, Keys)])] = factors.map { n =>
      val tmp = Files.createTempDirectory(s"graft-scale-x$n")
      val dir = tmp.toString
      shards.foreach(_.build(spark, base, n, dir))
      val sizes = shards.map(s =>
        s.sizeKey -> s.read(spark, dir).count())
      val measured = selected.map { f =>
        val body = f.timed(spark, dir)
        val (keys, m) = GraftSession.measure(spark, f.name)(body())
        f.name -> (keys ++ Seq("wall_sec" -> m.wallS,
          "shuffle_bytes" -> m.shuffleWriteBytes,
          "shuffle_records" -> m.shuffleWriteRecords,
          "spill_bytes" -> m.diskSpill) ++
          f.mass.toSeq.flatMap(_(spark, dir)))
      }
      FileUtils.deleteDirectory(tmp.toFile)
      println(json(Seq("probe" -> "scale", "base" -> base, "factor" -> n) ++
        sizes ++ measured))
      n -> measured
    }

    results.sliding(2).filter(_.size == 2).foreach { case Seq((fa, a), (fb, b)) =>
      val exps = a.zip(b).map { case ((name, ka), (_, kb)) =>
        name -> ka.zip(kb).collect {
          case ((k, x: Number), (_, y: Number)) =>
            k -> (if (x.doubleValue <= 0 || y.doubleValue <= 0) Double.NaN
              else math.log(y.doubleValue / x.doubleValue) / math.log(fb.toDouble / fa))
        }
      }
      println(json(Seq("probe" -> "exponents", "from" -> fa, "to" -> fb) ++ exps))
    }
    spark.stop()
  }
}
