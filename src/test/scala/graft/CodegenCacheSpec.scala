package graft

/** A graft session compiles each generated class once per JVM:
  * [[GraftConf.tune]] sizes Spark's codegen cache before the first
  * compile, so a query set run again in the same session finds every
  * class it generates already compiled. At Spark's default 100
  * entries the cache evicts within each of its four segments, and the
  * warm pass below recompiles every one of the cold pass's ~130
  * classes; at graft's size it recompiles none of them (0 in each of
  * three runs of 132 cold compiles).
  */
class CodegenCacheSpec extends SparkTestBase {

  // perfbench's corpus_curation set: the curation queries with the
  // most eager staging and rank jobs while their frames are built
  private val corpus = Seq("q29_bpe_train", "q12k_curation_pipeline",
    "q12t_perplexity_buckets", "q28_rfm_segments")

  /** Codegen compiles while the corpus set builds and fully writes its
    * results to the noop sink.
    */
  private def pass(): Long = GraftSession.measure(spark, "corpus pass") {
    corpus.foreach(n => SparkEntry.queries(n)(spark, sfDir)
      .write.format("noop").mode("overwrite").save())
  }._2.compiles

  test("a graft session sizes the codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1024")
  }

  test("a warm pass of the curation set compiles (almost) no class again") {
    val cold = pass()
    val warm = pass()
    assert(cold > 0, "the cold pass compiled nothing: the counter is not counting")
    assert(warm <= 20, s"the warm pass compiled $warm classes (cold pass: $cold)")
  }
}
