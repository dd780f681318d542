package graft

/** Job-count ratchet for perfbench's corpus_curation set (and q12r,
  * which shares q12t's cross-entropy plan): each query's build and
  * action jobs at `sfDir`, as [[Bench.run]] counts them through
  * [[GraftSession.measure]], stay at or under a pinned bound. Most of
  * this set's CPU per pass is Spark's fixed cost per job, stage and
  * task, so a job count is the deterministic face of that cost. A
  * bound may only fall: a change that cuts a query's jobs lowers its
  * pin here.
  */
class CorpusJobsSpec extends SparkTestBase {

  // query -> (build jobs, action jobs)
  private val bounds = Seq(
    "q29_bpe_train" -> (0, 4),
    "q12k_curation_pipeline" -> (3, 7),
    "q12t_perplexity_buckets" -> (3, 9),
    "q12r_unigram_logprob" -> (3, 6),
    "q28_rfm_segments" -> (0, 9))

  bounds.foreach { case (name, (build, action)) =>
    test(s"$name builds in at most $build jobs and writes its result in at most $action") {
      val r = Bench.run(spark, sfDir, name).getOrElse(fail(s"$name failed"))
      assert(r.build.jobs <= build && r.action.jobs <= action,
        s"$name ran ${r.build.jobs} build and ${r.action.jobs} action jobs")
    }
  }
}
