package graft

/** Cache-neutrality invariant: library queries must not leave
  * session-lifetime entries in the CacheManager. Multi-consumer
  * staging inside an operator materializes via `Staging.stage` (eager
  * `localCheckpoint`; blocks reclaimed by the ContextCleaner when the
  * plan goes unreachable) — never a `.cache()` whose entry outlives
  * the query. This pins the round-7 verdict's last two
  * corpus/member-scale cache pins (q13b postings, q10a/q10b activity)
  * plus the audited small ones (q9b moment row, q9j predictions):
  * at 100 TB a shingle-grain pin evict-thrashes executor storage for
  * the whole session, which is a scale-killer regardless of how fast
  * the first run was.
  */
class CacheSpec extends SparkTestBase {

  private def assertCacheNeutral(name: String)(run: => Unit): Unit = {
    spark.catalog.clearCache()
    run
    run // repeated calls must not accumulate entries either
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$name left entries in the session CacheManager")
  }

  test("q13b postings staging pins no CacheManager entries") {
    assertCacheNeutral("q13b") {
      graft.text.DedupQueries.q13bNgramJaccard.fn(spark, sfDir).collect()
    }
  }

  test("q13f (which re-runs q13b) pins no CacheManager entries") {
    // ConnectedComponents stages every round through Staging.stage,
    // which never touches the CacheManager.
    assertCacheNeutral("q13f") {
      graft.text.DedupQueries.q13fDedupComponents.fn(spark, sfDir).collect()
    }
  }

  test("q10a/q10b activity staging pins no CacheManager entries") {
    assertCacheNeutral("q10a+q10b") {
      graft.analytics.DaxMeasures.q10aRollingActive.fn(spark, sfDir).collect()
      graft.analytics.DaxMeasures.q10bChurned.fn(spark, sfDir).collect()
    }
  }

  test("q13h chunk-grain staging pins no CacheManager entries") {
    assertCacheNeutral("q13h") {
      graft.text.DedupQueries.q13hChunkDedup.fn(spark, sfDir).collect()
    }
  }

  test("q9b moment staging pins no CacheManager entries") {
    assertCacheNeutral("q9b") {
      graft.analytics.AnalyticsQueries.q9bCorrelations.fn(spark, sfDir)
        .collect()
    }
  }
}
