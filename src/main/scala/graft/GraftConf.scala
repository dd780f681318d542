package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

/** Engine-level session tuning applied by graft's own mains and test
  * base — explicit and in ONE place, never mutated from inside a
  * query (a query that silently re-configures the session would
  * change unrelated workloads that run after it).
  *
  * The codegen cache: Spark keeps every compiled generated class in
  * one JVM-wide cache of `spark.sql.codegen.cache.maxEntries` entries
  * (default 100). The setting is static, and `CodeGenerator` reads it
  * once per JVM, when it first compiles; a value set later changes
  * nothing. A repeated corpus-curation pass needs about 214 distinct
  * classes and a warehouse load about 85, so at 100 entries every
  * warm pass evicts classes the JIT has already compiled and builds
  * them again — the JIT compiler threads then burn more CPU than the
  * executor tasks. [[tune]] sizes the cache to [[CodegenCacheEntries]]
  * before the first compile in every session graft builds. When
  * something compiled before the first `tune` in the JVM, the cache
  * size is already fixed: `tune` logs one warning and goes on.
  */
object GraftConf {

  /** Guava splits the cache into 4 segments and evicts within each
    * one, so the bound that matters is per segment: 1024 leaves 256
    * slots per segment against the ~54 that corpus curation's ~214
    * classes need, with headroom for the rest of the registry in one
    * long-lived session.
    */
  private val CodegenCacheEntries = 1024

  // set by the first tune in the JVM, which is the only one that can
  // still size the codegen cache
  private val cacheSizeChecked = new AtomicBoolean(false)

  /** Janino compiles in this JVM so far. */
  private[graft] def codegenCompiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Applies every graft setting to `spark`. Run it before the JVM's
    * first query (see the object doc for why the codegen cache needs
    * that); the session settings it makes also hold when it runs late.
    */
  def tune(spark: SparkSession): Unit = {
    if (cacheSizeChecked.compareAndSet(false, true) && codegenCompiles > 0)
      org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
        s"GraftConf.tune ran after $codegenCompiles codegen compiles: the " +
          "codegen cache size of this JVM is already fixed (100 entries unless " +
          "set at launch), so warm passes may recompile generated classes")
    GraftColumnBridge.setStaticConf(spark,
      "spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    // ObjectHashAggregate falls back to SORT-based aggregation after
    // 128 distinct keys per partition (default) — a full sort of the
    // input mass under any typed aggregator. graft's typed aggregators
    // (BoundedList, TopK) hold O(cap) ≈ 500 B buffers, so 128k keys is
    // a ~64 MB/task budget: hash aggregation survives realistic
    // per-partition cardinalities while staying executor-safe. Library
    // users who run LARGE-buffer object aggregations (uncapped
    // collect_list over wide rows) in the same session should size
    // this themselves.
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
    // Member-scale dims (customer/part/supplier) carry NO static
    // broadcast hint — at 100 TB a hinted plan is a driver OOM — so
    // correct dim-join planning DEPENDS on AQE seeing their runtime
    // size and converting to broadcast. AQE defaults on since Spark
    // 3.2, but a session that disabled it would silently shuffle
    // every dim join; force it here.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // Not set: spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold
    // (AQE's runtime SMJ→SHJ rewrite). At 64m it moved none of the
    // SMJ-carrying benched queries beyond ±5 % noise: their sort-merge
    // joins are AQE-broadcast at runtime anyway or sort too little to
    // matter, and at 100 TB the per-partition size guard keeps them
    // sort-merge regardless (OPTIMIZATION_r17.md).
  }
}
