package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge

import graft.functions.{NGramExpressions, NormalizeText, VectorExpressions}
import graft.operators.PrefixScanStrategy

/** THE session extension for the graft engine — registers everything
  * the library adds to a Spark session in one place:
  *
  *  - SQL functions: `graft_dot`, `graft_norm2` (native codegen
  *    vector expressions, [[graft.functions.VectorExpressions]]),
  *    `graft_ngrams`, and `graft_nfc` / `graft_nfkc` Unicode
  *    normalization ([[graft.functions.NormalizeText]])
  *  - planner strategy: [[graft.operators.PrefixScanStrategy]] (the
  *    `PrefixScan` node behind PrefixSum and DistributedRank)
  *
  * It adds no optimizer rule: what a query needs rewritten it writes
  * as Columns (`Geo.withinRadiusKm` composes its bounding box), so no
  * plan depends on whether the session ran an install first.
  *
  * Wire-up:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  *
  * For sessions graft did not build (the harness driver's), call
  * [[GraftExtensions.install]] — idempotent post-hoc registration via
  * the live FunctionRegistry + `spark.experimental`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => PrefixScanStrategy)
  }
}

object GraftExtensions {
  private val functions = Seq(VectorExpressions.dotDescriptor, VectorExpressions.norm2Descriptor,
    NGramExpressions.ngramsDescriptor, NormalizeText.nfcDescriptor, NormalizeText.nfkcDescriptor)

  /** Registers the extension set on a live session. Idempotent, and
    * atomic across threads: the function registrations and the append
    * to `extraStrategies` are check-then-write, so concurrent callers
    * on a fresh session could otherwise duplicate an append.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val reg = GraftColumnBridge.functionRegistry(spark)
    functions.foreach { case (ident, info, builder) =>
      if (!reg.functionExists(ident)) reg.registerFunction(ident, info, builder)
    }
    // spark.experimental is the public post-hoc seam for planner
    // strategies on an already-built session
    val x = spark.experimental
    if (!x.extraStrategies.contains(PrefixScanStrategy)) x.extraStrategies :+= PrefixScanStrategy
  }
}
