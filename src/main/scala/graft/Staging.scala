package graft

import org.apache.spark.sql.DataFrame

/** The ONE way library code holds an intermediate: every place the
  * library materializes a multi-consumer frame — the q12y tf grain,
  * q24h's purchase-grain band-join counts, q12k's token-array
  * boundary, the ANN cell assignment, the graph builds and PageRank's
  * per-iteration ranks, connected components' per-round labels, q9j's
  * training and prediction frames, the roundtrip read-backs — routes
  * through [[stage]] so the mechanism is swappable in one line.
  * `src/main` has no `.cache()`/`.persist()` and no memo that keeps a
  * staged frame past the call (SourceHygieneSpec pins both).
  *
  * Lifetime: a staged frame belongs to the call that staged it. It is
  * never stored across calls, so once the caller drops the result,
  * its blocks are reclaimed, and a later call rebuilds from the
  * source instead of reading blocks a lost executor took with it.
  *
  * Current mechanism: EAGER `localCheckpoint`. The contract and its
  * trade, explicitly:
  *
  *  - **Why not cache()**: a library call must not register
  *    session-lifetime state in the CacheManager;
  *    localCheckpoint blocks are reclaimed by the ContextCleaner as
  *    soon as the returned plan becomes unreachable, and the
  *    truncated lineage also caps plan size for iterative consumers
  *    (guide §3.3/§5).
  *  - **Why eager**: a lazy checkpoint materializes inside the FIRST
  *    consumer's job, charging one branch for the shared build and
  *    (for AQE) planning downstream stages before the staged
  *    statistics exist.
  *  - **No partitioning survives**: under AQE a staged frame
  *    reports an unknown partitioning, even when the plan it
  *    materialized ended in a hash exchange, so a consumer that wants
  *    its input clustered by a key gets a fresh exchange. Put that
  *    one exchange in the consuming plan, where every consumer of
  *    the key can share it: q12k repartitions its staged token array
  *    by doc_id once, and all three of its gates aggregate on top.
  *  - **NOT fault-tolerant** (guide §5): lineage is truncated and the
  *    blocks are unreplicated executor-local state — at cluster scale
  *    an executor loss AFTER the checkpoint fails the query instead
  *    of recomputing. Every staged grain in this library is chosen
  *    small relative to its input (distinct-pair tf, purchase-grain
  *    counts, vocabulary grain), so the pinned block-manager
  *    footprint is bounded; the failure-mode trade is accepted for
  *    bounded re-run cost, exactly like a mid-pipeline temp table.
  *  - **Swap points** for deployments that need stronger guarantees,
  *    each a one-line change HERE: `df.checkpoint(eager = true)`
  *    (reliable checkpoint to `spark.sparkContext.setCheckpointDir`
  *    storage — survives executor loss, costs a distributed write),
  *    `df.persist(StorageLevel.MEMORY_AND_DISK_2)` (replicated
  *    blocks — survives single-executor loss, stays recomputable,
  *    but registers in the CacheManager), or an explicit parquet
  *    write + read-back (what a production pipeline does at corpus
  *    scale; Sources.scala's roundtrip operators already measure that
  *    shape).
  */
object Staging {

  /** Materialize `df` now and return a frame whose plan starts at the
    * materialized blocks. See the object doc for the contract.
    */
  def stage(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Chained form: `frame.groupBy(...).agg(...).staged`. */
  implicit class Stageable(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }
}
