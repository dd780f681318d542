package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the harness testdata parquet (TESTDATA.md).
  *
  * One accessor per table; plain `spark.read.parquet` so Catalyst's
  * datasource V2 scan handles column pruning + filter pushdown — at
  * 100 TB these scans are partition-pruned parquet reads, and every
  * query below should show `PushedFilters`/narrow `ReadSchema` in
  * `.explain("formatted")`.
  */
final class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  // The relational facts do NOT fan out: their queries are
  // filter→partial-agg→shuffle shapes where map-side combine collapses
  // the data before any exchange, and an up-front round-robin exchange
  // (written single-threaded by the one scan task) costs more than the
  // serialized partial agg it parallelizes — measured +0.5 s/query
  // across the whole headline set at sf0.1. CPU-heavy consumers that
  // DO need parallel compute over these tables fan out at their own
  // entry points (e.g. ProfileQueries.profile).
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** events.parquet's `ts` physical type has drifted across harness
    * testdata generations: TIMESTAMP(NANOS) (read as LONG via the
    * legacy nanosAsLong conf that [[GraftConf.tune]] sets — Spark's
    * vectorized reader rejects nanos),
    * then TIMESTAMP_MICROS with isAdjustedToUTC=false (read as
    * timestamp_ntz). Normalize every variant to a session-TZ TIMESTAMP
    * (session TZ is pinned UTC in GraftSession) so downstream
    * `window()`/`unix_micros`/interval arithmetic is stable:
    *  - LongType        → epoch nanos; integer `div` 1000 (nanos ≈
    *    1.7e18 exceed double precision) → timestamp_micros
    *  - TimestampNTZType → cast to TimestampType (UTC session → same
    *    wall-clock instant, zero-cost)
    *  - TimestampType   → pass through
    */
  def events: DataFrame = Tables.fanOut(Tables.normalizeEventsTs(t("events")))
  def documents: DataFrame  = Tables.fanOut(t("documents"))
  /** documents WITHOUT the conditional fan-out — for multi-stage
    * pipelines (q12k) whose cost at small SF is stage scheduling, not
    * per-byte CPU: their heavy stages run on post-shuffle (AQE-
    * coalesced) partitioning anyway, so fanning the scan only adds an
    * exchange and 32-task map stages ahead of every consumer. At
    * 100 TB the scan carries >= cores partitions by itself and the
    * two accessors are identical.
    */
  def documentsNoFanOut: DataFrame = t("documents")
  /** embeddings without the fan-out, same reasoning as
    * [[documentsNoFanOut]]: the IVF probe queries' (q14f/q14g)
    * per-vector map work is a few μs/row, so at small SF the
    * round-robin exchange plus the 32-task stages it prepends cost
    * more than they parallelize (measured on an idle box). Heavy
    * embedding consumers (q14j covariance/PCA) keep the fanned
    * accessor — measured there the fan-out wins 4×.
    */
  def embeddingsNoFanOut: DataFrame = t("embeddings")
  def embeddings: DataFrame = Tables.fanOut(t("embeddings"))
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Fan a coarse scan out to the session's full parallelism — and ONLY
    * then. The harness testdata is written as single-row-group parquet,
    * so every scan yields ONE partition and any CPU-heavy derivation
    * (shingling, tokenizing, profiling) runs single-threaded in the
    * scan's stage. A conditional round-robin repartition splits the
    * stage: the 1-task scan stays cheap, the compute fans across all
    * cores. At 100 TB the scan already has >= cores partitions and
    * this is a NO-OP — no shuffle is added to a well-partitioned read.
    * The partition-count probe plans the scan on the driver on every
    * call (it lists files and runs no job).
    */
  def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Normalize an events frame's `ts` to session-TZ TIMESTAMP whatever
    * on-disk generation it came from (see `Tables.events` Scaladoc).
    * Shared by the batch reader and the streaming specs so batch and
    * `readStream` paths can never diverge on the conversion.
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — testdata schema drifted again; update Tables.normalizeEventsTs")
    }
  }
}
