package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampType}

/** The star schema over the testdata parquet (TESTDATA.md). Every
  * accessor reads under the declared [[Tables.schema]], so a table
  * access plans the scan and runs no schema-inference job; Catalyst
  * still prunes columns and pushes filters (`PushedFilters`/narrow
  * `ReadSchema` in `.explain("formatted")`). A column stored under
  * another physical type fails on read with Spark's `FAILED_READ_FILE`
  * error naming the file and column. A declared column the file lacks
  * reads as NULL, as in any declared-schema read; `TablesSpec`, which
  * compares the declaration with every local data set's footers, is
  * the guard.
  */
final class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.schema(Tables.schema(name)).parquet(s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  // The relational facts do NOT fan out: their filter→partial-agg→
  // shuffle shapes collapse the data map-side before any exchange, and
  // an up-front round-robin exchange costs more than the partial agg it
  // parallelizes (+0.5 s/query across the headline set at sf0.1).
  // CPU-heavy consumers fan out at their own entry points.
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def events: DataFrame = Tables.fanOut(Tables.normalizeEventsTs(t("events")))
  def documents: DataFrame  = Tables.fanOut(t("documents"))
  /** documents WITHOUT the fan-out, for multi-stage pipelines (q12k)
    * whose heavy stages run on post-shuffle partitioning anyway: at
    * small SF fanning the scan only adds an exchange and 32-task map
    * stages. At 100 TB the two accessors are identical.
    */
  def documentsNoFanOut: DataFrame = t("documents")
  /** embeddings without the fan-out, for the IVF probes (q14f/q14g)
    * whose per-vector work is a few μs/row; q14j's covariance/PCA keeps
    * the fanned accessor, where the fan-out wins 4×.
    */
  def embeddingsNoFanOut: DataFrame = t("embeddings")
  def embeddings: DataFrame = Tables.fanOut(t("embeddings"))
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Each table's DDL as its parquet footers read; the date columns
    * are `timestamp[us]` without a time zone. Declare new columns here.
    */
  private val declared: Seq[(String, StructType)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
      "c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  /** The table names, in declaration order. */
  val names: Seq[String] = declared.map(_._1)

  /** The declared schema of table `name`. */
  def schema(name: String): StructType = declared.toMap.apply(name)

  /** Fan a coarse scan out to the session's parallelism — and ONLY
    * then. The testdata is single-row-group parquet, so a scan yields
    * ONE partition and CPU-heavy derivations (shingling, tokenizing,
    * profiling) would run single-threaded; a conditional round-robin
    * repartition spreads them over all cores. At 100 TB the scan
    * already has >= cores partitions and this is a no-op. The probe
    * plans the scan on the driver (it lists files and runs no job).
    */
  def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** events' wall-clock TIMESTAMP_NTZ `ts` as the session-TZ TIMESTAMP
    * that `window()`, `unix_micros` and interval arithmetic need (the
    * session TZ is pinned UTC, so every instant is kept). The batch
    * reader and the streaming `readStream` paths share this one cast.
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.withColumn("ts", col("ts").cast(TimestampType))
}
