package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.queries.GraftQuery
import graft.Staging.Stageable

/** Source/sink surface (SURVEY §2.1): schema-declared CSV ingestion
  * with error capture (S1 + S6), semi-structured JSON column parsing,
  * and the physical-layout writers the 100 TB story depends on —
  * date-partitioned parquet (partition pruning) and bucketed tables
  * (co-located joins with no shuffle). Writers are exercised in
  * SourcesSpec, where the bucketed-join plan is asserted Exchange-free.
  */
object Sources {

  /** Schema-declared CSV read, mirroring Kettle CsvInput's contract
    * (explicit column types, header, quote enclosure, UTF-8 — e.g.
    * `ETL/ETL for delivery.ktr:562-680`): PERMISSIVE mode captures
    * malformed rows in `_corrupt_record` instead of failing the load,
    * which is the source-side analog of the reference's error sink.
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", StringType))
      .option("header", "true")
      .option("quote", "\"")
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Date-partitioned parquet: partition pruning at read time is the
    * index substitute at 100 TB (SURVEY §4).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed table: both sides bucketed on the join key → sort-merge
    * join with NO exchange (asserted in SourcesSpec). The plain-
    * parquet co-location strategy for repeated fact⋈fact joins.
    *
    * The pre-write `repartition(numBuckets, bucketCol)` uses the SAME
    * pmod(murmur3) Spark's bucket assignment uses, so each writer task
    * holds exactly one bucket → exactly ONE file per bucket. Without
    * it every input task emits a file per bucket it touches — T×B
    * small files at 100 TB (the bucketed-write fragmentation
    * explosion), and a physical layout that varies with the upstream
    * task layout (flushed by ParallelismInvarianceSpec's
    * scrambled-layout pass on q17h's ledger).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit =
    df.repartition(numBuckets, col(bucketCol))
      .write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Compaction-aware write: bound file count and rows-per-file so a
    * 100 TB table neither fragments into millions of small files nor
    * concentrates into unsplittable monoliths. Pair with
    * [[writePartitioned]]'s date partitioning for pruning.
    *
    * `layoutKey` hash-distributes rows across the files: the written
    * layout is then a pure function of the DATA, not of the upstream
    * task layout. The keyless `repartition(files)` form is round-robin
    * — its per-file row counts shift with input partitioning, which
    * makes the compaction ledger (and any downstream file-grain
    * algebra) nondeterministic across cluster layouts
    * (ParallelismInvarianceSpec). For min/max-clustered files use
    * [[writeZOrdered]], which range-partitions by explicit bounds —
    * deterministic because the bounds are supplied, not sampled.
    */
  def writeCompacted(df: DataFrame, path: String, targetFileRows: Long,
                     approxRows: Long, layoutKey: Column): Unit = {
    val files = math.max(1, (approxRows.toDouble / targetFileRows).ceil.toInt)
    df.repartition(files, layoutKey)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetFileRows)
      .parquet(path)
  }

  /** Z-ordered write: range-partition by the Morton interleave of two
    * normalized columns ([[graft.functions.ZOrder]]), one file per
    * range — every file then covers a small RECTANGLE of the (a, b)
    * space, so min/max skipping prunes files for predicates on EITHER
    * column (a single-column sort leaves the other column full-range
    * in every file; SourcesSpec asserts the comparison). The caller
    * supplies each column's bounds, as table stats would at scale.
    */
  def writeZOrdered(df: DataFrame, path: String,
                    colA: String, boundsA: (Double, Double),
                    colB: String, boundsB: (Double, Double),
                    files: Int): Unit = {
    import graft.functions.ZOrder
    // the temp column is appended then stripped — a collision would
    // silently drop the caller's data from the written files
    require(!df.columns.contains("__z"),
      "input must not contain a column named __z")
    val z = ZOrder.interleave(
      ZOrder.normalize(col(colA), boundsA._1, boundsA._2),
      ZOrder.normalize(col(colB), boundsB._1, boundsB._2))
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** q17a — semi-structured JSON column parse: events.props →
    * typed field + aggregation (get_json_object / from_json).
    * Malformed JSON yields NULL on both engines: Spark's
    * get_json_object returns NULL by design, and the twin guards with
    * json_valid because DuckDB's json_extract_string THROWS on bad
    * bytes (flushed by the outlier warehouse's truncated-props row) —
    * a dirty event must bucket as unknown, not kill the scan.
    */
  val q17aJsonProps: GraftQuery = GraftQuery(
    "q17a_json_props",
    """SELECT event_type,
      |       CAST(CASE WHEN json_valid(props)
      |                 THEN json_extract_string(props, '$.k') END
      |            AS INTEGER) % 10
      |         AS k_bucket,
      |       COUNT(*) AS n,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
      |         AS total_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val events = Tables(spark, dir).events
    events
      .select($"event_type",
        (get_json_object($"props", "$.k").cast(IntegerType) % 10)
          .as("k_bucket"),
        $"value")
      .groupBy($"event_type", $"k_bucket")
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.dsum($"value").as("total_value"))
  }

  /** RUN-UNIQUE roundtrip output root: the DuckDB oracle must read
    * the very files Spark wrote, so the path is baked into the oracle
    * SQL at object init (both sides run on the same host — the driver
    * runs Verify first, then the oracles read its dump). A root fixed
    * per tmpdir would make the q17 oracles process-shared state: any
    * concurrent JVM (even an sbt testOnly rebuilding sf0.001
    * fixtures) could overwrite the files between a replica's Verify
    * and its DuckDB read, failing the q17 family. The root therefore
    * carries the JVM pid, captured ONCE here at object init (NOT a
    * per-call clock — the oracle SQL must stay deterministic within
    * a run): the writing JVM and the oracle_sql.json it dumps agree
    * on the path, while a concurrent JVM lands in its own dir.
    * No shutdown-hook cleanup — the oracle reads the files AFTER this
    * JVM exits; instead, init opportunistically sweeps sibling run
    * dirs idle for >6h (no gate spans one hour, so a 6h-old dir is
    * dead weight, never a live replica's).
    */
  private[graft] val RoundtripRoot: String = {
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val dir = java.nio.file.Paths.get(tmp)
    val cutoff = java.lang.System.currentTimeMillis() - 6L * 3600 * 1000
    // NonFatal, not IOException: a CONCURRENT init racing the same
    // stale dir surfaces as UncheckedIOException/NoSuchFileException
    // from the walk — hygiene must never crash object init
    try {
      val listing = java.nio.file.Files.list(dir)
      try {
        listing.iterator().forEachRemaining { p =>
          val n = p.getFileName.toString
          if (n.startsWith("graft_roundtrip") &&
            java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff) {
            val walk = java.nio.file.Files.walk(p)
            try walk.sorted(
              java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(f => java.nio.file.Files.deleteIfExists(f))
            finally walk.close()
          }
        }
      } finally listing.close()
    } catch { case scala.util.control.NonFatal(_) => () } // hygiene only
    s"$tmp/graft_roundtrip_${ProcessHandle.current().pid()}"
  }
  private val CsvOut = s"$RoundtripRoot/q17b_csv"
  private val JsonlOut = s"$RoundtripRoot/q17c_jsonl"

  /** Plant one malformed line (plus header for CSV) as an extra data
    * file in `dir` AFTER the Spark write cleared it — both engines
    * must then exclude exactly that line for the hash gate to pass:
    * Spark via PERMISSIVE `_corrupt_record` capture, DuckDB via
    * `ignore_errors` (CSV) / all-NULL-row filter (JSONL).
    */
  private def plantCorrupt(dir: String, fileName: String,
                           lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir, fileName)
    java.nio.file.Files.write(p,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** q17b — schema-declared CSV round trip, ORACLE-GATED: a
    * deterministic slice of lineitem written to CSV (fixed path), one
    * malformed line planted alongside, read back through [[csv]] in
    * PERMISSIVE mode, corrupt captures excluded. The DuckDB twin
    * `read_csv`s the same files with `ignore_errors` — the hash match
    * proves BOTH value-level format parity and that the corrupt line
    * was captured (a missed capture surfaces as a null-filled extra
    * row and fails the gate). Ref contract: Kettle CsvInput + error
    * sink, `ETL/etl for customer with scd2.ktr:1072-1140`.
    */
  val q17bCsvRoundtrip: GraftQuery = GraftQuery(
    "q17b_csv_roundtrip",
    s"""SELECT * FROM read_csv('$CsvOut/*.csv', header=true,
       |  columns={'l_orderkey':'BIGINT','l_linenumber':'INTEGER',
       |           'l_quantity':'DOUBLE','l_returnflag':'VARCHAR'},
       |  ignore_errors=true)""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val slice = Tables(spark, dir).lineitem
      .filter($"l_orderkey" % 100 === 0)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_returnflag")
    slice.write.mode("overwrite").option("header", "true").csv(CsvOut)
    plantCorrupt(CsvOut, "zz_corrupt.csv",
      Seq("l_orderkey,l_linenumber,l_quantity,l_returnflag",
        "notanumber,xyz,bad,Z"))
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))
    // Eager localCheckpoint: a pruned downstream query (count(),
    // select of no data columns) would otherwise push a scan that
    // references ONLY _corrupt_record, which Spark rejects at plan
    // time (QUERY_ONLY_CORRUPT_RECORD_COLUMN — surfaced by the
    // full-registry bench, whose count() tripped it). Materializing
    // the slice-sized parse result decouples every consumer from the
    // corrupt-column scan; no CacheManager entry (CacheSpec rule).
    csv(spark, CsvOut, schema)
      .filter($"_corrupt_record".isNull)
      .drop("_corrupt_record")
      .staged
  }

  /** q17c — JSONL round trip, ORACLE-GATED: the de-facto
    * training-corpus exchange format (one JSON document per line). A
    * deterministic documents slice writes to a fixed path, one invalid
    * JSON line is planted, and the read-back is schema-declared
    * PERMISSIVE with corrupt-line capture excluded. The DuckDB twin
    * `read_json`s the same files; its `ignore_errors` NULLs (not
    * drops) the bad line, so the twin filters `doc_id IS NOT NULL` —
    * the same exclusion Spark reaches via `_corrupt_record` (doc_id
    * is never NULL in well-formed documents rows). SourcesSpec
    * additionally asserts the captured raw line verbatim.
    */
  val q17cJsonlRoundtrip: GraftQuery = GraftQuery(
    "q17c_jsonl_roundtrip",
    s"""SELECT * FROM read_json('$JsonlOut/*.json',
       |  format='newline_delimited',
       |  columns={'doc_id':'BIGINT','text':'VARCHAR',
       |           'lang':'VARCHAR','n_chars':'BIGINT'},
       |  ignore_errors=true)
       |WHERE doc_id IS NOT NULL""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val slice = Tables(spark, dir).documents
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", $"text", $"lang", $"n_chars")
    slice.write.mode("overwrite").json(JsonlOut)
    plantCorrupt(JsonlOut, "zz_corrupt.json",
      Seq("{\"doc_id\": this is not json}"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    // same QUERY_ONLY_CORRUPT_RECORD_COLUMN decoupling as q17b
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(JsonlOut)
      .filter($"_corrupt_record".isNull)
      .drop("_corrupt_record")
      .staged
  }

  private val OrcOut = s"$RoundtripRoot/q17d_orc"

  /** q17d — ORC round trip, ORACLE-GATED without DuckDB reading ORC
    * (it cannot): the gate is in-plan. A deterministic lineitem slice
    * (bigint/int/double/date/varchar columns (incl. l_linestatus) — the type spread ORC
    * must preserve bit-for-bit) writes to ORC and reads back; the
    * output carries (a) per-flag row counts and EXACT decimal
    * quantity sums computed FROM THE READ-BACK, and (b) two
    * `exceptAll` cardinalities between read-back and source — a
    * full-row, every-column multiset equivalence, not a sampled or
    * aggregate-only check. The DuckDB twin computes the same
    * aggregates straight from the parquet table with literal-zero
    * mismatch columns: any value ORC mangles (a flipped double bit, a
    * shifted date, a truncated string) surfaces either as an aggregate
    * divergence or a nonzero exceptAll count, and the hash gate
    * fails. Dates cross the output boundary as ISO strings (driver
    * dtype parity).
    */
  val q17dOrcRoundtrip: GraftQuery = GraftQuery(
    "q17d_orc_roundtrip",
    """SELECT l_returnflag,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR)
      |            AS DOUBLE) AS total_qty,
      |       CAST(MAX(l_shipdate) AS VARCHAR) AS max_ship,
      |       CAST(0 AS BIGINT) AS n_extra,
      |       CAST(0 AS BIGINT) AS n_missing
      |FROM lineitem
      |WHERE l_orderkey % 100 = 0
      |GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val slice = Tables(spark, dir).lineitem
      .filter($"l_orderkey" % 100 === 0)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_returnflag", $"l_shipdate", $"l_linestatus")
    slice.write.mode("overwrite").orc(OrcOut)
    val back = spark.read.orc(OrcOut).staged
    // full-row multiset equivalence, both directions
    val extra = back.exceptAll(slice).agg(count(lit(1)).as("n_extra"))
    val missing = slice.exceptAll(back).agg(count(lit(1)).as("n_missing"))
    back.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.Exact.dsum($"l_quantity").as("total_qty"),
        max($"l_shipdate").cast(StringType).as("max_ship"))
      .crossJoin(broadcast(extra))
      .crossJoin(broadcast(missing))
  }

  private val ZOut = s"$RoundtripRoot/q17e_zorder"
  private val SortOut = s"$RoundtripRoot/q17e_sorted"

  /** The q17e audit's fixed predicate bands, shared by the Spark side
    * and (as inlined literals) the DuckDB twin: ship-day bands quarter the
    * synthetic corpus’s 1995–2001 ship-date range in integer
    * days-since-epoch (days 9132–11630), qty bands quarter the 1–50 quantity range. An
    * open file is SKIPPED for a band iff its [min,max] stats range
    * misses [lo, hi) entirely — the parquet row-group / table-format
    * file-pruning rule.
    */
  private val AuditBands: Seq[(String, Long, Long, Long)] = Seq(
    ("day", 0L, 9100L, 9750L), ("day", 1L, 9750L, 10400L),
    ("day", 2L, 10400L, 11050L), ("day", 3L, 11050L, 11700L),
    ("qty", 0L, 0L, 14L), ("qty", 1L, 14L, 28L),
    ("qty", 2L, 28L, 42L), ("qty", 3L, 42L, 56L))

  private def bandsValuesSql: String = AuditBands
    .map { case (d, i, lo, hi) => s"('$d', CAST($i AS BIGINT), $lo, $hi)" }
    .mkString(", ")

  /** q17e — file-skipping effectiveness audit, ORACLE-GATED on the
    * actual written bytes: a deterministic lineitem slice is written
    * twice — z-ordered on (ship_day, qty) via [[writeZOrdered]] and
    * range-sorted on ship_day alone (the naive "sort by date" layout)
    * — then BOTH engines read the very same parquet files
    * (Spark `input_file_name()`, DuckDB `filename=true`), rebuild each
    * file's min/max stats, and count, per predicate band, how many
    * files a stats-based scanner skips and how many rows it must still
    * scan. The hash match proves the two engines agree on the physical
    * layout's pruning power, file by file. Expected shape (asserted in
    * SourcesSpec): the date-sorted layout prunes date bands only; the
    * z-ordered layout prunes BOTH dimensions — the reason Delta/Iceberg
    * `OPTIMIZE ZORDER` exists. At 100 TB this audit is the feedback
    * loop for choosing layout keys: it reads only footers-worth of
    * stats per file (here recomputed, as DuckDB cannot read parquet
    * footer stats directly) and one count per file.
    */
  val q17eSkippingAudit: GraftQuery = GraftQuery(
    "q17e_skipping_audit",
    s"""WITH zf AS (
       |  SELECT filename,
       |         MIN(ship_day) AS dmin, MAX(ship_day) AS dmax,
       |         MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax,
       |         COUNT(*) AS n
       |  FROM read_parquet('$ZOut/*.parquet', filename=true) GROUP BY 1),
       |sf AS (
       |  SELECT filename,
       |         MIN(ship_day) AS dmin, MAX(ship_day) AS dmax,
       |         MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax,
       |         COUNT(*) AS n
       |  FROM read_parquet('$SortOut/*.parquet', filename=true) GROUP BY 1),
       |files AS (
       |  SELECT 'zorder' AS layout, * FROM zf
       |  UNION ALL SELECT 'sorted_day', * FROM sf),
       |bands AS (
       |  SELECT * FROM (VALUES $bandsValuesSql) AS t(dim, band_id, lo, hi)),
       |j AS (
       |  SELECT f.layout, b.dim, b.band_id, f.n,
       |         CASE WHEN b.dim = 'day'
       |              THEN f.dmax < b.lo OR f.dmin >= b.hi
       |              ELSE f.qmax < b.lo OR f.qmin >= b.hi END AS skip
       |  FROM files f CROSS JOIN bands b)
       |SELECT layout, dim, band_id,
       |       COUNT(*) AS n_files,
       |       CAST(SUM(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_skipped,
       |       CAST(SUM(CASE WHEN skip THEN 0 ELSE n END) AS BIGINT)
       |         AS n_rows_scanned
       |FROM j GROUP BY 1, 2, 3""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val slice = Tables(spark, dir).lineitem
      .filter($"l_orderkey" % 10 === 0)
      .select($"l_orderkey", $"l_quantity",
        unix_date($"l_shipdate".cast(DateType)).cast(LongType)
          .as("ship_day"))
    // layout A: z-ordered on (ship_day, qty) — bounds are the fixed
    // TPC-H domain constants, as table stats would supply at scale
    writeZOrdered(slice, ZOut,
      "ship_day", (9100.0, 11700.0), "l_quantity", (0.0, 56.0),
      files = 16)
    // layout B: the naive single-column date sort
    slice.repartitionByRange(16, $"ship_day")
      .sortWithinPartitions($"ship_day")
      .write.mode("overwrite").parquet(SortOut)

    // read back under the written schema, as every audit reader does:
    // an empty slice leaves no footers to infer from
    def fileStats(path: String): DataFrame =
      spark.read.schema(slice.schema).parquet(path)
        .withColumn("f", input_file_name())
        .groupBy($"f")
        .agg(min($"ship_day").as("dmin"), max($"ship_day").as("dmax"),
          min($"l_quantity").as("qmin"), max($"l_quantity").as("qmax"),
          count(lit(1)).as("n"))

    val files = fileStats(ZOut).withColumn("layout", lit("zorder"))
      .unionByName(fileStats(SortOut)
        .withColumn("layout", lit("sorted_day")))
    val bands = AuditBands.toDF("dim", "band_id", "lo", "hi")
    files.crossJoin(broadcast(bands))
      .withColumn("skip",
        when($"dim" === "day", $"dmax" < $"lo" || $"dmin" >= $"hi")
          .otherwise($"qmax" < $"lo" || $"qmin" >= $"hi"))
      .groupBy($"layout", $"dim", $"band_id")
      .agg(count(lit(1)).as("n_files"),
        sum(when($"skip", 1L).otherwise(0L)).as("n_skipped"),
        sum(when($"skip", 0L).otherwise($"n")).as("n_rows_scanned"))
  }

  private val FragOut = s"$RoundtripRoot/q17f_frag"
  private val CompactOut = s"$RoundtripRoot/q17f_compact"

  /** q17f — compaction (small-file) audit, ORACLE-GATED on the written
    * bytes: the same deterministic orders slice is written once
    * fragmented (64-way round-robin — the shape a 64-task stage leaves
    * behind) and once through [[writeCompacted]] (file count sized from
    * row count ÷ target rows-per-file). Both engines then read the
    * same files and rebuild the layout ledger a table-format OPTIMIZE
    * planner needs: file count, total rows, smallest/largest file (in
    * rows), and how many files fall under the small-file threshold.
    * The hash match proves engine-independent agreement on the
    * physical layout. The small-file problem is the dominant
    * operational failure of 100 TB parquet lakes (every file costs a
    * driver-side listing + task schedule + footer read regardless of
    * size); this audit is the feedback loop that triggers compaction,
    * and its cost is one count per file — footer-stat-shaped work.
    */
  val q17fCompactionAudit: GraftQuery = GraftQuery(
    "q17f_compaction_audit",
    s"""WITH ff AS (
       |  SELECT filename, COUNT(*) AS n
       |  FROM read_parquet('$FragOut/*.parquet', filename=true) GROUP BY 1),
       |cf AS (
       |  SELECT filename, COUNT(*) AS n
       |  FROM read_parquet('$CompactOut/*.parquet', filename=true) GROUP BY 1),
       |files AS (
       |  SELECT 'fragmented' AS layout, n FROM ff
       |  UNION ALL SELECT 'compacted', n FROM cf)
       |SELECT layout,
       |       COUNT(*) AS n_files,
       |       CAST(SUM(n) AS BIGINT) AS total_rows,
       |       CAST(MIN(n) AS BIGINT) AS min_file_rows,
       |       CAST(MAX(n) AS BIGINT) AS max_file_rows,
       |       CAST(SUM(CASE WHEN n < 500 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_small_files
       |FROM files GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val slice = Tables(spark, dir).orders
      .filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    // the anti-pattern: 64 tiny files (hash-keyed so the fragmented
    // layout itself is a pure function of the data — a round-robin
    // repartition(64) writes per-file row counts that shift with the
    // upstream task layout, ParallelismInvarianceSpec)
    slice.repartition(64, $"o_orderkey")
      .write.mode("overwrite").parquet(FragOut)
    // the cure: file count derived from target rows-per-file
    val approxRows = slice.count()
    writeCompacted(slice, CompactOut,
      targetFileRows = 2048L, approxRows = approxRows,
      layoutKey = $"o_orderkey")

    def fileRows(path: String): DataFrame =
      spark.read.schema(slice.schema).parquet(path)
        .withColumn("f", input_file_name())
        .groupBy($"f").agg(count(lit(1)).as("n"))

    fileRows(FragOut).withColumn("layout", lit("fragmented"))
      .unionByName(fileRows(CompactOut)
        .withColumn("layout", lit("compacted")))
      .groupBy($"layout")
      .agg(count(lit(1)).as("n_files"),
        sum($"n").as("total_rows"),
        min($"n").as("min_file_rows"),
        max($"n").as("max_file_rows"),
        sum(when($"n" < 500L, 1L).otherwise(0L)).as("n_small_files"))
  }

  private val PartOut = s"$RoundtripRoot/q17g_part"

  /** q17g — partition-pruning effectiveness audit, ORACLE-GATED on the
    * written layout: a deterministic orders slice is written
    * hive-partitioned by order year ([[writePartitioned]]), then both
    * engines read the same directory tree (DuckDB with
    * `hive_partitioning=true`) and rebuild the per-partition row
    * ledger, then report, for each of a fixed set of year predicates,
    * how many partitions and rows a partition-pruning scanner avoids. Completes the layout-audit
    * trilogy (q17e file skipping, q17f compaction): partition pruning
    * is the coarsest and cheapest pruning tier at 100 TB — directory
    * names alone, no footer reads — and this audit is the check that
    * the chosen partition key actually concentrates the query
    * predicates. SourcesSpec separately asserts Spark's scan shows
    * the PartitionFilters, i.e. the pruning the audit predicts is the
    * pruning the engine performs.
    */
  val q17gPartitionAudit: GraftQuery = GraftQuery(
    "q17g_partition_audit",
    s"""WITH parts AS (
       |  SELECT CAST(o_year AS BIGINT) AS o_year,
       |         CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM read_parquet('$PartOut/*/*.parquet', hive_partitioning=true)
       |  GROUP BY 1),
       |preds AS (
       |  SELECT * FROM (VALUES
       |    (CAST(0 AS BIGINT), 1995, 1996), (1, 1997, 1998),
       |    (2, 1999, 2001), (3, 1995, 2001)) AS t(pred_id, y_lo, y_hi))
       |SELECT p.pred_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_parts_total,
       |       CAST(SUM(CASE WHEN pt.o_year BETWEEN p.y_lo AND p.y_hi
       |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_parts_pruned,
       |       CAST(SUM(CASE WHEN pt.o_year BETWEEN p.y_lo AND p.y_hi
       |                     THEN pt.n_rows ELSE 0 END) AS BIGINT)
       |         AS n_rows_scanned
       |FROM preds p CROSS JOIN parts pt
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // same contract as q17i/j/k: a NULL order date derives a NULL
    // partition key whose home is the error sink, not a year
    // partition — unfiltered, Spark writes it to the Hive default
    // partition dir, which the twin's CAST(o_year AS BIGINT) over
    // hive_partitioning cannot read (engine-divergent crash)
    val slice = Tables(spark, dir).orders
      .filter($"o_orderkey" % 4 === 0 && $"o_orderdate".isNotNull)
      .select($"o_orderkey", $"o_totalprice",
        year($"o_orderdate").cast(LongType).as("o_year"))
    writePartitioned(slice, PartOut, Seq("o_year"))

    // read back under the WRITTEN schema: a zero-row slice leaves the
    // partition tree with no footers to infer from (only _SUCCESS),
    // and the audit of an empty write is an empty ledger, not a crash
    val parts = spark.read.schema(slice.schema).parquet(PartOut)
      .groupBy($"o_year".cast(LongType).as("o_year"))
      .agg(count(lit(1)).as("n_rows"))
    val preds = Seq((0L, 1995, 1996), (1L, 1997, 1998),
      (2L, 1999, 2001), (3L, 1995, 2001))
      .toDF("pred_id", "y_lo", "y_hi")
    preds.crossJoin(parts)
      .withColumn("hit", $"o_year".between($"y_lo", $"y_hi"))
      .groupBy($"pred_id")
      .agg(count(lit(1)).as("n_parts_total"),
        sum(when($"hit", 0L).otherwise(1L)).as("n_parts_pruned"),
        sum(when($"hit", $"n_rows").otherwise(0L)).as("n_rows_scanned"))
  }

  private val BucketOut = s"$RoundtripRoot/q17h_bucket"

  /** q17h — sorted-bucket layout audit, ORACLE-GATED on the written
    * bucket files: an orders slice is written as an EXTERNAL bucketed
    * table (8 buckets on o_custkey, sorted by it — the co-located-join
    * layout SourcesSpec proves Exchange-free), then both engines read
    * the same files and rebuild the bucket ledger from the physical
    * layout alone: bucket id parsed from Spark's bucket-file naming
    * scheme (`part-XXXXX-uuid_NNNNN.c000…` — NNNNN IS the bucket), per
    * bucket the file count, row count, distinct keys, and min/max key.
    * What the audit proves: every key maps to exactly ONE bucket
    * (n_keys sums to the global distinct count — the property
    * co-located joins depend on), and the hash spread is balanced
    * enough to use (the spec bounds max/min bucket mass). Completes
    * the layout-audit family: pruning (q17g) → skipping (q17e) →
    * compaction (q17f) → bucketing (q17h). At 100 TB this reads one
    * grouped pass of the table — the audit you run before declaring a
    * bucket layout safe for exchange-free joins.
    */
  val q17hBucketAudit: GraftQuery = GraftQuery(
    "q17h_bucket_audit",
    s"""WITH f AS (
       |  SELECT CAST(regexp_extract(filename, '_(\\d+)\\.c\\d+', 1)
       |              AS BIGINT) AS bucket_id,
       |         filename, o_custkey
       |  FROM read_parquet('$BucketOut/part-*.parquet', filename=true))
       |SELECT bucket_id,
       |       CAST(COUNT(DISTINCT filename) AS BIGINT) AS n_files,
       |       COUNT(*) AS n_rows,
       |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_keys,
       |       CAST(MIN(o_custkey) AS BIGINT) AS min_key,
       |       CAST(MAX(o_custkey) AS BIGINT) AS max_key
       |FROM f GROUP BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val slice = Tables(spark, dir).orders
      .filter($"o_orderkey" % 8 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    spark.sql("DROP TABLE IF EXISTS q17h_bucket_ext")
    // pre-shuffle on the bucket column with the writer's own
    // pmod(murmur3): one task per bucket → exactly ONE file per
    // bucket, whatever the upstream layout (the writeBucketed device;
    // unpinned, every input task emits a file per bucket it touches —
    // T×B files at scale and a layout-dependent n_files ledger,
    // flushed by ParallelismInvarianceSpec's scrambled-layout pass)
    slice.repartition(8, $"o_custkey")
      .write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", BucketOut)
      .saveAsTable("q17h_bucket_ext")
    // explicit schema: an empty slice writes no bucket files (footers
    // to infer from), and the empty table's bucket ledger is empty
    spark.read.schema(slice.schema).parquet(BucketOut)
      .withColumn("f", input_file_name())
      // bucket id precedes any .cNNN file counter — a write that splits
      // files (e.g. maxRecordsPerFile on the session) emits .c001+, so
      // the pattern accepts any counter and an UNPARSED name fails
      // loudly instead of yielding a silent NULL bucket group
      .withColumn("bucket_id",
        when(regexp_extract($"f", "_(\\d+)\\.c\\d+", 1) === "",
          raise_error(concat(lit("q17h: unparsed bucket file name: "), $"f")))
          .otherwise(regexp_extract($"f", "_(\\d+)\\.c\\d+", 1).cast(LongType)))
      .groupBy($"bucket_id")
      .agg(countDistinct($"f").as("n_files"),
        count(lit(1)).as("n_rows"),
        countDistinct($"o_custkey").as("n_keys"),
        min($"o_custkey").as("min_key"),
        max($"o_custkey").as("max_key"))
  }

  private val UpsertOut = s"$RoundtripRoot/q17i_upsert"

  /** q17i — MERGE-style upsert on plain parquet via DYNAMIC PARTITION
    * OVERWRITE, oracle-gated on both the merged CONTENT and the
    * physical WRITE SCOPE. The environment ships no Delta/Iceberg jars
    * (recheck §8.8), so this is the warehouse-upsert pattern a plain
    * parquet lake actually runs: compute the affected partitions'
    * post-merge state (base rows minus superseded keys, plus updates,
    * plus inserts), write with the per-write option
    * `partitionOverwriteMode=dynamic` (the session conf is left
    * alone), and ONLY the
    * partitions present in the new data are replaced — every other
    * partition's files must survive byte-identical.
    *
    * The gate encodes both halves: per-year row counts and exact cent
    * sums of the READ-BACK merged table must hash-match the oracle's
    * purely LOGICAL merge over `orders` (updates = +1000 cents on
    * keys %13 in 1996/97; inserts = key+1e9 clones of %17 keys in
    * 1997), and the `files_preserved` column — computed from the real
    * before/after file listings — must equal the oracle's static
    * `o_year NOT IN (1996,1997)`: a write that rewrote too much (or
    * failed to rewrite the touched years) flips a boolean and fails
    * the hash. At 100 TB this is the difference between rewriting two
    * day-partitions and rewriting the table.
    */
  val q17iUpsertAudit: GraftQuery = GraftQuery(
    "q17i_upsert_audit",
    """WITH base AS (
      |  SELECT o_orderkey,
      |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         year(o_orderdate) AS o_year
      |  FROM orders
      |  WHERE o_orderdate IS NOT NULL),
      |upd AS (
      |  SELECT o_orderkey, cents + 1000 AS cents, o_year FROM base
      |  WHERE o_orderkey % 13 = 0 AND o_year IN (1996, 1997)),
      |ins AS (
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, cents, o_year
      |  FROM base WHERE o_orderkey % 17 = 0 AND o_year = 1997),
      |merged AS (
      |  SELECT * FROM base
      |  WHERE NOT (o_orderkey % 13 = 0 AND o_year IN (1996, 1997))
      |  UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT * FROM ins)
      |SELECT CAST(o_year AS BIGINT) AS o_year,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |       o_year NOT IN (1996, 1997) AS files_preserved
      |FROM merged GROUP BY o_year""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // a NULL order date derives a NULL partition key: that row's home
    // is the error sink (the q7b operator), not a year partition — the
    // upsert/compaction/snapshot contract is over partitionable rows,
    // and both engines exclude the dirty rows identically
    val base = Tables(spark, dir).orders
      .filter($"o_orderdate".isNotNull)
      .select($"o_orderkey",
        floor($"o_totalprice" * 100 + 0.5).cast(LongType).as("cents"),
        year($"o_orderdate").as("o_year"))
    // fresh base table each run (the audit is idempotent end to end)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(UpsertOut), true)
    base.write.mode("overwrite").partitionBy("o_year").parquet(UpsertOut)

    def listing(): Map[Int, Set[String]] =
      spark.read.schema(base.schema).parquet(UpsertOut)
        .select($"o_year", input_file_name().as("f")).distinct()
        .as[(Int, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val before = listing()

    // the merge: affected partitions' full post-state only
    val affected = Seq(1996, 1997)
    val slice = base.filter($"o_year".isin(affected: _*))
    val updates = slice.filter($"o_orderkey" % 13 === 0)
      .withColumn("cents", $"cents" + 1000L)
    val inserts = slice.filter($"o_orderkey" % 17 === 0 && $"o_year" === 1997)
      .withColumn("o_orderkey", $"o_orderkey" + 1000000000L)
    val postState = slice.filter(!($"o_orderkey" % 13 === 0))
      .unionByName(updates).unionByName(inserts)

    postState.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_year").parquet(UpsertOut)

    val after = listing()
    val preserved = (before.keySet ++ after.keySet).toSeq.map { y =>
      (y, before.get(y) == after.get(y))
    }.toDF("o_year", "files_preserved")

    spark.read.schema(base.schema).parquet(UpsertOut)
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
      .join(broadcast(preserved), "o_year")
      .select($"o_year".cast(LongType).as("o_year"), $"n_rows",
        $"sum_cents", $"files_preserved")
  }

  private val OptimizeOut = s"$RoundtripRoot/q17j_optimize"

  /** q17j — the MERGE → OPTIMIZE maintenance loop, layout- AND
    * content-gated: repeated partition-overwrite merges fragment the
    * touched partitions (here one 16-task merge write stands in for
    * many small ones), so a lake runs compaction scoped to EXACTLY
    * the partitions the merge touched. The audit replays q17i's
    * logical merge, fragments the two touched years, compacts them to
    * ⌈rows/1000⌉ files each (the q17f device: round-robin repartition
    * to a deterministic file count, every task non-empty), and gates
    * per year: merged row count, exact cent sum, and the FILE COUNT —
    * untouched years must still hold their single base file (the
    * compaction must not leak outside its scope), touched years
    * exactly the computed target. Both engines derive every expected
    * number from `orders` alone.
    */
  val q17jOptimizeAudit: GraftQuery = GraftQuery(
    "q17j_optimize_audit",
    """WITH base AS (
      |  SELECT o_orderkey,
      |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         year(o_orderdate) AS o_year
      |  FROM orders
      |  WHERE o_orderdate IS NOT NULL),
      |merged AS (
      |  SELECT * FROM base
      |  WHERE NOT (o_orderkey % 13 = 0 AND o_year IN (1996, 1997))
      |  UNION ALL
      |  SELECT o_orderkey, cents + 1000, o_year FROM base
      |  WHERE o_orderkey % 13 = 0 AND o_year IN (1996, 1997)
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, cents, o_year FROM base
      |  WHERE o_orderkey % 17 = 0 AND o_year = 1997)
      |SELECT CAST(o_year AS BIGINT) AS o_year,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |       CAST(CASE WHEN o_year IN (1996, 1997)
      |                 THEN (COUNT(*) + 999) // 1000 ELSE 1 END
      |            AS BIGINT) AS n_files
      |FROM merged GROUP BY o_year""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val TargetRows = 1000L
    // a NULL order date derives a NULL partition key: that row's home
    // is the error sink (the q7b operator), not a year partition — the
    // upsert/compaction/snapshot contract is over partitionable rows,
    // and both engines exclude the dirty rows identically
    val base = Tables(spark, dir).orders
      .filter($"o_orderdate".isNotNull)
      .select($"o_orderkey",
        floor($"o_totalprice" * 100 + 0.5).cast(LongType).as("cents"),
        year($"o_orderdate").as("o_year"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(OptimizeOut), true)
    // base layout: one file per year partition (year-keyed repartition
    // puts each year wholly in one task)
    base.repartition($"o_year").write.mode("overwrite")
      .partitionBy("o_year").parquet(OptimizeOut)

    val affected = Seq(1996, 1997)
    val slice = base.filter($"o_year".isin(affected: _*))
    val postState = slice.filter(!($"o_orderkey" % 13 === 0))
      .unionByName(slice.filter($"o_orderkey" % 13 === 0)
        .withColumn("cents", $"cents" + 1000L))
      .unionByName(slice
        .filter($"o_orderkey" % 17 === 0 && $"o_year" === 1997)
        .withColumn("o_orderkey", $"o_orderkey" + 1000000000L))

    // the merge, fragmented: 16 round-robin tasks → many files per
    // touched partition (the debt OPTIMIZE exists to pay off)
    postState.repartition(16).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_year").parquet(OptimizeOut)
    // OPTIMIZE scoped to the touched partitions, deterministic file
    // count per year; source is the logical post-state, so no
    // read-and-overwrite-the-same-path hazard
    affected.foreach { y =>
      val d = postState.filter($"o_year" === y)
      // floor of 1: a year absent from the merge slice (degenerate
      // input) must not ask for a 0-partition shuffle — the empty
      // write is a no-op under dynamic overwrite either way
      val k = math.max(1L, (d.count() + TargetRows - 1) / TargetRows).toInt
      d.repartition(k).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_year").parquet(OptimizeOut)
    }

    spark.read.schema(base.schema).parquet(OptimizeOut)
      .select($"o_year", $"cents", input_file_name().as("f"))
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"),
        countDistinct($"f").as("n_files"))
      .select($"o_year".cast(LongType).as("o_year"), $"n_rows",
        $"sum_cents", $"n_files")
  }

  private val TimeTravelOut = s"$RoundtripRoot/q17k_tt"

  /** q17k — TIME TRAVEL on plain parquet via snapshot manifests, the
    * third lakehouse verb after MERGE (q17i) and OPTIMIZE (q17j).
    * Copy-on-write discipline: the upsert writes the touched years'
    * post-state as NEW files and deletes nothing; each snapshot is a
    * stored MANIFEST (a text file listing the leaf parquet files that
    * make up the table at that version), and an as-of read resolves
    * THROUGH the stored manifest — never a directory listing. The
    * audit reads BOTH snapshots back through their manifests and
    * gates per (snapshot, year) row counts and exact cent sums
    * against the oracle's two logical states (pre-merge = raw orders,
    * post-merge = the q17i merge semantics): a manifest that leaks a
    * new file into the old snapshot, or loses an untouched year from
    * the new one, fails the hash. Per-year single-file layout keeps
    * the manifests deterministic; at 100 TB the same bookkeeping
    * rides partitionBy + a listing, which is precisely what
    * Delta/Iceberg productize.
    */
  val q17kTimeTravel: GraftQuery = GraftQuery(
    "q17k_time_travel",
    """WITH base AS (
      |  SELECT o_orderkey,
      |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         year(o_orderdate) AS o_year
      |  FROM orders
      |  WHERE o_orderdate IS NOT NULL),
      |merged AS (
      |  SELECT * FROM base
      |  WHERE NOT (o_orderkey % 13 = 0 AND o_year IN (1996, 1997))
      |  UNION ALL
      |  SELECT o_orderkey, cents + 1000, o_year FROM base
      |  WHERE o_orderkey % 13 = 0 AND o_year IN (1996, 1997)
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, cents, o_year FROM base
      |  WHERE o_orderkey % 17 = 0 AND o_year = 1997)
      |SELECT CAST(1 AS INTEGER) AS snapshot, CAST(o_year AS BIGINT) AS o_year,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM base GROUP BY o_year
      |UNION ALL
      |SELECT CAST(2 AS INTEGER), CAST(o_year AS BIGINT),
      |       CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
      |FROM merged GROUP BY o_year""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(hconf)
    fs.delete(new org.apache.hadoop.fs.Path(TimeTravelOut), true)
    // a NULL order date derives a NULL partition key: that row's home
    // is the error sink (the q7b operator), not a year partition — the
    // upsert/compaction/snapshot contract is over partitionable rows,
    // and both engines exclude the dirty rows identically
    val base = Tables(spark, dir).orders
      .filter($"o_orderdate".isNotNull)
      .select($"o_orderkey",
        floor($"o_totalprice" * 100 + 0.5).cast(LongType).as("cents"),
        year($"o_orderdate").as("o_year"))
      .staged // consumed once per year below
    val years = base.select($"o_year").distinct().as[Int].collect().sorted

    def leafFiles(dirPath: String): Seq[String] =
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$dirPath/*.parquet"))
        .map(_.getPath.toString).toSeq.sorted
    def writeYear(df: org.apache.spark.sql.DataFrame, snap: Int, y: Int)
        : Seq[String] = {
      val p = s"$TimeTravelOut/data/snap$snap/y$y"
      df.filter($"o_year" === y).coalesce(1)
        .write.mode("overwrite").parquet(p)
      leafFiles(p)
    }
    def writeManifest(k: Int, files: Seq[String]): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$TimeTravelOut/manifests/$k.txt"), true)
      out.write(files.mkString("\n").getBytes("UTF-8")); out.close()
    }
    def readManifest(k: Int): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(
        s"$TimeTravelOut/manifests/$k.txt"))
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      try Iterator.continually(reader.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).toSeq
      finally reader.close()
    }

    // snapshot 1: the base table, one file per year
    val snap1Files = years.flatMap(y => writeYear(base, 1, y))
    writeManifest(1, snap1Files.toSeq)
    // snapshot 2: COPY-ON-WRITE — only the touched years get new
    // files, every other year's manifest entry is snapshot 1's file
    val affected = Seq(1996, 1997)
    val slice = base.filter($"o_year".isin(affected: _*))
    val postState = slice.filter(!($"o_orderkey" % 13 === 0))
      .unionByName(slice.filter($"o_orderkey" % 13 === 0)
        .withColumn("cents", $"cents" + 1000L))
      .unionByName(slice
        .filter($"o_orderkey" % 17 === 0 && $"o_year" === 1997)
        .withColumn("o_orderkey", $"o_orderkey" + 1000000000L))
    val snap2New = affected.flatMap(y => writeYear(postState, 2, y))
    val kept = snap1Files.filterNot(f =>
      affected.exists(y => f.contains(s"/y$y/")))
    writeManifest(2, (kept ++ snap2New).sorted)

    // as-of reads resolve through the STORED manifests
    // explicit schema: an empty table yields an empty manifest, and an
    // as-of read of an empty snapshot is an empty frame, not a crash
    def asOf(k: Int): org.apache.spark.sql.DataFrame =
      spark.read.schema(base.schema).parquet(readManifest(k): _*)
        .groupBy($"o_year")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
        .select(lit(k).as("snapshot"), $"o_year".cast(LongType).as("o_year"),
          $"n_rows", $"sum_cents")
    asOf(1).unionByName(asOf(2))
  }

  val all: Seq[GraftQuery] =
    Seq(q17aJsonProps, q17bCsvRoundtrip, q17cJsonlRoundtrip,
      q17dOrcRoundtrip, q17eSkippingAudit, q17fCompactionAudit,
      q17gPartitionAudit, q17hBucketAudit, q17iUpsertAudit,
      q17jOptimizeAudit, q17kTimeTravel)
}
