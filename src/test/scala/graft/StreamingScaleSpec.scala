package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.EventKpis

/** Decade-up stress for the STATEFUL streaming paths (the batch/
  * relational/corpus families have ScaleSpec; this is the streaming
  * counterpart). Events are replicated ×10 with shifted user/event
  * ids, so every KPI has an exact ×10 algebra the run must reproduce,
  * and the state-store metrics must stay bounded by ACTIVE keys —
  * never by total input:
  *
  *  - time-shifted replicas (disjoint hour ranges, one file per
  *    replica + maxFilesPerTrigger=1) make the watermark ADVANCE
  *    across micro-batches, so windowed-agg state must EVICT: final
  *    numRowsTotal stays near one replica's window count while ten
  *    replicas flowed through — the 100 TB/day ingest contract.
  *  - user-shifted replicas (same timestamps, 10 independent copies
  *    of every user timeline) make sessionization algebra exact:
  *    emitted sessions and final session state are both exactly 10×
  *    the single-copy run.
  *  - the dedup path re-delivers every replica file twice: output is
  *    exactly 10× base, and dedup state holds ids within ONE
  *    watermark horizon, not the 20-file input.
  */
class StreamingScaleSpec extends SparkTestBase {
  import spark.implicits._

  private val Replicas = 10

  private lazy val base: DataFrame = Tables(spark, sfDir).events
    .select($"event_id", $"ts", $"user_id", $"event_type", $"value")

  private lazy val (userShift, eventShift, deltaHours) = {
    val r = base.agg(max($"user_id"), max($"event_id"),
      min($"ts").cast("long"), max($"ts").cast("long")).head()
    val span = r.getLong(3) - r.getLong(2)
    (r.getLong(0) + 1, r.getLong(1) + 1, span / 3600 + 3)
  }

  private def replica(k: Int, shiftTime: Boolean): DataFrame = {
    val shifted = base
      .withColumn("user_id", $"user_id" + lit(k * userShift))
      .withColumn("event_id", $"event_id" + lit(k * eventShift))
    if (shiftTime)
      shifted.withColumn("ts",
        $"ts" + expr(s"INTERVAL ${k * deltaHours} HOURS"))
    else shifted
  }

  /** Write each replica as ONE parquet file with strictly increasing
    * modification times, so FileStreamSource (oldest-first) processes
    * them in replica order under maxFilesPerTrigger=1. `copies` > 1
    * re-delivers every file that many times (the dedup stress).
    */
  private def writeReplicas(shiftTime: Boolean, copies: Int = 1): Path = {
    val dir = Files.createTempDirectory("graft-sscale")
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    (0 until Replicas).foreach { k =>
      val tmp = Files.createTempDirectory("graft-sscale-one")
      replica(k, shiftTime).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no parquet part written for replica $k"))
      (0 until copies).foreach { c =>
        val dst = dir.resolve(f"r$k%02d_$c.parquet")
        Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
        assert(dst.toFile.setLastModified(t0 + (k * copies + c) * 5000L))
      }
    }
    dir
  }

  /** The replicas are written from the normalized events, so their
    * `ts` is a UTC-adjusted TIMESTAMP; the stream reads them under the
    * declared events schema (as TIMESTAMP_NTZ, which the session's UTC
    * zone makes the same instant) and casts back through
    * [[Tables.normalizeEventsTs]]. The tumbling test's batch twin reads
    * the written TIMESTAMP as is, so the two readings are compared.
    */
  private def streamFrom(dir: Path, onePerTrigger: Boolean): DataFrame = {
    val r = spark.readStream.schema(Tables.schema("events"))
    val r2 = if (onePerTrigger) r.option("maxFilesPerTrigger", 1) else r
    Tables.normalizeEventsTs(r2.parquet(dir.toString))
  }

  private def drain(df: DataFrame, name: String, mode: String)
      : StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)
    q
  }

  private def finalStateRows(q: StreamingQuery): Long =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.apply(0).numRowsTotal)
      .getOrElse(fail("no stateOperators metrics in any progress"))

  test("tumbling KPIs at x10: exact x10 algebra and batch parity") {
    val dir = writeReplicas(shiftTime = true)
    drain(
      EventKpis.tumblingKpis(
        streamFrom(dir, onePerTrigger = false).withWatermark("ts", "1 hour"),
        exactDistinct = false),
      "sscale_tumbling", "complete")
    val streamed = spark.table("sscale_tumbling")

    // parity: the batch twin on the SAME x10 input, bitwise, read
    // under the files' own written schema
    val batchRep = EventKpis.tumblingKpis(
      spark.read.parquet(dir.toString), exactDistinct = false)
    assert(streamed.exceptAll(batchRep).count() == 0 &&
      batchRep.exceptAll(streamed).count() == 0,
      "x10 streaming result differs from the x10 batch twin")

    // exact x10 algebra vs the BASE run: time-shifted replicas are
    // window-aligned (delta is whole hours), so every base
    // (event_type, n_events, total_value) row must appear EXACTLY 10
    // times across the x10 windows — decimal sums of identical
    // replicas are identical, so total_value matches bitwise
    def multiset(df: DataFrame): Map[(String, Long, Double), Int] =
      df.select($"event_type", $"n_events", $"total_value")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val baseKpis = multiset(
      EventKpis.tumblingKpis(base, exactDistinct = false))
    val got = multiset(streamed)
    assert(got == baseKpis.view.mapValues(_ * Replicas).toMap,
      "x10 window multiset is not exactly 10 copies of the base run")
  }

  test("windowed-agg state EVICTS across the decade: bounded by one " +
    "replica's windows, not ten") {
    val dir = writeReplicas(shiftTime = true)
    val q = drain(
      EventKpis.tumblingKpis(
        streamFrom(dir, onePerTrigger = true).withWatermark("ts", "1 hour"),
        exactDistinct = false),
      "sscale_evict", "append")
    val perReplicaWindows =
      EventKpis.tumblingKpis(base, exactDistinct = false).count()
    val emitted = spark.table("sscale_evict").count()
    // replicas 1..9 are fully past the final watermark; only the last
    // replica's tail hour can still be withheld
    assert(emitted >= (Replicas - 1) * perReplicaWindows &&
      emitted <= Replicas * perReplicaWindows,
      s"emitted $emitted, per-replica $perReplicaWindows")
    val state = finalStateRows(q)
    assert(state <= 2 * perReplicaWindows,
      s"final agg state $state rows — eviction failed (one replica " +
        s"has $perReplicaWindows windows; 10 unevicted would be " +
        s"${Replicas * perReplicaWindows})")
  }

  test("session_window at x10 users: emitted sessions and session " +
    "state are exactly 10x the single-copy run") {
    def sessionStream(dir: Path): DataFrame =
      streamFrom(dir, onePerTrigger = false)
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id",
          unix_micros($"session_window.start").as("s_us"),
          unix_micros($"session_window.end").as("e_us"),
          $"n_events")
    // single-copy baseline through the IDENTICAL streaming path
    val oneDir = Files.createTempDirectory("graft-sscale-base")
    base.coalesce(1).write.mode("overwrite")
      .parquet(oneDir.resolve("d").toString)
    val qBase = drain(sessionStream(oneDir.resolve("d")),
      "sscale_sess_base", "append")
    val qTen = drain(sessionStream(writeReplicas(shiftTime = false)),
      "sscale_sess_x10", "append")

    def multiset(table: String, foldUsers: Boolean)
        : Map[(Long, Long, Long, Long), Int] = {
      val df = spark.table(table)
      val folded =
        if (foldUsers) df.withColumn("user_id", pmod($"user_id",
          lit(userShift)))
        else df
      folded.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(identity).view.mapValues(_.length).toMap
    }
    val baseSessions = multiset("sscale_sess_base", foldUsers = false)
    assert(baseSessions.nonEmpty, "baseline emitted no sessions")
    val got = multiset("sscale_sess_x10", foldUsers = true)
    assert(got == baseSessions.view.mapValues(_ * Replicas).toMap,
      "x10 emitted sessions are not exactly 10 user-shifted copies")
    // state holds the still-open tail sessions: 10 independent user
    // copies leave exactly 10x the single-copy session state
    assert(finalStateRows(qTen) == Replicas * finalStateRows(qBase),
      s"session state ${finalStateRows(qTen)} != " +
        s"$Replicas x ${finalStateRows(qBase)}")
  }

  test("dedup-within-watermark at x10 with every file re-delivered: " +
    "output exactly 10x, state bounded by one watermark horizon") {
    val dir = writeReplicas(shiftTime = true, copies = 2)
    val q = drain(
      EventKpis.streamDedup(streamFrom(dir, onePerTrigger = true)),
      "sscale_dedup", "append")
    val kept = spark.table("sscale_dedup").count()
    val baseN = base.count()
    // re-delivered files vanish as in-watermark duplicates or as late
    // data (the q15g/StreamingSpec dedup contract), decade-wide
    assert(kept == Replicas * baseN,
      s"dedup kept $kept rows, expected ${Replicas * baseN}")
    // dedup state = ids within ONE 10-minute watermark horizon of the
    // LAST replica — one replica's ids are a generous upper bound;
    // unevicted decade-scale state would be ~20x that
    assert(finalStateRows(q) <= baseN,
      s"dedup state ${finalStateRows(q)} exceeds one replica's ids " +
        s"($baseN) — watermark eviction failed")
  }
}
