package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EventKpis, Sessionize}

/** Drives the REAL Structured Streaming path (readStream → transform →
  * memory sink, AvailableNow) and checks it against the batch twins —
  * the transforms are shared, so this verifies batch/stream parity of
  * the engine surface, not just that a query compiles.
  */
class StreamingSpec extends SparkTestBase {

  private lazy val streamDir: String = {
    val d = Files.createTempDirectory("graft-events")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  private def streamingEvents() =
    Tables.normalizeEventsTs(
      spark.readStream.schema(Tables.schema("events")).parquet(streamDir))

  test("streaming tumbling KPIs match the batch twin") {
    import spark.implicits._
    val q = EventKpis.tumblingKpis(
      streamingEvents().withWatermark("ts", "1 hour"), exactDistinct = false)
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("tumbling_test")
      .select($"window_start", $"event_type", $"n_events", $"total_value")
    val batch = EventKpis.tumblingKpis(
      Tables(spark, sfDir).events, exactDistinct = false)
      .select($"window_start", $"event_type", $"n_events", $"total_value")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streaming result differs from batch twin")
  }

  test("stream-stream interval join matches the batch twin") {
    import spark.implicits._
    val clicks = streamingEvents().filter($"event_type" === "click")
      .withWatermark("ts", "1 hour")
    val errors = streamingEvents().filter($"event_type" === "error")
      .withWatermark("ts", "1 hour")
    val q = EventKpis.clickErrorJoin(clicks, errors)
      .writeStream.format("memory").queryName("interval_join_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("interval_join_test")
      .select($"user_id", $"click_id", $"error_id")
    val ev = Tables(spark, sfDir).events
    val batch = EventKpis.clickErrorJoin(
      ev.filter($"event_type" === "click"),
      ev.filter($"event_type" === "error"))
      .select($"user_id", $"click_id", $"error_id")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "stream-stream join differs from batch interval join")
  }

  test("stream-stream LEFT OUTER interval join: matched parity, sound nulls") {
    import spark.implicits._
    val clicks = streamingEvents().filter($"event_type" === "click")
      .withWatermark("ts", "1 hour")
    val errors = streamingEvents().filter($"event_type" === "error")
      .withWatermark("ts", "1 hour")
    val q = EventKpis.clickErrorLeftJoin(clicks, errors)
      .writeStream.format("memory").queryName("louter_join_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("louter_join_test")
      .select($"user_id", $"click_id", $"error_id")
    val ev = Tables(spark, sfDir).events
    val batch = EventKpis.clickErrorLeftJoin(
      ev.filter($"event_type" === "click"),
      ev.filter($"event_type" === "error"))
      .select($"user_id", $"click_id", $"error_id")
    // matched pairs must agree EXACTLY
    val sm = streamed.filter($"error_id".isNotNull)
    val bm = batch.filter($"error_id".isNotNull)
    assert(sm.count() > 0)
    assert(sm.exceptAll(bm).count() == 0 && bm.exceptAll(sm).count() == 0,
      "matched pairs differ from the batch twin")
    // NULL verdicts: every streamed null is correct (appears in batch);
    // the CONVERSE is not asserted — clicks near stream end may still
    // be waiting on the watermark when AvailableNow drains, which is
    // precisely the outer join's state-cleanup contract
    val sn = streamed.filter($"error_id".isNull)
    assert(sn.exceptAll(batch.filter($"error_id".isNull)).count() == 0,
      "streaming emitted a NULL verdict the batch twin disagrees with")
  }

  test("streaming dedup-within-watermark drops replayed events") {
    import spark.implicits._
    // a dir with the same file twice = every event delivered twice
    val dupDir = Files.createTempDirectory("graft-dup")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dupDir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dupDir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // the library surface under test: watermarked first-delivery-wins
    // dedup (EventKpis.streamDedup) fed BOTH duplicate shapes — the
    // file replay (same-timestamp redelivery) and the q15g oracle's
    // plantedRedelivery (5-minute-late redelivery of every 13th
    // event). Replayed/late rows disappear either as in-watermark
    // duplicates or as late data — both are the dedup contract
    val stream = EventKpis.streamDedup(EventKpis.plantedRedelivery(
      Tables.normalizeEventsTs(
        spark.readStream.schema(Tables.schema("events")).parquet(dupDir.toString))))
    val q = stream.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val n = spark.table("dedup_test").count()
    val expected = Tables(spark, sfDir).events.count()
    assert(n == expected,
      s"dedup kept $n rows, expected $expected (duplicated input)")
  }

  test("stream-static dim enrichment matches the batch join") {
    import spark.implicits._
    // the classic ingest shape: a stream enriched against a static
    // dimension snapshot — stateless per micro-batch, re-planned with
    // the dim's current data each batch (no watermark/state needed)
    val dim = Tables(spark, sfDir).customer
      .select($"c_custkey", $"c_mktsegment")
    val q = streamingEvents()
      .join(dim, $"user_id" === $"c_custkey", "left")
      .groupBy(coalesce($"c_mktsegment", lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dim_enrich_test")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("dim_enrich_test")
    val batch = Tables(spark, sfDir).events
      .join(dim, $"user_id" === $"c_custkey", "left")
      .groupBy(coalesce($"c_mktsegment", lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "stream-static enrichment differs from the batch join")
  }

  test("late in-watermark event beyond the gap opens its own session") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val events = Sessionize.prepare(mem.toDF().toDF("user_id", "ts"))
    val q = Sessionize.sessionize(events)
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
    try {
      mem.addData((1L, at(0)))   // live session opens at 12:00
      q.processAllAvailable()
      // 11:10 is inside the 1h watermark but 50min (> 30min gap)
      // BEFORE the live session's start: must NOT merge backwards
      mem.addData((1L, at(-50)))
      q.processAllAvailable()
      mem.addData((1L, at(120))) // push watermark → close 12:00 session
      q.processAllAvailable()
      val emitted = spark.table("late_sessions").as[Sessionize.Session]
        .collect().sortBy(_.start_us)
      assert(emitted.length >= 2,
        s"expected the late event and the 12:00 session emitted, got ${emitted.toSeq}")
      val late = emitted.head
      assert(late.start_us == late.end_us && late.n_events == 1,
        s"late event should be its own single-event session, got $late")
      val main = emitted(1)
      assert(main.n_events == 1 &&
        main.start_us == java.util.concurrent.TimeUnit.MILLISECONDS
          .toMicros(at(0).getTime),
        s"12:00 session must not be dragged backwards, got $main")
    } finally q.stop()
  }

  /** Stateful sibling of the m50 batch boundary pin (r17 `boundary`
    * class): an event landing EXACTLY GapMicros after the stored
    * session's end must MERGE (the walk splits on strict `>` only),
    * matching `session_window`'s merge-on-touch and the corrected
    * q15c/q15d islands twins — and it must merge ACROSS a micro-batch
    * boundary, where the stored state (not a same-batch neighbor)
    * carries the touching end. One second past the gap splits.
    */
  test("exact-gap event merges with the stored session; gap+1s splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val events = Sessionize.prepare(mem.toDF().toDF("user_id", "ts"))
    val q = Sessionize.sessionize(events)
      .writeStream.format("memory").queryName("touch_sessions")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def at(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000)
    val us = (sec: Long) => java.util.concurrent.TimeUnit.MILLISECONDS
      .toMicros(at(sec).getTime)
    try {
      mem.addData((1L, at(0)))    // state: [12:00, 12:00]
      q.processAllAvailable()
      mem.addData((1L, at(1800))) // EXACTLY last + gap → must merge
      q.processAllAvailable()
      mem.addData((1L, at(3601))) // 30:01 after 12:30 → splits
      q.processAllAvailable()
      mem.addData((1L, at(20000))) // watermark push → close both
      q.processAllAvailable()
      val emitted = spark.table("touch_sessions").as[Sessionize.Session]
        .collect().sortBy(_.start_us)
      assert(emitted.exists(s =>
        s.start_us == us(0) && s.end_us == us(1800) && s.n_events == 2),
        s"exact-gap event must merge on touch, got ${emitted.toSeq}")
      assert(!emitted.exists(s => s.start_us == us(1800)),
        s"touching event wrongly opened its own session: ${emitted.toSeq}")
      assert(emitted.exists(s => s.start_us == us(3601)),
        s"gap+1s event must open a new session, got ${emitted.toSeq}")
    } finally q.stop()
  }

  test("late event chains to the live session through a bridge event") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val events = Sessionize.prepare(mem.toDF().toDF("user_id", "ts"))
    val q = Sessionize.sessionize(events)
      .writeStream.format("memory").queryName("chain_sessions")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
    try {
      mem.addData((1L, at(0)))   // live session opens at 12:00
      q.processAllAvailable()
      // 11:10 is 50min before the session start (> 30min gap on its
      // own), but the same batch carries a bridge at 11:35: late→bridge
      // 25min ≤ gap and bridge→session 25min ≤ gap — the whole chain
      // must merge into ONE session, matching the batch
      // gaps-and-islands twin
      mem.addData((1L, at(-50)), (1L, at(-25)))
      q.processAllAvailable()
      mem.addData((1L, at(120))) // push watermark → close merged session
      q.processAllAvailable()
      val emitted = spark.table("chain_sessions").as[Sessionize.Session]
        .collect().sortBy(_.start_us)
      val us = (m: Long) => java.util.concurrent.TimeUnit.MILLISECONDS
        .toMicros(at(m).getTime)
      assert(emitted.exists(s =>
        s.start_us == us(-50) && s.end_us == us(0) && s.n_events == 3),
        s"chain must merge into one 11:10–12:00 session, got ${emitted.toSeq}")
      assert(!emitted.exists(s => s.n_events < 3 && s.start_us <= us(0)),
        s"chain fragments emitted as separate sessions: ${emitted.toSeq}")
    } finally q.stop()
  }

  test("foreachBatch ingest: funnel and attribution match the batch twins") {
    import graft.analytics.BehaviorQueries
    // the lambda-architecture shape for non-incremental analytics: a
    // stream ingests raw events micro-batch by micro-batch into a
    // staging store (foreachBatch append), the batch transform then
    // runs over the accumulated staging data. Split the file into 4 so
    // maxFilesPerTrigger=1 actually exercises multiple micro-batches.
    val srcDir = Files.createTempDirectory("graft-ingest-src")
    Tables(spark, sfDir).events.repartition(4)
      .write.mode("overwrite").parquet(srcDir.toString)
    val staging = Files.createTempDirectory("graft-ingest-staging").toString
    val diskSchema = spark.read.parquet(srcDir.toString).schema
    val q = spark.readStream.schema(diskSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(staging)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val ingested = spark.read.parquet(staging)
    val batchEv = Tables(spark, sfDir).events
    assert(ingested.count() == batchEv.count(), "ingest lost/duplicated rows")
    for ((name, fn) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "funnel" -> BehaviorQueries.funnel,
        "attribution" -> BehaviorQueries.attribution)) {
      val s = fn(ingested)
      val b = fn(batchEv)
      assert(s.exceptAll(b).count() == 0 && b.exceptAll(s).count() == 0,
        s"$name over the foreachBatch-ingested store differs from the batch twin")
    }
  }

  test("stateful operators run green under the RocksDB state store provider") {
    import spark.implicits._
    // At 100× streaming state the in-memory HDFS-backed provider is the
    // wrong tool — RocksDB spills state to local disk and is what a
    // production deployment would run. Rehearse every state-operator
    // KIND the library ships (windowed agg, dedup-within-watermark,
    // flatMapGroupsWithState) under the real provider, gated on the
    // same parity checks as the default-provider tests above.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      val agg = EventKpis.tumblingKpis(
        streamingEvents().withWatermark("ts", "1 hour"), exactDistinct = false)
        .writeStream.format("memory").queryName("rocks_tumbling")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      agg.awaitTermination(120000)
      val streamed = spark.table("rocks_tumbling")
        .select($"window_start", $"event_type", $"n_events", $"total_value")
      val batch = EventKpis.tumblingKpis(
        Tables(spark, sfDir).events, exactDistinct = false)
        .select($"window_start", $"event_type", $"n_events", $"total_value")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0,
        "RocksDB-backed windowed aggregation differs from the batch twin")

      val dedup = EventKpis.streamDedup(EventKpis.plantedRedelivery(
        streamingEvents()))
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      dedup.awaitTermination(120000)
      assert(spark.table("rocks_dedup").count() ==
        Tables(spark, sfDir).events.count(),
        "RocksDB-backed dedup kept a different row count than the input")

      val sess = Sessionize.sessionize(Sessionize.prepare(streamingEvents()))
        .writeStream.format("memory").queryName("rocks_sessions")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      sess.awaitTermination(120000)
      val emitted = spark.table("rocks_sessions").as[Sessionize.Session]
        .collect()
      assert(emitted.nonEmpty, "no sessions emitted under RocksDB")
      emitted.foreach(s => assert(s.n_events >= 1 && s.start_us <= s.end_us))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("checkpointed restart is exactly-once across three query starts") {
    // the production contract a 100×-uptime pipeline leans on: a file
    // stream with a checkpoint can be stopped, restarted after new
    // data lands, and restarted again with nothing new — and the sink
    // sees every input row exactly once across all three lifetimes
    val prep = Files.createTempDirectory("graft-restart-prep").toString
    Tables(spark, sfDir).events.repartition(4)
      .write.mode("overwrite").parquet(prep)
    val batch = spark.read.parquet(prep)
    val srcDir = Files.createTempDirectory("graft-restart-src")
    val staging = Files.createTempDirectory("graft-restart-staging").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val parts = new java.io.File(prep).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 4)
    def land(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      Files.copy(f.toPath, srcDir.resolve(f.getName),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(staging)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    land(parts.take(2).toSeq)
    runOnce()
    val n1 = spark.read.parquet(staging).count()
    assert(n1 > 0 && n1 < batch.count(), "first lifetime must be partial")
    land(parts.drop(2).toSeq)
    runOnce() // resume: ONLY the two new files may process
    val merged = spark.read.parquet(staging)
    assert(merged.count() == batch.count(),
      s"restart lost or duplicated rows: ${merged.count()} vs ${batch.count()}")
    assert(merged.exceptAll(batch).count() == 0 &&
      batch.exceptAll(merged).count() == 0,
      "restart changed the multiset, not just the count")
    runOnce() // idle restart: checkpoint says nothing new
    assert(spark.read.parquet(staging).count() == batch.count(),
      "an idle restart re-emitted data")
  }

  test("flatMapGroupsWithState sessionization closes sessions correctly") {
    import spark.implicits._
    val q = Sessionize.sessionize(Sessionize.prepare(streamingEvents()))
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.table("sessions_test").as[Sessionize.Session]
      .collect()
    assert(emitted.nonEmpty, "no sessions emitted")
    // session invariants: positive counts, start<=end, gap respected
    emitted.foreach { s =>
      assert(s.n_events >= 1 && s.start_us <= s.end_us)
    }
    // no overlapping sessions per user, and gaps between consecutive
    // sessions exceed the 30-minute threshold
    emitted.groupBy(_.user_id).foreach { case (_, ss) =>
      ss.sortBy(_.start_us).sliding(2).foreach {
        case Array(a, b) =>
          assert(b.start_us - a.end_us > Sessionize.GapMicros)
        case _ =>
      }
    }
    // emitted (closed) sessions never exceed the batch twin's total
    val batchTotal = EventKpis.q15cSessionization.fn(spark, sfDir)
      .agg(sum($"n_sessions")).head.getLong(0)
    assert(emitted.length <= batchTotal)
  }
}
