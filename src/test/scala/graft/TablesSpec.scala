package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Guards `Tables`' declared star schema against the files it reads:
  * the declaration must match every local data set's footers, a table
  * access must run no Spark job, and a drifted column type must fail
  * naming the column.
  */
class TablesSpec extends SparkTestBase {

  private val localSets =
    Files.list(Paths.get(sfDir).getParent).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.toString).toSeq.sorted

  test("the declared schema equals the footer schema of every local data set") {
    assert(localSets.contains(sfDir))
    for (set <- localSets; t <- Tables.names) {
      // the one place a test infers: the footers are what is checked
      val footer = spark.read.parquet(s"$set/$t.parquet").schema
      val declared = Tables.schema(t)
      assert(footer.map(f => f.name -> f.dataType) == declared.map(f => f.name -> f.dataType),
        s"$set/$t.parquet reads as ${footer.toDDL}; Tables declares ${declared.toDDL}")
    }
  }

  test("touching all ten accessors and their schemas starts no Spark job") {
    val (_, m) = GraftSession.measure(spark, "tables") {
      val t = Tables(spark, sfDir)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
        t.lineitem, t.events, t.documents, t.documentsNoFanOut,
        t.embeddings, t.embeddingsNoFanOut).foreach(_.schema)
    }
    assert(m.jobs == 0, s"${m.jobs} Spark jobs ran while tables were only touched")
  }

  test("a drifted column type fails on read, naming the column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-drift").toString
    Seq((1L, "2024-01-01 00:00:00", 2L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val e = intercept[Exception](Tables(spark, dir).events.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("[ts]") && messages.contains("timestamp_ntz"), messages)
  }

  test("events loader casts the declared NTZ ts to a session-TZ timestamp") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val ntz = Seq((1L, 1700000000123456L)).toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").cast(TimestampNTZType).as("ts"))
    val n = Tables.normalizeEventsTs(ntz)
    assert(n.schema("ts").dataType == TimestampType)
    assert(n.select(unix_micros($"ts")).head.getLong(0) == 1700000000123456L)
    assert(Tables(spark, sfDir).events.schema("ts").dataType == TimestampType)
  }
}
