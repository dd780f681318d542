package graft

/** Registry-wide spill census: execute every registered query once
  * under [[GraftSession.measure]] and report its wall, the total
  * shuffle volume, and memory/disk spill. Any query with nonzero
  * spill is named in `spilled_queries`. Shuffle bytes move between
  * runs of the same tree; `shuffle_write_records` is the total to
  * compare two trees by.
  *
  * q15* (streaming batch twins) are excluded: their readStream
  * execution is driven by StreamingSpec, and the twin bodies re-run
  * batch plans timed elsewhere. `wall_s` sums the per-query execution
  * walls only; the listener-bus drain after each query is not charged.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> java -cp <classes>:<spark jars>
  *        graft.SpillCensus
  */
object SpillCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.session()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q15"))
    var failed = List.empty[String]
    val perQuery = names.map { n =>
      n -> GraftSession.measure(spark, n) {
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case t: Throwable =>
          failed ::= n
          System.err.println(s"CENSUS FAILURE $n: ${t.getMessage}")
        }
      }._2
    }
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    def total(f: GraftSession.Measured => Long): Long = perQuery.map(q => f(q._2)).sum
    val spilled = perQuery.collect { case (n, m) if m.memSpill > 0 || m.diskSpill > 0 =>
      s""""$n":{"mem_spill":${m.memSpill},"disk_spill":${m.diskSpill}}"""
    }
    println(
      s"""{"metric":"spill_census","n_queries":${names.size},""" +
        s""""failed":[${failed.reverse.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""wall_s":${r3(perQuery.map(_._2.wallS).sum)},""" +
        s""""queries":{${perQuery.map(q => s""""${q._1}":${r3(q._2.wallS)}""").mkString(",")}},""" +
        s""""shuffle_read_bytes":${total(_.shuffleReadBytes)},""" +
        s""""shuffle_write_bytes":${total(_.shuffleWriteBytes)},""" +
        s""""shuffle_write_records":${total(_.shuffleWriteRecords)},""" +
        s""""mem_spill_bytes":${total(_.memSpill)},""" +
        s""""disk_spill_bytes":${total(_.diskSpill)},""" +
        s""""spilled_queries":{${spilled.mkString(",")}},""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
