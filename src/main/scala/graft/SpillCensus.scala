package graft

/** Registry-wide spill census: execute every registered query once
  * under a [[GraftSession.StageAcc]] and report its wall, the total
  * shuffle volume, and memory/disk spill. Any query with nonzero
  * spill is named in `spilled_queries`.
  *
  * q15* (streaming batch twins) are excluded: their readStream
  * execution is driven by StreamingSpec, and the twin bodies re-run
  * batch plans timed elsewhere. `wall_s` sums the per-query execution
  * walls only; the listener-bus drain between queries is not charged.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> java -cp <classes>:<spark jars>
  *        graft.SpillCensus
  */
object SpillCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.session()
    val acc = new GraftSession.StageAcc
    spark.sparkContext.addSparkListener(acc)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q15"))
    var failed = List.empty[String]
    val perQuery = names.map { n =>
      val m0 = acc.memSpill.get; val d0 = acc.diskSpill.get
      val t0 = System.nanoTime()
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case t: Throwable =>
        failed ::= n
        System.err.println(s"CENSUS FAILURE $n: ${t.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftSession.quiesce(acc)
      (n, wall, acc.memSpill.get - m0, acc.diskSpill.get - d0)
    }
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val spilled = perQuery.collect { case (n, _, dm, dd) if dm > 0 || dd > 0 =>
      s""""$n":{"mem_spill":$dm,"disk_spill":$dd}"""
    }
    println(
      s"""{"metric":"spill_census","n_queries":${names.size},""" +
        s""""failed":[${failed.reverse.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""wall_s":${r3(perQuery.map(_._2).sum)},""" +
        s""""queries":{${perQuery.map(q => s""""${q._1}":${r3(q._2)}""").mkString(",")}},""" +
        s""""shuffle_read_bytes":${acc.shuffleRead.get},""" +
        s""""shuffle_write_bytes":${acc.shuffleWrite.get},""" +
        s""""mem_spill_bytes":${acc.memSpill.get},""" +
        s""""disk_spill_bytes":${acc.diskSpill.get},""" +
        s""""spilled_queries":{${spilled.mkString(",")}},""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
