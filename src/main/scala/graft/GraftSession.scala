package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured: every tool main and
  * the test base build their session here, so core count, shuffle
  * width, time zone, logging and [[GraftConf.tune]] cannot drift apart
  * between them. Also hosts the one stage listener ([[StageAcc]]) the
  * measurement mains and scale specs read shuffle and spill from, and
  * the one parser of the mains' name selections ([[selection]]).
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core and a UTC
    * session time zone ([[Tables.events]] casts its NTZ timestamps
    * through it). WindowExec's unpartitioned-window warning is
    * silenced: every such window is a documented bounded one,
    * allowlisted by PlanAuditSpec over the whole registry.
    */
  def session(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    GraftConf.tune(spark)
    spark
  }

  /** A tool main's comma-separated selection, in the given order. It
    * must name at least one entry and every name must be in `known`,
    * so a typo fails the run instead of timing or dumping nothing.
    */
  private[graft] def selection(
      csv: String, known: Seq[String], what: String): Seq[String] = {
    val names = csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = names.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown $what: ${unknown.mkString(", ")}; " +
      s"known: ${known.sorted.mkString(", ")}")
    require(names.nonEmpty, s"no $what selected")
    names
  }

  /** Sums every completed stage's shuffle and spill metrics. */
  class StageAcc extends SparkListener {
    val shuffleWrite = new AtomicLong
    val shuffleRecords = new AtomicLong
    val shuffleRead = new AtomicLong
    val diskSpill = new AtomicLong
    val memSpill = new AtomicLong
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        diskSpill.addAndGet(m.diskBytesSpilled)
        memSpill.addAndGet(m.memoryBytesSpilled)
      }
    }
  }

  /** Listener events arrive asynchronously: poll until the counters
    * have stayed unchanged for three 100 ms ticks.
    */
  def quiesce(acc: StageAcc): Unit = {
    var last = -1L
    var same = 0
    while (same < 3) {
      val now = acc.shuffleWrite.get + acc.shuffleRecords.get +
        acc.shuffleRead.get + acc.diskSpill.get + acc.memSpill.get
      if (now == last) same += 1 else { same = 0; last = now }
      Thread.sleep(100)
    }
  }

  /** Runs `f` under a fresh listener: (result, wall seconds of `f`
    * alone, the drained counters).
    */
  def timed[T](spark: SparkSession)(f: => T): (T, Double, StageAcc) = {
    val acc = new StageAcc
    spark.sparkContext.addSparkListener(acc)
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    quiesce(acc)
    spark.sparkContext.removeSparkListener(acc)
    (r, wall, acc)
  }
}
