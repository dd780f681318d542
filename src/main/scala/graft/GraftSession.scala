package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one place a graft session is configured: every tool main and
  * the test base build their session here, so core count, shuffle
  * width, time zone, logging and [[GraftConf.tune]] cannot drift apart
  * between them. Also hosts the one way to ask what a call cost
  * ([[measure]]), which the measurement mains and the scale specs read
  * jobs, shuffle and spill from, the one way to produce a frame's
  * whole result ([[materialize]]), and the one parser of the mains'
  * name selections ([[selection]]).
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

  /** What one [[measure]]d call cost, counting only the jobs, stages
    * (completed attempts) and tasks of the call's own job group.
    * `wallS` is the body's wall, without the bus drain; `cpuNs` is
    * executor CPU and `peakExecMem` the largest peak of one task.
    * `compiles` is the [[GraftConf.codegenCompiles]] delta over the
    * body: that counter is JVM-wide, so it is exact only when nothing
    * else compiles at the same time.
    */
  final case class Measured(
      wallS: Double, jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long, shuffleReadBytes: Long,
      memSpill: Long, diskSpill: Long, peakExecMem: Long, compiles: Long)

  private val ids = new AtomicLong

  /** Charges to `group` every job started under it, and every stage
    * submitted under it with all of that stage's tasks. The bus calls
    * it from one thread; [[measure]] reads `m` after draining the bus.
    */
  private final class GroupListener(group: String) extends SparkListener {
    private val stageIds = mutable.Set.empty[Int]
    var m = Measured(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    private def ours(p: java.util.Properties) = p != null && p.getProperty("spark.jobGroup.id") == group
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (ours(e.properties)) m = m.copy(jobs = m.jobs + 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (ours(e.properties)) stageIds += e.stageInfo.stageId
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageIds(e.stageInfo.stageId)) m = m.copy(stages = m.stages + 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageIds(e.stageId)) {
        m = m.copy(tasks = m.tasks + 1)
        Option(e.taskMetrics).foreach(t => m = m.copy(cpuNs = m.cpuNs + t.executorCpuTime,
          shuffleWriteBytes = m.shuffleWriteBytes + t.shuffleWriteMetrics.bytesWritten,
          shuffleWriteRecords = m.shuffleWriteRecords + t.shuffleWriteMetrics.recordsWritten,
          shuffleReadBytes = m.shuffleReadBytes + t.shuffleReadMetrics.totalBytesRead,
          memSpill = m.memSpill + t.memoryBytesSpilled, diskSpill = m.diskSpill + t.diskBytesSpilled,
          peakExecMem = math.max(m.peakExecMem, t.peakExecutionMemory)))
      }
  }

  // the thread-local properties SparkContext.setJobGroup sets
  private val groupProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Runs `body` under a fresh job group described by `label` and
    * returns its result with what it cost. Jobs the body starts from
    * its thread inherit the group, broadcast exchanges included, so
    * calls measured at once on one session are charged apart. The bus
    * is drained first, so the record is complete when `measure`
    * returns. The caller's job group and description are put back,
    * also when `body` throws.
    */
  def measure[T](spark: SparkSession, label: String)(body: => T): (T, Measured) = {
    val sc = spark.sparkContext
    val saved = groupProps.map(k => k -> sc.getLocalProperty(k))
    val group = s"graft-measure-${ids.incrementAndGet()}"
    val listener = new GroupListener(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, label)
      val compiled = GraftConf.codegenCompiles
      val t0 = System.nanoTime()
      val r = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val compiles = GraftConf.codegenCompiles - compiled
      GraftColumnBridge.drainListenerBus(sc)
      (r, listener.m.copy(wallS = wallS, compiles = compiles))
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(listener)
    }
  }

  /** Produces `df`'s whole result and returns its row count. The rows
    * go to the `noop` sink, so every output column is computed (a
    * `count()` lets Catalyst prune them), and the count rides the same
    * write as a named observed metric, read off the write's query
    * execution once the bus has delivered it. Not through an
    * `Observation`: that sets the session's non-serializable
    * observation manager, after which any task closure that captures
    * the session (q9j's random-forest training summary does) fails
    * with "Task not serializable". It never nests a [[measure]], so a
    * caller's enclosing `measure` is charged every job it starts.
    */
  def materialize(df: DataFrame): Long = {
    val name = s"graft_rows_${ids.incrementAndGet()}"
    @volatile var rows = Option.empty[Long]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach(r => rows = Some(r.getLong(0)))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val spark = df.sparkSession
    spark.listenerManager.register(listener)
    try {
      df.observe(name, count(lit(1))).write.format("noop").mode("overwrite").save()
      GraftColumnBridge.drainListenerBus(spark.sparkContext)
      rows.getOrElse(throw new IllegalStateException(s"the noop write reported no $name"))
    } finally spark.listenerManager.unregister(listener)
  }
}
