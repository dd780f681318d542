package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Counters per call, collected from Spark's listener bus.
  *
  * The harness runs every call under a job group named
  * `pass|op|phase`; each job, stage and task is charged to the group it
  * started under. Jobs and stages of groups that `traced` accepts are
  * also kept as spans for the trace, next to the harness's own spans.
  * Listener events arrive late, so traced-ness is a property of the
  * group, not of the moment an event is seen.
  */
final class Recorder(traced: String => Boolean) extends SparkListener {
  import Recorder._

  private val counters = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]

  private def acc(group: String): Counters =
    counters.getOrElseUpdate(group, new Counters)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      val c = acc(g)
      c.jobs += 1
      // A job's last stage is named after its call site. Parquet schema
      // inference runs one job per table read ("parquet at ..."); every
      // other job started while a frame is built is eager staging work.
      val site = e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)
      if (site.startsWith("parquet at ")) c.schemaJobs += 1
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach { s =>
        stageGroup.getOrElseUpdate(s, g)
        stageJob.getOrElseUpdate(s, e.jobId)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      if (traced(g))
        spanBuf += Span(s"job${e.jobId}", "job", g, t0.toDouble, e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(g => stageGroup(e.stageInfo.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      acc(g).stages += 1
      if (traced(g)) for (s <- info.submissionTime; t <- info.completionTime)
        spanBuf += Span(s"stage${info.stageId}.${info.attemptNumber()}", "stage",
          stageJob.get(info.stageId).fold(g)(j => s"job$j"), s.toDouble, t.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = acc(g)
      c.tasks += 1
      if (e.taskInfo.attemptNumber > 0 || e.taskInfo.failed) c.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) c.scanTasks += 1
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Counters of one group; zero when no job ran under it. */
  def get(group: String): Counters = synchronized {
    counters.getOrElse(group, new Counters)
  }

  /** Adds a span recorded by the harness around its own calls. */
  def add(span: Span): Unit = synchronized { spanBuf += span }

  def spans: Seq[Span] = synchronized { spanBuf.toList }
}

object Recorder {
  final class Counters {
    var jobs, schemaJobs, stages, tasks, scanTasks, retries = 0L
    var cpuNs, runMs, gcMs = 0L
    var shuffleBytes, shuffleRecords, spillBytes, peakMem = 0L
    var inputBytes, inputRecords, outputBytes, outputRecords = 0L

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "schema_jobs" -> schemaJobs, "stages" -> stages,
      "tasks" -> tasks, "scan_tasks" -> scanTasks, "task_retries" -> retries,
      "cpu_s" -> cpuNs / 1e9, "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
      "shuffle_bytes" -> shuffleBytes, "shuffle_records" -> shuffleRecords,
      "spill_bytes" -> spillBytes, "peak_mem_bytes" -> peakMem,
      "input_bytes" -> inputBytes, "input_records" -> inputRecords,
      "output_bytes" -> outputBytes, "output_records" -> outputRecords)
  }

  /** One interval of the trace, in epoch milliseconds; `parent` is the id
    * of the span that caused it.
    */
  final case class Span(id: String, kind: String, parent: String,
                        startMs: Double, endMs: Double) {
    def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind,
      "parent" -> parent, "start_ms" -> startMs, "end_ms" -> endMs)
  }
}
