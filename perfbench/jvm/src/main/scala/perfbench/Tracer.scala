package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** What one set of Spark jobs cost: jobs, completed tasks, task time,
  * shuffle bytes (read + written) and the wall span from the first job's
  * start to the last job's end. */
final case class Usage(jobs: Int, tasks: Long, taskS: Double, shuffleBytes: Long,
                       firstStart: Long, lastEnd: Long) {
  def wallS: Double = if (jobs == 0) 0.0 else (lastEnd - firstStart) / 1000.0
}

/** Job and stage spans of the traced run, keyed by job group. The
  * harness scopes each call it makes by a job group of its own; the
  * gateway scopes requests by `gateway-entry-N`; a streaming query's
  * jobs carry its run id, which [[Progress]] maps to a label. */
final class Tracer extends SparkListener {
  final case class Job(id: Int, group: String, desc: String, start: Long, stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final case class Stage(tasks: Int, runMs: Long, shuffleBytes: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val stages = new ConcurrentHashMap[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val job = Job(e.jobId, prop("spark.jobGroup.id"), prop("spark.job.description"),
      e.time, e.stageIds)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, job.group))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null)
      stages.put(si.stageId, Stage(si.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten))
  }

  /** Cost of every job whose group satisfies `pred`. */
  def usage(pred: String => Boolean): Usage = {
    val js = jobs.values.asScala.filter(j => pred(j.group)).toSeq
    val ss = stages.asScala.collect {
      case (id, s) if Option(stageGroup.get(id)).exists(pred) => s
    }
    Usage(js.size, ss.map(_.tasks.toLong).sum, ss.map(_.runMs).sum / 1000.0,
      ss.map(_.shuffleBytes).sum,
      if (js.isEmpty) 0L else js.map(_.start).min,
      if (js.isEmpty) 0L else js.map(_.end).max)
  }

  def groups: Seq[String] = jobs.values.asScala.map(_.group).toSeq.distinct

  def descOf(group: String): String =
    jobs.values.asScala.find(_.group == group).map(_.desc).getOrElse("")

  def jobSpans: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Map("name" -> s"job-${j.id}", "start" -> j.start, "end" -> j.end,
        "parent" -> j.group, "op" -> j.group)
  }
}

/** Per-trigger progress of every streaming query, labelled by the
  * harness: `onQueryStarted` runs synchronously inside `start()`, so the
  * label set just before a start names that query. */
final class Progress extends StreamingQueryListener {
  final case class Batch(label: String, batchId: Long, startMs: Long, triggerMs: Long,
                         durations: Map[String, Long], rows: Long, stateRows: Long,
                         stateCommitMs: Long, watermarkMs: Long)

  @volatile var nextLabel: String = "stream"
  val runLabels = new ConcurrentHashMap[String, String]
  private val batches = new ConcurrentLinkedQueue[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    runLabels.put(e.runId.toString, nextLabel)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val label = Option(runLabels.get(p.runId.toString)).getOrElse("stream")
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val wm = Option(p.eventTime.get("watermark"))
      .map(w => Instant.parse(w).toEpochMilli).getOrElse(Long.MinValue)
    batches.add(Batch(label, p.batchId, Instant.parse(p.timestamp).toEpochMilli,
      d.getOrElse("triggerExecution", 0L), d, p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.commitTimeMs).sum, wm))
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def of(label: String): Seq[Batch] =
    batches.asScala.filter(_.label == label).toSeq.sortBy(_.batchId)

  /** Maps a streaming job group (the query's run id) to its label. */
  def labelOf(group: String): String = Option(runLabels.get(group)).getOrElse(group)
}
