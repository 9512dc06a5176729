package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The program's one `SparkListener`: the job count and, per completed
  * stage, its shuffle write (bytes and records), wall time and summed
  * task time. [[Tool]] `stages` and [[ScaleCheck]] read it through
  * [[measure]], which drains the listener bus on both sides of the
  * measured work, so no event of an earlier action leaks in and none of
  * its own is missed. */
final class StageProfile private (sc: SparkContext) extends SparkListener {
  import StageProfile._

  private val jobs = new AtomicLong(0L)
  private val stages = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val w = i.taskMetrics.shuffleWriteMetrics
    val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    stages.add(Stage(i.stageId, i.name.takeWhile(_ != '\n').take(90),
      w.bytesWritten, w.recordsWritten, wall, i.taskMetrics.executorRunTime))
  }

  /** Run `body`; return its result with the jobs and stages it ran. */
  def measure[T](body: => T): (T, Window) = {
    ListenerDrain(sc)
    val (j0, s0) = (jobs.get(), stages.size)
    val r = body
    ListenerDrain(sc)
    (r, Window(jobs.get() - j0, stages.asScala.drop(s0).toSeq))
  }

  /** Detach, for a session that outlives the measurement. */
  def close(): Unit = sc.removeSparkListener(this)
}

object StageProfile {
  /** One completed stage: shuffle write, wall and summed task time (ms). */
  final case class Stage(id: Int, name: String, shuffleBytes: Long, shuffleRecords: Long,
                         wallMs: Long, taskMs: Long)

  /** What one [[StageProfile.measure]] call saw. */
  final case class Window(jobs: Long, stages: Seq[Stage]) {
    def shuffleBytes: Long = stages.map(_.shuffleBytes).sum
    def shuffleRecords: Long = stages.map(_.shuffleRecords).sum
  }

  def attach(spark: SparkSession): StageProfile = {
    val p = new StageProfile(spark.sparkContext)
    spark.sparkContext.addSparkListener(p)
    p
  }
}
