package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work summed over the jobs that carry one tag. */
final case class Work(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
                      shuffleBytes: Long = 0, spillBytes: Long = 0,
                      peakTaskMem: Long = 0, maxTaskMs: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    math.max(peakTaskMem, o.peakTaskMem), math.max(maxTaskMs, o.maxTaskMs))
}

/** Attributes Spark jobs and tasks to the tag in the job-local property
  * [[Meter.TagKey]] that was set on the submitting thread when the job was
  * submitted — not to time windows, which the asynchronous listener
  * bus would smear across neighbouring calls. Read only after
  * [[drain]]. */
final class Meter(sc: SparkContext) extends SparkListener {
  private val stageTag = scala.collection.mutable.Map[Int, String]()
  private val work = scala.collection.mutable.Map[String, Work]()

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Meter.TagKey)))
      .getOrElse(Meter.Untagged)

  private def add(tag: String, w: Work): Unit =
    work(tag) = work.getOrElse(tag, Work()) + w

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add(tagOf(e.properties), Work(jobs = 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTag(e.stageInfo.stageId) = tagOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val tag = stageTag.getOrElse(e.stageId, Meter.Untagged)
    if (m == null) add(tag, Work(tasks = 1))
    else add(tag, Work(tasks = 1, cpuNs = m.executorCpuTime,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.diskBytesSpilled, peakTaskMem = m.peakExecutionMemory,
      maxTaskMs = m.executorRunTime))
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.BusDrain(sc)

  /** Drain, then hand back and clear the per-tag totals. */
  def take(): Map[String, Work] = {
    drain()
    synchronized {
      val out = work.toMap
      work.clear()
      stageTag.clear()
      out
    }
  }

  /** Run `body` with every job it submits tagged `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Meter.TagKey)
    sc.setLocalProperty(Meter.TagKey, tag)
    try body finally sc.setLocalProperty(Meter.TagKey, prev)
  }
}

object Meter {
  val TagKey = "perfbench.tag"
  val Untagged = "untagged"
}
