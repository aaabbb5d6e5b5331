package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftshim.ListenerDrain

/** The one stage-statistics listener of the diagnostics mains
  * (StageProfile, ScalingBench): a row per completed stage plus the
  * maximum per-task `peakExecutionMemory` (the task's high-water mark
  * across its sort/agg/join buffers, i.e. the per-task budget a cluster
  * executor must grant). Registers itself on construction.
  *
  * Listener events are delivered asynchronously, so every read, [[reset]]
  * and [[close]] first drains the listener bus: a read right after an
  * action sees every stage and task of that action, and a reset leaves no
  * earlier event still in flight. Diagnostics only — never a
  * query path. */
final class StageStats(sc: SparkContext) extends SparkListener {
  import StageStats.Stage

  private val rows = new ConcurrentLinkedQueue[Stage]()
  private val peak = new AtomicLong(0L)
  sc.addSparkListener(this)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val where = si.details.linesIterator
      .find(l => l.contains("graft") && !l.contains("tools"))
      .getOrElse(si.name.takeWhile(_ != '\n')).trim
    rows.add(Stage(si.stageId, where,
      (for {c <- si.completionTime; s <- si.submissionTime} yield c - s).getOrElse(0L),
      m.executorRunTime, m.executorCpuTime / 1000000,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, si.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      peak.accumulateAndGet(e.taskMetrics.peakExecutionMemory, (a, b) => math.max(a, b))

  /** Completed stages since construction or the last [[reset]], in
    * completion order. */
  def stages: Seq[Stage] = { ListenerDrain.drain(sc); rows.asScala.toSeq }

  /** Max `peakExecutionMemory` over the tasks since the last [[reset]]. */
  def peakTaskMemory: Long = { ListenerDrain.drain(sc); peak.get() }

  def reset(): Unit = { ListenerDrain.drain(sc); rows.clear(); peak.set(0L) }

  /** Deliver what is in flight, then stop listening. */
  def close(): Unit = { ListenerDrain.drain(sc); sc.removeSparkListener(this) }
}

object StageStats {
  /** One completed stage: `where` is its first graft (non-tools) call-site
    * line, times are ms, byte counts are bytes. */
  final case class Stage(id: Int, where: String, wallMs: Long, runMs: Long,
                         cpuMs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, tasks: Int)
}
