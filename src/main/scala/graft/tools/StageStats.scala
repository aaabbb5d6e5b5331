package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
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
  * query path.
  *
  * A stage is labelled with the first graft frame of its own call site,
  * skipping the shared lineage-barrier helpers (`Dedup.truncateLineage`,
  * `truncateLineageLazy`, `releaseTruncated`), so a barrier's stages name
  * the operator that took the barrier.
  * Stages that adaptive execution submits from its own threads have none
  * (their call site is a `CompletableFuture` frame), so they take the
  * first graft frame of the SQL execution their job runs under, or that
  * execution's short call site. */
final class StageStats(sc: SparkContext) extends SparkListener {
  import StageStats.Stage

  private val rows = new ConcurrentLinkedQueue[Stage]()
  private val peak = new AtomicLong(0L)
  // listener-bus thread only: the SQL execution of each running stage's
  // job, and each running execution's first graft frame
  private val stageExecution = scala.collection.mutable.HashMap.empty[Int, Long]
  private val executionWhere = scala.collection.mutable.HashMap.empty[Long, String]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .foreach(id => e.stageIds.foreach(stageExecution(_) = id.toLong))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionWhere(s.executionId) =
        StageStats.graftFrame(s.details).getOrElse(s.description)
    case s: SparkListenerSQLExecutionEnd => executionWhere.remove(s.executionId)
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val execution = stageExecution.remove(si.stageId)
    val where = StageStats.graftFrame(si.details)
      .orElse(execution.flatMap(executionWhere.get))
      .getOrElse(si.name.takeWhile(_ != '\n').trim)
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
  /** The first graft frame of a call-site stack, skipping the
    * diagnostics mains' own and the lineage-barrier helpers'. */
  private def graftFrame(stack: String): Option[String] =
    stack.linesIterator.find(l => l.contains("graft") && !l.contains("tools") &&
      !BarrierHelpers.exists(l.contains)).map(_.trim)

  /** Frame prefixes of the barrier helpers (the first also matches
    * `truncateLineageLazy`). */
  private val BarrierHelpers = Seq("Dedup$.truncateLineage", "Dedup$.releaseTruncated")

  /** One completed stage: `where` is the first graft (non-tools,
    * non-barrier-helper) frame of its call site or of its SQL
    * execution's, times are ms, byte counts are bytes. */
  final case class Stage(id: Int, where: String, wallMs: Long, runMs: Long,
                         cpuMs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, tasks: Int)
}
