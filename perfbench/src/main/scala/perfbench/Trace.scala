package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** One timed interval of the client thread, around a call into a layer. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def holds(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** Spans of the client thread, kept in memory and written once at the end.
  * With tracing off every call is a plain pass-through. */
final class Tracer(val run: String) {
  var enabled = false
  val spans = new ArrayBuffer[Span]
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.fold(-1)(_._1)
      stack = (id, name, System.nanoTime(), System.currentTimeMillis()) :: stack
      try body
      finally {
        val (_, _, t0, m0) = stack.head
        stack = stack.tail
        spans += Span(id, name, parent, run, t0, System.nanoTime(), m0, System.currentTimeMillis())
      }
    }

  /** Span duration minus the part of it its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":${Stats.json(s.name)},"parent":${s.parent},""" +
        s""""run":${Stats.json(s.run)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${Stats.json(selfSeconds(s))}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Counters from Spark's public listener interfaces. Registered only in the
  * traced run; events are kept raw and attributed after the run. */
final class Recorder extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Task(launchMs: Long, finishMs: Long, ok: Boolean, runMs: Long, cpuNs: Long,
                        gcMs: Long, deserMs: Long, inBytes: Long, inRows: Long, outBytes: Long,
                        outRows: Long, shWrite: Long, shWriteNs: Long, shRead: Long,
                        fetchWaitMs: Long, resultBytes: Long, spillMem: Long, spillDisk: Long,
                        peakExec: Long)
  final case class Block(ms: Long, broadcast: Option[Long], bytes: Long)
  final case class Plan(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
                        ops: Int, codegenOps: Int, exchanges: Int)

  val jobs = new ArrayBuffer[Job]
  val tasks = new ArrayBuffer[Task]
  val blocks = new ArrayBuffer[Block]
  val plans = new ArrayBuffer[Plan]
  val stageEnds = new ArrayBuffer[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += Task(i.launchTime, i.finishTime, i.successful, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime, m.resultSize,
      m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory)
    else tasks += Task(i.launchTime, i.finishTime, i.successful, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      0, 0, 0, 0, 0, 0)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.storageLevel.isValid) b.blockId match {
      case BroadcastBlockId(id, field) if field.startsWith("piece") =>
        blocks += Block(System.currentTimeMillis(), Some(id), b.memSize + b.diskSize)
      case _: RDDBlockId =>
        blocks += Block(System.currentTimeMillis(), None, b.memSize + b.diskSize)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).fold(0L)(_.durationMs)
    val startMs = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    val plan: SparkPlan = qe.executedPlan
    var ops, inCodegen, exchanges = 0
    // Operators between a WholeStageCodegen node and its InputAdapters are
    // fused; AQE wrappers and query stages are structure, not operators.
    def walk(p: SparkPlan, fused: Boolean): Unit = p match {
      case w: WholeStageCodegenExec => walk(w.child, fused = true)
      case i: InputAdapter => walk(i.child, fused = false)
      case _ if p.getClass.getName.contains(".adaptive.") =>
        allChildren(p).foreach(walk(_, fused))
      case _ =>
        ops += 1
        if (fused) inCodegen += 1
        p match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
          case _ =>
        }
        p.children.foreach(walk(_, fused))
        p.subqueries.foreach(walk(_, fused = false))
    }
    walk(plan, fused = false)
    synchronized {
      plans += Plan(startMs, ms("analysis"), ms("optimization"),
        ms("planning"), ops, inCodegen, exchanges)
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
