package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.graftshim.ListenerDrain
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphRank
import graft.queries.TpchQueries

/** Generated code is compiled once per JVM, not once per query: a second
  * round of the same work adds no Janino compile. Spark counts every
  * compile (cache misses only) in one JVM-global histogram. With Spark's
  * default 100-entry codegen cache, the TPC-H texts' driver + executor
  * working set evicts each class before its next use and every repeat
  * recompiles; [[EngineContext.session]] sizes the cache above it and
  * drops the AQE stage ID from class names. */
class CodegenReuseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles made by `body`. */
  private def compilesIn(body: => Unit): Long = {
    val before = compiles
    body
    compiles - before
  }

  test("the session reports both codegen settings") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      EngineContext.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  /** The entries of the JVM's codegen cache: one per generated source
    * (comments aside) and class loader it was compiled for, the driver's
    * and the executors' being two. [[EngineContext.session]] sizes the
    * cache above the working set, so these are the compiles so far. The
    * cache is private to CodeGenerator. */
  private def cachedSources(): Set[(AnyRef, CodeAndComment)] = {
    val wrapper = CodeGenerator.getClass.getDeclaredMethod("cache")
    wrapper.setAccessible(true)
    val cache = wrapper.invoke(CodeGenerator)
    cache.getClass.getMethod("cache").invoke(cache)
      .asInstanceOf[org.sparkproject.guava.cache.Cache[(AnyRef, CodeAndComment), AnyRef]]
      .asMap().keySet().asScala.toSet
  }

  /** Runs one text: its compiles and the physical plans its adaptive
    * execution went through, in order (a stage it started and then
    * replanned away compiles too). Expression, exchange, query-stage and
    * codegen-stage ids are blanked: they differ between two analyses or
    * two adaptive runs of one text. */
  private def run(df: => DataFrame): (Long, Seq[String]) = {
    def render(p: SparkPlanInfo, depth: Int): String =
      " " * depth + p.simpleString + "\n" + p.children.map(render(_, depth + 1)).mkString
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(render(u.sparkPlanInfo, 0))
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val n = try { val c = compilesIn(df.collect()); ListenerDrain.drain(sc); c }
      finally sc.removeSparkListener(listener)
    n -> plans.asScala.toSeq.map(_.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("QueryStage \\d+", "QueryStage").replaceAll("WholeStageCodegen \\(\\d+\\)", "")
      // a scan's filter lists are cut at a fixed length, so ids of other
      // widths move the cut; the text fixes them, adaptive runs do not
      .replaceAll("(FileScan \\w+ \\[[^\\]]*\\]).*", "$1"))
  }

  test("a second round of the TPC-H texts compiles nothing") {
    // Adaptive execution picks some join build sides from stage timings
    // (q_tpch_02's part/partsupp join among them), so a text's second run
    // may execute other plans. The claim is per text: a text whose plans
    // repeat compiles nothing; a text whose plans changed compiles only
    // sources the first round never produced.
    val ctx = EngineContext.forDir(spark, TestSpark.sfDir)
    val texts: Seq[(String, () => DataFrame)] =
      TpchQueries.oracleSql.toSeq.sortBy(_._1).map { case (n, q) => n -> (() => ctx.sql(q)) } :+
        ("entry" -> (() => SparkEntry.entry(spark)))
    val first = texts.map { case (n, q) => n -> run(q()) }.toMap
    assert(first.values.map(_._1).sum > 0)
    val seen = cachedSources()
    for ((n, q) <- texts) {
      val before = cachedSources()
      val (again, plans) = run(q())
      if (plans == first(n)._2)
        assert(again == 0, s"$n repeated its plans and compiled $again classes")
      else {
        val fresh = (cachedSources() -- before -- seen).size
        assert(again <= fresh, s"$n changed its plans and compiled $again classes for " +
          s"$fresh sources the first round never produced:\n${first(n)._2.mkString("\n")}" +
          s"\n---\n${plans.mkString("\n")}")
      }
    }
  }

  test("a second pageRank call compiles nothing") {
    import spark.implicits._
    val edges = (1L to 40L).flatMap(i => Seq((i, i % 7 + 1, 1L), (i, (i * 3) % 40 + 1, 2L)))
      .toDF("src", "dst", "w")
    def call(): Unit = GraphRank.pageRank(edges, 5).collect()
    call()
    val again = compilesIn(call())
    assert(again == 0, s"the repeated pageRank call compiled $again classes")
  }
}
