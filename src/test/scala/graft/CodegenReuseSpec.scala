package graft

import org.apache.spark.metrics.source.CodegenMetrics
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

  test("a second round of the TPC-H texts compiles nothing") {
    val ctx = EngineContext.forDir(spark, TestSpark.sfDir)
    val texts = TpchQueries.oracleSql.toSeq.sortBy(_._1).map(_._2)
    def round(): Unit = {
      texts.foreach(ctx.sql(_).collect())
      SparkEntry.entry(spark).collect()
    }
    assert(compilesIn(round()) > 0)
    val again = compilesIn(round())
    assert(again == 0, s"the repeated round compiled $again classes")
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
