package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
  * Storage lifecycle of the iterative operators: each round's barrier
  * supersedes the previous iterate, whose blocks are dropped as soon as the
  * next one has materialized rather than left for the ContextCleaner. After
  * a call returns, the only new persisted RDD is the one its result reads
  * (none for a result built on the driver), and the result stays readable.
  */
class IterativeLifecycleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** `call`'s new persisted RDDs are exactly the ones its result reads,
    * `expected` of them, and two reads of the result agree. */
  private def assertOnlyResultBlocks(what: String, expected: Int)(call: => DataFrame): Unit = {
    val before = persistedIds
    val df = call
    val during = persistedIds -- before
    assert(during.size == expected, s"$what: expected $expected result RDDs, got $during")
    assert(during.subsetOf(rddIds(df)), s"$what: RDDs $during are not read by the result")
    val first = df.collect().toSet
    assert(first.nonEmpty && df.collect().toSet == first, what)
  }

  private def clicks = (1L to 40L)
    .flatMap(i => Seq((i, i % 7 + 1, 1L), (i, (i * 3) % 40 + 1, 2L)))
    .toDF("src", "dst", "w")

  test("pageRank releases its edge relations and every superseded rank iterate") {
    assertOnlyResultBlocks("pageRank(5)", 1)(GraphRank.pageRank(clicks, 5))
  }

  test("pageRank with no round returns a frame over live vertex blocks") {
    assertOnlyResultBlocks("pageRank(0)", 1)(GraphRank.pageRank(clicks, 0))
  }

  test("labelPropagation and triangleCounts keep only their result blocks") {
    assertOnlyResultBlocks("labelPropagation(4)", 1)(GraphRank.labelPropagation(clicks, 4))
    assertOnlyResultBlocks("triangleCounts", 1)(GraphRank.triangleCounts(clicks))
  }

  test("distributed connectedComponents keeps only the converged edge set") {
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertOnlyResultBlocks("connectedComponents", 1)(
      Dedup.connectedComponents(chain, smallGraphMaxEdges = 0L))
    assert(Dedup.lastDistributedRounds > 1)
  }

  test("the connectedComponents driver fast path leaves no blocks") {
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertOnlyResultBlocks("connectedComponents fast path", 0)(
      Dedup.connectedComponents(chain))
  }

  test("bpeMerges leaves no blocks: its result is built on the driver") {
    val corpus = Seq("low lower lowest newer newest widest", "aaaa banana bandana")
      .toDF("text")
    assertOnlyResultBlocks("bpeMerges(4)", 0)(Bpe.bpeMerges(corpus, "text", 4))
  }
}
