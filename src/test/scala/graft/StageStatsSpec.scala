package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphRank
import graft.tools.StageStats

/** The diagnostics mains' one stage-statistics listener: every read sees
  * the stages of the action before it, reset() clears, close() stops. */
class StageStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def repartitionSort(): Unit =
    spark.range(0, 20000, 1, 4).repartition(4, col("id") % 7)
      .sort(col("id").desc).write.format("noop").mode("overwrite").save()

  test("a repartition+sort job records shuffle-writing stages and peak task memory; reset clears; close stops") {
    val stats = new StageStats(spark.sparkContext)
    try {
      repartitionSort()
      val stages = stats.stages
      assert(stages.exists(_.shuffleWriteBytes > 0), stages)
      assert(stages.forall(_.tasks > 0), stages)
      assert(stats.peakTaskMemory > 0)

      stats.reset()
      assert(stats.stages.isEmpty && stats.peakTaskMemory == 0L)
    } finally stats.close()
    repartitionSort()
    assert(stats.stages.isEmpty && stats.peakTaskMemory == 0L)
  }

  test("stages that adaptive execution submits are labelled with the caller's graft frame") {
    val stats = new StageStats(spark.sparkContext)
    try {
      repartitionSort()
      val stages = stats.stages
      // the shuffle map stages run from AQE's threads, whose own call
      // site is a CompletableFuture frame
      assert(stages.size > 1 && stages.forall(_.where.contains("StageStatsSpec")), stages)
    } finally stats.close()
  }

  test("a lineage barrier's stages are labelled with the operator that took it") {
    import spark.implicits._
    val edges = (1L to 30L).flatMap(i => Seq((i, i % 7 + 1), (i, (i * 3) % 30 + 1)))
      .toDF("src", "dst")
    val stats = new StageStats(spark.sparkContext)
    try {
      // both of triangleCounts' barriers go through Dedup.truncateLineage
      GraphRank.triangleCounts(edges).collect()
      val stages = stats.stages
      assert(stages.exists(_.where.contains("GraphRank$.triangleCounts")), stages)
      assert(!stages.exists(_.where.contains("truncateLineage")), stages)
    } finally stats.close()
  }
}
