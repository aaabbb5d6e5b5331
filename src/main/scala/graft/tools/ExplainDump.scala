package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Bench, QuerySelect, SparkEntry}

/** Builder tooling (optimization rounds): dump `.explain("formatted")` for
  * declared queries to an output directory, one file per query — the plan
  * evidence the round's OPTIMIZATION_rN.md cites (Exchange count, join
  * strategy, PushedFilters/ReadSchema, WholeStageCodegen spans). Explain
  * only ANALYZES (no execution), so this is cheap and safe to run next to
  * other work; note that with AQE the dumped plan is the initial
  * (isFinalPlan=false) physical plan.
  *
  * Usage: ExplainDump SF_DIR OUT_DIR [suffix]   (+ the SPARK_GRAFT_ONLY filter of QuerySelect)
  * writes OUT_DIR/<query>_<suffix>.txt (suffix default "before").
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    val spark = Bench.session()
    Files.createDirectories(Paths.get(outDir))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => QuerySelect.selects(q._1))
    selected.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
