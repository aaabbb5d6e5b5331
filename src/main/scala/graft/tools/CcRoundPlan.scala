package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Dumps the formatted physical plan of ONE connected-components round
  * (the next state built from smallStar ∘ largeStar over a checkpointed
  * state) — the iterative plan that q66b's end-of-query explain hides
  * behind per-round localCheckpoint barriers. Diagnostics for the CC
  * round structure; not a query path.
  *
  * Usage: CcRoundPlan SF_DIR OUT_DIR SUFFIX — writes
  * OUT_DIR/cc_round_SUFFIX.txt from the q44 pair graph of SF_DIR.
  */
object CcRoundPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    val spark = graft.Bench.session()
    Files.createDirectories(Paths.get(outDir))
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val pairs = graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text", 0.7).df
    val state = graft.operators.Dedup.ccStarState(graft.operators.Dedup.ccCanon(
      pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))))
      .localCheckpoint()
    val round = graft.operators.Dedup.ccStarState(
      graft.operators.Dedup.ccSmallStar(graft.operators.Dedup.ccLargeStar(state)))
    val plan = round.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    Files.write(Paths.get(outDir, s"cc_round_$suffix.txt"), plan.getBytes("UTF-8"))
    println(s"[cc-round-plan] wrote cc_round_$suffix.txt (" +
      plan.linesIterator.count(_.contains("Exchange")) + " Exchange lines)")
    spark.stop()
  }
}
