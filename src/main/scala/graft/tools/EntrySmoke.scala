package graft.tools

import graft.{EngineContext, SparkEntry}

/** Flagship smoke main — the driver's `entry()` rows>0 check, runnable
  * locally: builds a session, runs [[SparkEntry.entry]] on sf0.001, and
  * exits non-zero on an empty result. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = EngineContext.session()
    val n = SparkEntry.entry(spark).count()
    println(s"[entry-smoke] rows = $n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
