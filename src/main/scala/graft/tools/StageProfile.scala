package graft.tools

/** Empirical per-stage profile of one registered query (guide §1: decide
  * whether time goes to shuffle, compute, or scheduling before touching
  * anything). Runs the query through the noop sink with [[StageStats]]
  * recording every completed stage's wall, executor-run, shuffle and
  * spill totals, then prints the top stages by wall. Builder diagnostics
  * only — never a query path.
  *
  * Usage: StageProfile SF_DIR QUERY [runs=2] — the LAST run is profiled
  * (earlier runs absorb JIT/codegen warmup).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val query = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Bench.session()
    val stats = new StageStats(spark.sparkContext)

    val fn = graft.SparkEntry.queries(query)
    var wall = 0.0
    for (i <- 1 to runs) {
      spark.catalog.clearCache()
      stats.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[stage-profile] run $i: $wall%.2f s")
    }
    val stages = stats.stages
    stats.close()

    val mb = 1e6
    println(f"query=$query wall=$wall%.2f s stages=${stages.size} " +
      f"stageWallSum=${stages.map(_.wallMs).sum / 1000.0}%.2f s " +
      f"runSum=${stages.map(_.runMs).sum / 1000.0}%.2f s")
    println("  wall_ms run_ms cpu_ms shufR_MB shufW_MB spill_MB tasks  stage")
    stages.sortBy(-_.wallMs).take(40).foreach { s =>
      println(f"  ${s.wallMs}%7d ${s.runMs}%6d ${s.cpuMs}%6d ${s.shuffleReadBytes / mb}%8.1f " +
        f"${s.shuffleWriteBytes / mb}%8.1f ${s.spillBytes / mb}%8.1f ${s.tasks}%5d  [${s.id}] ${s.where.take(110)}")
    }
    spark.stop()
  }
}
