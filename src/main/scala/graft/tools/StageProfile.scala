package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.EngineContext

/** Empirical per-stage profile of one registered query (guide §1: decide
  * whether time goes to shuffle, compute, or scheduling before touching
  * anything). Runs the query through the noop sink with a listener
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineContext.session(s"local[$cpus]")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    final case class St(id: Int, name: String, wallMs: Long, runMs: Long,
                        cpuMs: Long, srMB: Double, swMB: Double,
                        spillMB: Double, tasks: Int)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    var record = false
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val where = si.details.linesIterator
            .find(l => l.contains("graft") && !l.contains("tools"))
            .getOrElse(si.name.takeWhile(_ != '\n')).trim
          stages += St(si.stageId, where,
            (for {c <- si.completionTime; s <- si.submissionTime} yield c - s)
              .getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.diskBytesSpilled / 1e6, si.numTasks)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val fn = graft.SparkEntry.queries(query)
    var wall = 0.0
    for (i <- 1 to runs) {
      spark.catalog.clearCache()
      record = i == runs
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[stage-profile] run $i: $wall%.2f s")
    }
    spark.sparkContext.removeSparkListener(listener)
    // listener events drain asynchronously
    Thread.sleep(1000)

    println(f"query=$query wall=$wall%.2f s stages=${stages.size} " +
      f"stageWallSum=${stages.map(_.wallMs).sum / 1000.0}%.2f s " +
      f"runSum=${stages.map(_.runMs).sum / 1000.0}%.2f s")
    println("  wall_ms run_ms cpu_ms shufR_MB shufW_MB spill_MB tasks  stage")
    stages.sortBy(-_.wallMs).take(40).foreach { s =>
      println(f"  ${s.wallMs}%7d ${s.runMs}%6d ${s.cpuMs}%6d ${s.srMB}%8.1f " +
        f"${s.swMB}%8.1f ${s.spillMB}%8.1f ${s.tasks}%5d  [${s.id}] ${s.name.take(110)}")
    }
    spark.stop()
  }
}
