package perfbench

/** Per-layer metrics of the traced rounds of a phase, each normalized per
  * traced operation. The list is the same for every workload; a layer a
  * workload does not touch reads 0. */
object Layers {

  /** Bench-owned spans around calls into the engine's public functions. */
  val Calls: Seq[String] = Seq(
    "EngineContext.sql", "collect", "EngineContext.createTable", "EngineContext.saveTable",
    "TextAnalysis.langPredicted", "localCheckpoint", "Dedup.nearDupPairsAutoManaged",
    "Dedup.connectedComponents", "Packing.emitChunks",
    "Bpe.bpeMerges", "GraphRank.pageRank", "sink")

  /** Engine counters a workload exposes, with units; absent ones read 0. */
  val Counters: Seq[(String, String)] = Seq(
    "Dedup.cc_rounds" -> "count", "GraphRank.rounds" -> "count",
    "Dedup.pairs" -> "count", "Dedup.guard_est_pairs" -> "count",
    "Dedup.pairs_per_guard_est" -> "ratio", "Dedup.planted_pairs" -> "count",
    "Dedup.planted_recall" -> "ratio")

  /** Union length of [lo, hi] intervals clipped to [from, to]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var end = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** `processCpuS` is the JVM's CPU time over the traced operations; what
    * the tasks did not use of it went to the driver (planning, codegen,
    * scheduling) and to the JVM itself (JIT, GC). */
  def metrics(rec: Recorder, t: Tracer, slots: Int, w: Workload,
              processCpuS: Double): Seq[Stats.Metric] = rec.synchronized {
    val spans = t.spans.toSeq
    val opSpans = spans.filter(_.name == "op")
    val ops = opSpans.size.toDouble
    // events count when they fall inside a traced operation
    def inWindow(ms: Long) = opSpans.exists(_.holds(ms))
    val jobs = rec.jobs.filter(j => inWindow(j.startMs)).toSeq
    val tasks = rec.tasks.filter(x => inWindow(x.launchMs)).toSeq
    val plans = rec.plans.filter(x => inWindow(x.startMs)).toSeq
    val blocks = rec.blocks.filter(x => inWindow(x.ms)).toSeq

    // a job belongs to the innermost span whose window holds its start
    def owner(ms: Long): Option[Span] =
      spans.filter(_.holds(ms)).sortBy(s => (s.startMs, s.id)).lastOption
    val jobsBySpan = jobs.groupBy(j => owner(j.startMs).map(_.name).getOrElse("-"))
    def jobsUnder(name: String): Int =
      jobs.count(j => spans.exists(s => s.name == name && s.holds(j.startMs)))

    val taskIntervals = tasks.map(x => (x.launchMs, x.finishMs))
    val noTaskMs = opSpans.map(s => (s.endMs - s.startMs) - covered(taskIntervals, s.startMs, s.endMs)).sum
    val opWallS = opSpans.map(_.seconds).sum
    val runS = tasks.map(_.runMs).sum / 1000.0
    val planOps = plans.map(_.ops).sum

    def m(name: String, v: Double, unit: String) = Stats.Metric(name, v, unit)
    def perOp(name: String, v: Double, unit: String) = m(name, v / ops, unit)
    val calls = Calls.flatMap { c =>
      Seq(perOp(s"$c.s", spans.filter(_.name == c).map(_.seconds).sum, "s"),
        perOp(s"$c.jobs", jobsUnder(c), "count"))
    }
    val counters = Counters.map { case (c, unit) => m(c, w.counters.getOrElse(c, 0.0), unit) }
    val orphanJobs = jobsBySpan.getOrElse("op", Nil).size
    Seq(
      perOp("op.self.s", opSpans.map(t.selfSeconds).sum, "s"),
      perOp("op.unattributed_jobs", orphanJobs, "count"),
      perOp("catalyst.analysis.s", plans.map(_.analysisMs).sum / 1000.0, "s"),
      perOp("catalyst.optimization.s", plans.map(_.optimizationMs).sum / 1000.0, "s"),
      perOp("catalyst.planning.s", plans.map(_.planningMs).sum / 1000.0, "s"),
      perOp("catalyst.plans", plans.size, "count"),
      perOp("sched.jobs", jobs.size, "count"),
      perOp("sched.stages", rec.stageEnds.count(inWindow), "count"),
      perOp("sched.tasks", tasks.size, "count"),
      m("sched.job.p50_ms",
        if (jobs.isEmpty) 0.0 else Stats.median(jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble)), "ms"),
      perOp("sched.no_task.s", noTaskMs / 1000.0, "s"),
      perOp("sched.task_failures", tasks.count(!_.ok), "count"),
      perOp("scan.bytes", tasks.map(_.inBytes).sum, "B"),
      perOp("scan.rows", tasks.map(_.inRows).sum, "count"),
      perOp("write.bytes", tasks.map(_.outBytes).sum, "B"),
      perOp("write.rows", tasks.map(_.outRows).sum, "count"),
      perOp("compute.run.s", runS, "s"),
      perOp("compute.cpu.s", tasks.map(_.cpuNs).sum / 1e9, "s"),
      perOp("driver.cpu.s", processCpuS - tasks.map(_.cpuNs).sum / 1e9, "s"),
      perOp("compute.gc.s", tasks.map(_.gcMs).sum / 1000.0, "s"),
      perOp("compute.deser.s", tasks.map(_.deserMs).sum / 1000.0, "s"),
      m("compute.slot_util", if (opWallS > 0) runS / (opWallS * slots) else 0.0, "ratio"),
      m("compute.codegen_share", if (planOps > 0) plans.map(_.codegenOps).sum.toDouble / planOps else 0.0, "ratio"),
      perOp("exchange.write_bytes", tasks.map(_.shWrite).sum, "B"),
      perOp("exchange.read_bytes", tasks.map(_.shRead).sum, "B"),
      perOp("exchange.write.s", tasks.map(_.shWriteNs).sum / 1e9, "s"),
      perOp("exchange.fetch_wait.s", tasks.map(_.fetchWaitMs).sum / 1000.0, "s"),
      perOp("exchange.nodes", plans.map(_.exchanges).sum, "count"),
      perOp("driver.result_bytes", tasks.map(_.resultBytes).sum, "B"),
      perOp("driver.broadcast_bytes", blocks.filter(_.broadcast.isDefined).map(_.bytes).sum, "B"),
      perOp("driver.broadcasts", blocks.flatMap(_.broadcast).distinct.size, "count"),
      perOp("barrier.blocks", blocks.count(_.broadcast.isEmpty), "count"),
      perOp("barrier.bytes", blocks.filter(_.broadcast.isEmpty).map(_.bytes).sum, "B"),
      perOp("spill.memory_bytes", tasks.map(_.spillMem).sum, "B"),
      perOp("spill.disk_bytes", tasks.map(_.spillDisk).sum, "B"),
      m("mem.peak_task_exec_bytes", if (tasks.isEmpty) 0.0 else tasks.map(_.peakExec).max.toDouble, "B")
    ) ++ calls ++ counters
  }
}
