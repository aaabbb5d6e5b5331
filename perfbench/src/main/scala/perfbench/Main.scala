package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.EngineContext

/** The benchmark's JVM side. Usage:
  * {{{
  * Main --generate 1 --workload NAME --seed N --work DIR
  * Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR --fixture DIR --out FILE
  * }}}
  * The first form writes the workload's seeded inputs under DIR. The second
  * sets the workload up once, cold, warms it, runs the closed loop for S
  * seconds of operations, checks the outputs and writes a result record to
  * FILE. run.py drives both, each in a JVM of its own. */
object Main {

  final case class Phase(labels: Seq[String], latencies: Seq[Double], cpu: Seq[Double],
                         traced: Seq[Boolean]) {
    def ops: Int = latencies.size
    def where(xs: Seq[Double], tr: Boolean): Seq[Double] = xs.zip(traced).collect { case (x, `tr`) => x }
  }

  /** A traced phase alternates untraced and traced rounds, starting and
    * ending untraced, so each traced round sits between two untraced ones
    * and a linear drift of the latencies cancels out of the
    * traced-vs-untraced comparison. */
  def tracedRound(round: Int): Boolean = round % 2 == 1

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val work = opts("work")
    val n = Runtime.getRuntime.availableProcessors
    val master = s"local[$n]"
    val w = Workload(name, seed, work, opts.getOrElse("fixture", ""))
    if (opts.contains("generate")) {
      w.generate(work)
      return
    }
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val loadBefore = loadAvg()
    val t = new Tracer(s"$name-$seed")
    val summary = ArrayBuffer.empty[String]
    val firstDigest = mutable.Map.empty[String, String]
    var attempted = 0
    var failed = 0

    val marks = ArrayBuffer.empty[(String, Double)]
    def mark(what: String): Unit = marks += what -> (System.nanoTime() - mainStart) / 1e9

    def op(ctx: EngineContext, label: String): Unit = {
      attempted += 1
      val ok = try {
        val d = t("op")(w.run(ctx, label, t))
        firstDigest.getOrElseUpdate(label, d) == d
      } catch {
        case e: Exception =>
          System.err.println(s"operation $label failed: $e")
          false
      }
      if (!ok) failed += 1
    }

    // Set-up, in a JVM that has run nothing yet: session build, table
    // registration and the first (cold) operation.
    val spark = EngineContext.session(master)
    val sessionS = (System.nanoTime() - mainStart) / 1e9
    val ctx = w.register(spark, work)
    val registerS = (System.nanoTime() - mainStart) / 1e9 - sessionS
    op(ctx, w.label(0))
    val setupS = (System.nanoTime() - mainStart) / 1e9
    w.afterOp(ctx, w.label(0))
    mark("set-up")
    var opIndex = 1
    (0 until w.warmOps).foreach { _ =>
      op(ctx, w.label(opIndex))
      w.afterOp(ctx, w.label(opIndex))
      opIndex += 1
    }
    mark("warm-up")

    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val rec = new Recorder

    // Closed loop: whole rounds of operations until `seconds` of operation
    // time and at least one round (three when traced). In a traced phase,
    // the rounds `tracedRound` picks run with the spans and listeners on;
    // the others run as in the timed run.
    val phaseStart = opIndex
    val minOps = (if (traced) 3 else 1) * w.roundSize
    val lat = ArrayBuffer.empty[Double]
    val labels = ArrayBuffer.empty[String]
    val cpuS = ArrayBuffer.empty[Double]
    val tracedOps = ArrayBuffer.empty[Boolean]
    def more: Boolean = {
      val done = opIndex - phaseStart
      done % w.roundSize != 0 || lat.sum < seconds || done < minOps ||
        (traced && tracedRound(done / w.roundSize - 1))
    }
    while (more) {
      val i = opIndex - phaseStart
      val on = traced && tracedRound(i / w.roundSize)
      if (on && i % w.roundSize == 0) { rec.register(spark); t.enabled = true }
      val label = w.label(opIndex)
      val c0 = cpu.getProcessCpuTime
      val t0 = System.nanoTime()
      op(ctx, label)
      lat += (System.nanoTime() - t0) / 1e9
      cpuS += (cpu.getProcessCpuTime - c0) / 1e9
      labels += label
      tracedOps += on
      if (on && (i + 1) % w.roundSize == 0) { t.enabled = false; rec.unregister(spark) }
      w.afterOp(ctx, label)
      opIndex += 1
    }
    val phase = Phase(labels.toSeq, lat.toSeq, cpuS.toSeq, tracedOps.toSeq)
    val rssMb = peakRssMb()
    mark(if (traced) "traced loop" else "timed loop")

    val checks = w.checks(ctx)
    attempted += checks.size
    failed += checks.count(!_._2)
    val sqlTexts = w match {
      case s: SqlTpch => s.texts
      case _ => Map.empty[String, String]
    }
    spark.stop()
    mark("checks")
    val loadAfter = loadAvg()

    // the timed run's statistics cover every operation of its loop; the
    // traced run's, its untraced rounds
    val plain = phase.where(phase.latencies, false)
    val s = Stats.summarize(plain)
    val cpuPerUnit = phase.where(phase.cpu, false).sum / (plain.size * w.unitsPerOp)
    val e2e = Seq(
      Stats.Metric("setup_s", setupS, "s"),
      Stats.Metric("op_p50_s", s.p50, "s"),
      Stats.Metric("cpu_s_per_unit", cpuPerUnit, "s"))

    val env = Seq(
      "nproc" -> n.toString, "master" -> master,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "load_before" -> loadBefore, "load_after" -> loadAfter)
    summary += env.map { case (k, v) => s"$k=$v" }.mkString("env: ", " ", "")
    summary += marks.map { case (k, v) => f"$k $v%.1f" }.mkString("wall since main at end of: ", ", ", " s")
    summary += f"setup: $setupS%.3f s (session $sessionS%.3f, register $registerS%.3f, first operation " +
      f"${setupS - sessionS - registerS}%.3f)"
    val opName = if (w.unit == "query") "query" else "pass"
    summary += s"$opName latency${if (traced) " (untraced rounds)" else ""}: ${s.describe("s")}" +
      s.tail.fold(" (no percentile has ten samples beyond it)")(_ => "")
    summary += plain.map(x => f"$x%.3f").mkString(s"$opName latencies s: ", " ", "")
    val perS = plain.size / plain.sum
    summary += f"${opName}_p50_s=${s.p50}%.4f s  " + (w match {
      case _: SqlTpch => f"queries_per_s=$perS%.3f 1/s"
      case _: Curation => f"docs_per_s=${w.unitsPerOp * 1000 * perS}%.1f docs/s"
      case _ => f"passes_per_s=$perS%.4f 1/s"
    })
    summary += phase.labels.zip(phase.latencies).zip(phase.traced).filter(!_._2).map(_._1)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (l, xs) => f"$l=${Stats.median(xs.map(_._2))}%.3f" }.mkString("per-label median s: ", " ", "")
    summary += f"cpu_s_per_unit=$cpuPerUnit%.4f s per ${w.unit}"
    summary += f"fail_ratio=${failed.toDouble / attempted}%.4f ($failed/$attempted)  peak_rss_mb=$rssMb%.0f MiB"
    checks.foreach { case (c, ok, d) => summary += s"check ${if (ok) "ok  " else "FAIL"} $c: $d" }

    val metrics = if (!traced) e2e else {
      val tracedLat = phase.where(phase.latencies, true)
      summary += s"traced rounds: ${Stats.summarize(tracedLat).describe("s")}"
      val layer = Layers.metrics(rec, t, n, w, phase.where(phase.cpu, true).sum)
      val setupLayer = Seq(
        Stats.Metric("peak_rss_mb", rssMb, "MiB"),
        Stats.Metric("setup.session.s", sessionS, "s"),
        Stats.Metric("setup.register.s", registerS, "s"),
        Stats.Metric("trace.overhead", Stats.median(tracedLat) / Stats.median(plain) - 1, "ratio"))
      t.write(java.nio.file.Paths.get(work, "spans.jsonl"))
      layer ++ setupLayer
    }
    metrics.foreach(m => summary += f"  ${m.name}%-36s ${m.value}%16.6f ${m.unit}")

    val json = new StringBuilder
    json ++= s"""{"workload":${Stats.json(name)},"seed":$seed,"trace":${if (traced) 1 else 0},"""
    json ++= s""""attempted":$attempted,"failed":$failed,"""
    json ++= env.map { case (k, v) => s"${Stats.json(k)}:${Stats.json(v)}" }.mkString("\"env\":{", ",", "},")
    json ++= summary.map(Stats.json).mkString("\"summary\":[", ",", "],")
    json ++= sqlTexts.map { case (k, v) => s"${Stats.json(k)}:${Stats.json(v)}" }
      .mkString("\"sql_texts\":{", ",", "},")
    json ++= metrics.map(m => s"${Stats.json(m.name)}:{" +
      s""""value":${Stats.json(m.value)},"unit":${Stats.json(m.unit)}}""").mkString("\"metrics\":{", ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")), json.toString.getBytes("UTF-8"))
  }

  private def loadAvg(): String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ").take(3).mkString(",")).getOrElse("n/a")

  /** VmHWM, the process's peak resident set, in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
