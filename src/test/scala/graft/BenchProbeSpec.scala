package graft

import org.scalatest.funsuite.AnyFunSuite

/** The r14 environment probes (Bench.memProbe / Bench.jobProbe) return
  * sane, positive readings — they ship in every capture's calibration
  * metadata, so a broken probe would fail the round's bench artifact. */
class BenchProbeSpec extends AnyFunSuite {
  test("memProbe: positive, sub-minute, repeatable within an order of magnitude") {
    val a = Bench.memProbe()
    val b = Bench.memProbe()
    assert(a > 0.0 && a < 60.0, s"memProbe $a s")
    assert(b / a < 10.0 && a / b < 10.0, s"memProbe unstable: $a vs $b")
  }

  test("jobProbe: positive median latency, well under a second per trivial job") {
    val ms = Bench.jobProbe(TestSpark.spark)
    assert(ms > 0.0 && ms < 1000.0, s"jobProbe $ms ms")
  }

  test("calibrate is linear-ish in steps (probe scale sanity)") {
    val (full, _) = Bench.calibrate()
    val (half, _) = Bench.calibrate(Bench.ProbeSteps)
    assert(half < full, "50M-step probe must be cheaper than the 100M loop")
  }

  test("jobWindowDirty: needs BOTH the ratio gate and the absolute excess") {
    // the r14 drift shape: session median 15.4 ms, inflated window 26.9 ms
    // — ratio 1.75 and excess 11.5 ms, exactly what the gate must flag
    assert(Bench.jobWindowDirty(26.9, 15.4))
    // quiet window at the same median
    assert(!Bench.jobWindowDirty(16.0, 15.4))
    // ms-scale jitter: ratio 1.67 but excess 4 ms — NOT dirty (the
    // JobQuietExcessMs floor, the false-dirty guard the verdict asked for)
    assert(!Bench.jobWindowDirty(10.0, 6.0))
    // large absolute excess but ratio under the gate (uniform session
    // load is PE's job, not this gate's)
    assert(!Bench.jobWindowDirty(140.0, 100.0))
  }

  test("controlAdjust: median of observed/reference over the pinned set") {
    // synthetic capture at known per-control ratios against the CURRENT
    // pinned references (r16 re-pinned q143/q176 when their code paths
    // changed, so the spec derives from Bench.Controls instead of
    // hardcoding a historical capture): ratios {1.0, 1.1, 1.2, 1.9, 1.6}
    // — the median must sit on the central control, robust to the two
    // drift-casualty outliers.
    val mult = Map("q143_suffix_ranks" -> 1.0, "q176_top_pc" -> 1.1,
      "q170_ann_ivfpq" -> 1.2, "q_tpch_09" -> 1.9, "q_tpch_21" -> 1.6)
    val obs = Bench.Controls.map { case (k, ref) => k -> ref * mult(k) }
    val (ratio, ratios) = Bench.controlAdjust(obs)
    assert(ratios.size == 5)
    assert(math.abs(ratio - 1.2) < 1e-9, s"got $ratio")
    assert(ratio < 1.3)
  }

  test("planRuns: generous budget keeps the default plan (3 runs; stable at 2)") {
    val order = Seq("qa", "qb", "qc", "q143_suffix_ranks")
    val est = Map("qa" -> 1.0, "qb" -> 2.0, "qc" -> 4.0,
      "q143_suffix_ranks" -> 12.0)
    val plan = Bench.planRuns(order, est, Set("q143_suffix_ranks"), budget = 1000.0)
    assert(plan("qa") == 3 && plan("qb") == 3 && plan("qc") == 3)
    assert(plan("q143_suffix_ranks") == 2,
      "stable queries are 2-run regardless of budget (r15 verdict #2)")
  }

  test("planRuns: over-budget demotes the most expensive 3-run queries first, floor 1 only after all hit 2") {
    val order = Seq("qa", "qb", "qc")
    val est = Map("qa" -> 1.0, "qb" -> 10.0, "qc" -> 100.0)
    // default plan = 333; budget 250 → qc (the 100 s query) demotes to 2
    val p1 = Bench.planRuns(order, est, Set.empty, budget = 250.0, overheadSec = 0.0)
    assert(p1("qc") == 2 && p1("qb") == 3 && p1("qa") == 3)
    // budget 120 → everything to 2 runs (222 > 120), then the floor
    // drops and qc/qb degrade to 1 (113 ≤ 120)
    val p2 = Bench.planRuns(order, est, Set.empty, budget = 120.0, overheadSec = 0.0)
    assert(p2("qc") == 1 && p2("qb") == 1 && p2("qa") == 2, s"got $p2")
    // impossible budget: all-ones — never zero, everything still measured
    val p3 = Bench.planRuns(order, est, Set.empty, budget = 1.0, overheadSec = 0.0)
    assert(p3.values.forall(_ == 1))
  }

  test("planRuns: queries without an estimate use the median of known estimates") {
    val order = Seq("known_cheap", "known_dear", "unknown")
    val est = Map("known_cheap" -> 1.0, "known_dear" -> 50.0)
    // fallback estimate = median of {1, 50} = 50 (upper median) — the
    // unknown query projects as expensive. Budget 160 forces everything
    // to 2 runs (the "2 everywhere before 1 anywhere" preference), then
    // one 1-run demotion: the first-listed expensive query takes it.
    val plan = Bench.planRuns(order, est, Set.empty, budget = 160.0, overheadSec = 0.0)
    assert(plan == Map("known_cheap" -> 2, "known_dear" -> 1, "unknown" -> 2),
      s"got $plan")
  }

  test("priorMedians: parses the committed capture's queries object; absent file is empty") {
    val f = java.nio.file.Files.createTempFile("bench", ".json")
    java.nio.file.Files.write(f,
      """{"metric":"total","value":3.0,"queries":{"q1":1.500,"q2":-1.000},"runs":{"q1":[1.5]}}"""
        .getBytes("UTF-8"))
    val m = Bench.priorMedians(f.toString)
    assert(m == Map("q1" -> 1.5, "q2" -> -1.0))
    assert(Bench.priorMedians("/nonexistent/benchfile.json").isEmpty)
    // the committed r15 capture parses and covers the headline set
    val r15 = Bench.priorMedians("BENCH_r15_local.json")
    assert(r15.size > 100 && math.abs(r15("q143_suffix_ranks") - 12.537) < 1e-9)
  }

  test("artifactPath: a non-default core count never overwrites the default capture") {
    assert(Bench.artifactPath(Bench.DefaultCpus) == "BENCH_latest_local.json")
    assert(Bench.artifactPath("8") == "BENCH_latest_local_c8.json")
  }

  test("StableTwoRuns ⊆ the headline set (a stale entry would silently plan nothing)") {
    assert(Bench.StableTwoRuns.subsetOf(Bench.headline.toSet))
  }

  test("controlAdjust: reference capture maps to ratio 1; empty/failed to 0") {
    val (unit, _) = Bench.controlAdjust(Bench.Controls)
    assert(math.abs(unit - 1.0) < 1e-12)
    val (none, rs) = Bench.controlAdjust(Map("q12_count_distinct" -> 1.0))
    assert(none == 0.0 && rs.isEmpty)
    // failed controls (median -1) are skipped, not ratioed
    val (one, rs1) = Bench.controlAdjust(
      Map("q143_suffix_ranks" -> -1.0,
        "q176_top_pc" -> Bench.Controls("q176_top_pc")))
    assert(rs1.size == 1 && math.abs(one - 1.0) < 1e-12)
  }
}
