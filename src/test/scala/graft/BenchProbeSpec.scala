package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure pieces: the calibration loop every capture's drift flag
  * reads, the artifact naming, and the reactive run rule. */
class BenchProbeSpec extends AnyFunSuite {
  test("calibrate is linear-ish in steps (probe scale sanity)") {
    val (full, _) = Bench.calibrate()
    val (half, _) = Bench.calibrate(50000000)
    assert(half < full, "50M-step probe must be cheaper than the 100M loop")
  }

  test("artifactPath: a non-default core count never overwrites the default capture") {
    assert(Bench.artifactPath(Bench.DefaultCpus) == "BENCH_latest_local.json")
    assert(Bench.artifactPath("8") == "BENCH_latest_local_c8.json")
  }

  test("measure: 3 runs below 80 % of the budget, 2 up to 100 %, 1 past it; reduced runs report the last run") {
    def fake(ts: Double*): () => Double = { val it = ts.iterator; () => it.next() }
    val b = Bench.BudgetSec
    assert(Bench.measure(0.0, fake(3.0, 1.0, 2.0)) == (Seq(3.0, 1.0, 2.0), 2.0))
    assert(Bench.measure(0.8 * b, fake(3.0, 1.0, 2.0)) == (Seq(3.0, 1.0, 2.0), 2.0))
    // reduced: run 1 is the query's own warmup, so the LAST run is reported
    assert(Bench.measure(0.8 * b + 1, fake(5.0, 4.0)) == (Seq(5.0, 4.0), 4.0))
    assert(Bench.measure(b, fake(4.0, 5.0)) == (Seq(4.0, 5.0), 5.0))
    assert(Bench.measure(b + 1, fake(7.0)) == (Seq(7.0), 7.0))
    // a failed run fails the measurement at every size
    assert(Bench.measure(0.0, fake(1.0, -1.0, 1.0))._2 == -1.0)
    assert(Bench.measure(b, fake(-1.0, 1.0))._2 == -1.0)
    assert(Bench.measure(b + 1, fake(-1.0))._2 == -1.0)
  }
}
