package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates like Python's statistics.quantiles(method='inclusive')") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.25) == 1.75)
  }

  test("tail rule: the highest percentile with at least ten samples beyond it") {
    def tailOf(n: Int) = Stats.summarize((1 to n).map(_.toDouble)).tail.map(_._1)
    assert(tailOf(1000).contains(99)) // 10 samples beyond p99
    assert(tailOf(999).contains(95))
    assert(tailOf(200).contains(95))
    assert(tailOf(100).contains(90))
    assert(tailOf(99).contains(75))
    assert(tailOf(40).contains(75))
    assert(tailOf(20).contains(50))
    assert(tailOf(19).isEmpty)
  }

  test("summary reports the median and the sample count") {
    val s = Stats.summarize(Seq(3.0, 1.0, 2.0))
    assert(s.p50 == 2.0 && s.n == 3 && s.tail.isEmpty)
    val big = Stats.summarize((1 to 100).map(_.toDouble))
    assert(big.tail.contains(90 -> Stats.quantile((1 to 100).map(_.toDouble), 0.9)))
    assert(big.describe("s").contains("p90=") && big.describe("s").endsWith("n=100"))
  }

  test("metric names: letters, digits, '_', '.', '-'; leading letter or digit; at most 64") {
    Seq("setup_s", "op_p50_s", "catalyst.plans", "Dedup.cc_rounds", "trace.overhead", "9lives", "a-b")
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "-x", "a b", "a/b", "a\"b", "ü", "x" * 65)
      .foreach(n => assert(!Stats.validName(n), n))
    assert(Stats.validName("x" * 64))
    assertThrows[IllegalArgumentException](Stats.Metric("bad name", 1.0, "s"))
  }

  test("every per-layer metric the traced run emits has a valid name") {
    (Layers.Calls.flatMap(c => Seq(s"$c.s", s"$c.jobs")) ++ Layers.Counters.map(_._1))
      .foreach(n => assert(Stats.validName(n), n))
  }

  test("interval cover used for the no-task time") {
    assert(Layers.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 25L) == 20L)
    assert(Layers.covered(Nil, 0L, 100L) == 0L)
    assert(Layers.covered(Seq((0L, 100L)), 10L, 20L) == 10L)
  }

  test("JSON numbers and strings") {
    assert(Stats.json(Double.NaN) == "null")
    assert(Stats.json("a\"b\\c\n") == "\"a\\\"b\\\\c\\n\"")
  }
}
