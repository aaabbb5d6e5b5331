package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/**
  * Dedup cluster formation: connectedComponents (alternating
  * large-star/small-star) must agree with a trivially-correct in-memory
  * union-find on random graphs, and converge on the worst-diameter shape
  * (a chain) where naive label propagation needs O(n) rounds.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    verts.map(v => v -> find(v.toInt).toLong).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    // smallGraphMaxEdges = 0: these tests pin the DISTRIBUTED path (the
    // driver fast path is covered by the parity test below)
    Dedup.connectedComponents(edges.toDF("id_a", "id_b"), smallGraphMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches union-find on a random graph (fixed seed)") {
    val rnd = new scala.util.Random(42)
    val n = 300
    val edges = Seq.fill(250)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val expected = unionFind(n, edges)
    val got = run(edges)
    assert(got == expected)
    // representative is the component minimum
    assert(got.forall { case (v, r) => r <= v })
  }

  test("converges on a 200-node chain (worst diameter)") {
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("duplicate and reversed pairs do not change components") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (7L, 8L))
    val got = run(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("empty pair set yields empty clusters") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
    assert(Dedup.connectedComponents(empty, smallGraphMaxEdges = 0L).count() == 0)
  }

  test("driver fast path (budget-gated) agrees with the distributed path") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
      .filter(e => e._1 != e._2)
    val df = edges.toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(df) // default budget → union-find
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(df, smallGraphMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
  }

  test("round count stays O(log n): chain diameter 200 → ≤ ~2·log2(n) rounds") {
    // alternating large-star/small-star halves component diameter per
    // round (Kiveris et al. SoCC'14); a 200-chain must converge well
    // under the 25-round default, and the counter exposes the evidence
    run((0L until 199L).map(i => (i, i + 1)))
    val rounds = Dedup.lastDistributedRounds
    assert(rounds >= 1 && rounds <= 2 * 8 + 2, // 2·log2(200)≈15.3, +slack
      s"chain-200 took $rounds rounds — convergence regressed")
    // fast path reports 0 distributed rounds
    Dedup.connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b"))
    assert(Dedup.lastDistributedRounds == 0)
  }

  test("skew stress: one giant star (1e5 edges into a single hub) converges in few rounds") {
    // Worst-case key skew for the groupBy(u)/join(u) passes: EVERY edge
    // shares the hub vertex. large-star's re-attach-to-min handles the
    // shape in O(1) rounds (the hub IS the min), and AQE skew-split covers
    // the one hot partition — this pins that no straggler blows the
    // wall clock and the maxIter guard is nowhere near.
    val n = 100000
    val hub = spark.range(1, n + 1)
      .select(lit(0L).as("id_a"), col("id").as("id_b"))
    val t0 = System.nanoTime()
    val got = Dedup.connectedComponents(hub, maxIter = 10, smallGraphMaxEdges = 0L)
    assert(got.count() == n + 1L)
    assert(got.filter(col("rep_id") =!= 0L).count() == 0L)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 120.0, f"giant-star CC took $sec%.1f s — straggler suspected")
  }
}
