package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.ListenerDrain
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
  * Job floor of the iterative operators (and of triangleCounts, whose
  * count has no round term). On small inputs every job runs a
  * single task over KB of data, so a call's cost is its job count; each
  * round of a many-round operator pays a fixed number of jobs. This spec
  * pins the exact count of a call plus the action that forces its result
  * as `a + b·rounds`, on fixed inputs: a change that adds a stage to
  * every round fails here instead of only in a traced benchmark run.
  */
class IterativeJobFloorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Jobs started by `body`: the jobs of a job group set around it, which
    * the threads adaptive execution submits from inherit, so no job of
    * another thread is counted. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-floor-${System.nanoTime()}"
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job floor")
    try { body; ListenerDrain.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
    n.get()
  }

  private def clicks = (1L to 60L)
    .flatMap(i => Seq((i, i % 11 + 1, 1L), (i, (i * 7) % 60 + 1, 3L)))
    .toDF("src", "dst", "w")

  private def corpus = Seq(
    "low lower lowest newer newest widest wider",
    "aaaa banana bandana lower lowest",
    "the quick brown fox jumps over the lazy dog").toDF("text")

  /** `docs` documents of `len` tokens drawn from {a, b}: the doc-end
    * suffixes tie across documents, so the doubling never exits early
    * and the round count is set by `len` alone. */
  private def abDocs(docs: Int, len: Int) = {
    val rnd = new scala.util.Random(5)
    (1L to docs.toLong).map(d =>
      d -> Seq.fill(len)(if (rnd.nextBoolean()) "a" else "b").mkString(" "))
      .toDF("doc_id", "text")
  }

  /** Each (rounds, jobs) run is exactly `setUp + perRound × rounds`. */
  private def assertFloor(what: String, setUp: Int, perRound: Int)(runs: Seq[(Int, Int)]): Unit =
    runs.foreach { case (rounds, jobs) =>
      assert(jobs == setUp + perRound * rounds,
        s"$what, $rounds rounds: $jobs jobs, expected $setUp + $perRound × $rounds " +
          s"(all runs as (rounds, jobs): $runs)")
    }

  test("pageRank(k): 4 jobs of set-up and result, then 2 per round") {
    // per round: the rank broadcast (which fills the previous iterate)
    // and the contribution shuffle
    assertFloor("pageRank", 4, 2)((1 to 3).map { k =>
      (k, jobsIn(GraphRank.pageRank(clicks, k).collect()))
    })
  }

  test("bpeMerges(rounds): 1 job of set-up, then 2 per round") {
    // per round: the pair-count shuffle (which fills the previous
    // rewrite) and the 1-row argmax pull; the result is driver-side
    assertFloor("bpeMerges", 1, 2)((1 to 3).map { r =>
      (r, jobsIn(Bpe.bpeMerges(corpus, "text", r).collect()))
    })
  }

  test("triangleCounts: 10 jobs, the forcing action included") {
    // the orientation barrier, the per-vertex barrier and the collect;
    // a wedge census aggregate over the orientation, read by nothing but
    // diagnostics, once made this 13
    assert(jobsIn(GraphRank.triangleCounts(clicks).collect()) == 10)
  }

  test("distributed connectedComponents: 7 jobs of set-up and result, then 3 per round") {
    // per round: the small-star window shuffle, the shuffle that serves
    // both the small-star distinct and the next large-star window, and
    // the one-stage checksum that fills the barrier (the first round's
    // large-star shuffle is set-up); chains of different diameters take
    // different round counts
    val runs = Seq(2L, 8L, 64L).map { len =>
      val pairs = (0L until len).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val jobs = jobsIn(
        Dedup.connectedComponents(pairs, smallGraphMaxEdges = 0L).collect())
      (Dedup.lastDistributedRounds, jobs)
    }
    assert(runs.map(_._1).distinct.size == 3, runs)
    assertFloor("connectedComponents", 7, 3)(runs)
  }

  test("SuffixIndex.build + a ranks write: 9 jobs of set-up and round 1, then 10 per doubling round") {
    // per doubling round: the successor join's pin, the range sampler,
    // the local-rank pin and the offsets pull; round 1 ranks the
    // row-local slices instead of a join, after the sizing pull that
    // fills the token-array barrier
    val runs = Seq(20, 100).map { len =>
      var rounds = 0
      val jobs = jobsIn {
        val t = SuffixIndex.build(abDocs(4, len), "doc_id", "text")
        try {
          rounds = t.rounds
          t.ranks.write.format("noop").mode("overwrite").save()
        } finally t.close()
      }
      (rounds - 1, jobs)
    }
    assert(runs.map(_._1).distinct.size == 2, runs)
    assertFloor("build", 9, 10)(runs)
  }

  test("crossDocRepeats + collect: 30 jobs of set-up and round 1, then 13 per doubling round") {
    // per doubling round: the build's 10, plus 3 for the level it adds to
    // the LCP walk
    val runs = Seq(20, 100).map { len =>
      val docs = abDocs(4, len)
      val t = SuffixIndex.build(docs, "doc_id", "text")
      val rounds = try t.rounds finally t.close()
      (rounds - 1, jobsIn(SuffixIndex.crossDocRepeats(docs, "doc_id", "text").collect()))
    }
    assert(runs.map(_._1).distinct.size == 2, runs)
    assertFloor("crossDocRepeats", 30, 13)(runs)
  }
}
