package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SuffixIndex: prefix-doubling suffix ranks and the level-table LCP walk,
  * checked against a single-threaded brute force (materialize every token
  * suffix, sort, dense-rank, compare adjacent tokens directly) on seeded
  * random corpora plus the structural edge cases the doubling must get
  * right: equal suffixes across documents (generalized-SA ties), a doc that
  * is a strict prefix of another's suffix, single-token and empty docs. */
class SuffixIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Lexicographic token-sequence compare, shorter-prefix-first — the
    * order both the doubling (0-padded ranks) and DuckDB lists use. */
  private def lt(a: Seq[String], b: Seq[String]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = a(i).compareTo(b(i))
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  private def bruteRanks(docs: Seq[(Long, String)]): Map[(Long, Int), Long] = {
    val sufs = for {
      (d, t) <- docs
      ts = t.split(" ", -1).toSeq
      p <- 1 to ts.length
    } yield (d, p, ts.drop(p - 1))
    val order = sufs.sortWith((x, y) => lt(x._3, y._3))
    var rank = 0L
    var prev: Seq[String] = null
    order.map { case (d, p, s) =>
      if (prev == null || s != prev) { rank += 1; prev = s }
      (d, p) -> rank
    }.toMap
  }

  private def run(docs: Seq[(Long, String)]): Map[(Long, Int), Long] = {
    import spark.implicits._
    SuffixIndex.suffixRanks(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
  }

  test("suffix ranks match brute force on a seeded random corpus") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "ab", "ba", "c")
    val docs = (1L to 12L).map(d =>
      d -> Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    assert(run(docs) === bruteRanks(docs))
    // ⌈log2 maxLen⌉ + 1 is the hard ceiling; the all-unique exit may stop
    // earlier — it must never exceed the bound
    import spark.implicits._
    val t = SuffixIndex.build(docs.toDF("doc_id", "text"), "doc_id", "text")
    try assert(t.rounds >= 1 && t.rounds <= 5, s"rounds=${t.rounds}") finally t.close()
  }

  test("generalized-SA ties: identical docs keep equal ranks everywhere") {
    val docs = Seq(1L -> "x y z", 2L -> "x y z", 3L -> "y z")
    val got = run(docs)
    assert(got === bruteRanks(docs))
    // every suffix of doc 1 ties its twin in doc 2
    for (p <- 1 to 3) assert(got((1L, p)) === got((2L, p)))
    // doc 3's "y z" ties the (1,2)/(2,2) suffixes too
    assert(got((3L, 1)) === got((1L, 2)))
  }

  test("prefix suffixes sort before their extensions; empty/single docs survive") {
    val docs = Seq(1L -> "a b", 2L -> "a b c", 3L -> "", 4L -> "a")
    val got = run(docs)
    assert(got === bruteRanks(docs))
    // "a b" < "a b c" (shorter-prefix-first), "a" < "a b"
    assert(got((1L, 1)) < got((2L, 1)))
    assert(got((4L, 1)) < got((1L, 1)))
    // split("") = [""] — one empty-string token, ranked first
    assert(got((3L, 1)) === 1L)
  }

  private def bruteRepeats(docs: Seq[(Long, String)], minLen: Int)
    : Seq[(Long, Long, Long, Long, Long, String)] = {
    val sufs = for {
      (d, t) <- docs
      ts = t.split(" ", -1).toSeq
      p <- 1 to ts.length
    } yield (d, p, ts.drop(p - 1))
    val order = sufs.sortWith { (x, y) =>
      if (x._3 != y._3) lt(x._3, y._3)
      else if (x._1 != y._1) x._1 < y._1
      else x._2 < y._2
    }
    order.sliding(2).collect {
      case Seq((da, pa, sa), (db, pb, sb)) if da != db =>
        val lcp = sa.zip(sb).takeWhile { case (u, v) => u == v }.length
        (da, pa.toLong, db, pb.toLong, lcp.toLong, sa.take(lcp).mkString(" "))
    }.filter(_._5 >= minLen).toSeq
      .sortBy { case (da, pa, db, pb, l, _) => (-l, da, pa, db, pb) }
  }

  test("crossDocRepeats: LCP walk matches direct comparison, incl. a shared tail") {
    import spark.implicits._
    // planted: docs 1/2 share "q r s t u" mid-doc; docs 3/4 END with the
    // same 3 tokens (the early-end increment path: equal level ranks with
    // fewer than 2^k tokens remaining)
    val docs = Seq(
      1L -> "a b q r s t u c",
      2L -> "d q r s t u e f",
      3L -> "m n o p p p",
      4L -> "z p p p")
    val want = bruteRepeats(docs, 2).take(10)
    val got = SuffixIndex
      .crossDocRepeats(docs.toDF("doc_id", "text"), "doc_id", "text", 2, 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
      .toSeq
    assert(got === want)
    assert(got.head._5 === 5L) // the planted 5-token run wins
    assert(got.head._6 === "q r s t u")
  }

  test("capped build is identical to uncapped when every doc fits the cap") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "ab", "ba", "c")
    val docs = (1L to 10L).map(d =>
      d -> Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val capped = SuffixIndex
      .suffixRanks(docs.toDF("doc_id", "text"), "doc_id", "text", capTokens = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val uncapped = SuffixIndex
      .suffixRanks(docs.toDF("doc_id", "text"), "doc_id", "text", capTokens = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped === uncapped)
  }

  test("the DEFAULT build is capped at 2^16 — uncapped is the explicit opt-out") {
    import spark.implicits._
    // r10-r12 carryover: capTokens used to default to 0/uncapped, so one
    // 10M-token document cost a caller who didn't read the scaladoc ~24
    // corpus-wide doubling rounds. The default is now the documented cap;
    // docs under it build byte-identically (test above), so q143/q144
    // oracles are unchanged.
    assert(SuffixIndex.DefaultCapTokens === 65536)
    val docs = Seq(1L -> "a b a", 2L -> "b a b").toDF("doc_id", "text")
    val t = SuffixIndex.build(docs, "doc_id", "text")
    try {
      assert(t.ranks.count() === 6L)
      assert(t.capTokens === SuffixIndex.DefaultCapTokens)
    } finally t.close()
  }

  test("capped crossDocRepeats truncates a boundary-crossing repeat at the segment") {
    import spark.implicits._
    // cap 4: doc 1 segments [a b c d][e f g h]; the shared "c d e f" run
    // crosses doc 1's boundary, so its reportable prefix from (1,3) is
    // "c d" (2 tokens to the segment end)
    val docs = Seq(1L -> "a b c d e f g h", 2L -> "x c d e f y")
    val got = SuffixIndex.crossDocRepeats(docs.toDF("doc_id", "text"),
        "doc_id", "text", minLen = 2, topK = 10, capTokens = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got === Seq((1L, 3L, 2L, 2L, 2L, "c d")))
    // uncapped finds the full 4-token run (sanity that the cap did it)
    val full = SuffixIndex.crossDocRepeats(docs.toDF("doc_id", "text"),
        "doc_id", "text", minLen = 2, topK = 1)
      .collect()(0)
    assert(full.getLong(4) === 4L && full.getString(5) === "c d e f")
  }

  test("giant document: rounds bounded by the cap, not maxDocLen (10^6 tokens)") {
    import spark.implicits._
    // one pathological 1M-token repetitive doc (no all-unique early exit)
    // next to a normal corpus: uncapped this forces ⌈log2 1e6⌉+1 = 21
    // corpus-wide rounds; cap 1024 must hold rounds to ⌈log2 1024⌉+1 = 11
    val giant = (0 until 1000000).map(i => s"w${i % 7}").mkString(" ")
    val docs = (Seq(1L -> "a b c d e f", 2L -> "b c d") :+ (99L -> giant))
      .toDF("doc_id", "text")
    val t = SuffixIndex.build(docs, "doc_id", "text", capTokens = 1024)
    try {
      assert(t.ranks.count() === 1000009L)
      assert(t.rounds <= 11, s"rounds=${t.rounds} exceeded the cap bound")
      assert(t.maxLen === 1000000)
    } finally t.close()
  }

  test("build close() releases every level's blocks after consumption") {
    import spark.implicits._
    // six 400-token docs over {a, b}: doc-end suffixes tie across docs, so
    // the doubling runs until h covers the longest doc (several rounds,
    // each pinning a successor join and a rank table)
    val rnd = new scala.util.Random(3)
    val docs = (1L to 6L).map(d =>
      d -> Seq.fill(400)(if (rnd.nextBoolean()) "a" else "b").mkString(" "))
      .toDF("doc_id", "text")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def rddIds(df: DataFrame) =
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
    // startWidth 1 has no slice level, so nothing but round 1 reads the
    // token-array barrier
    for (w <- Seq(SuffixIndex.DefaultStartWidth, 1)) {
      val before = persisted
      val t = SuffixIndex.build(docs, "doc_id", "text", startWidth = w)
      assert(t.rounds >= 2, s"startWidth $w: rounds=${t.rounds}")
      // every block set the build left is read by the ranks or a level:
      // no input pin is orphaned
      val pins = persisted -- before
      val read = (t.ranks +: t.levels.map(_._2)).flatMap(rddIds).toSet
      assert(pins.nonEmpty && pins.subsetOf(read),
        s"startWidth $w: pins $pins, read by the tables $read")
      assert(t.ranks.count() === 2400L) // consume first (the lifecycle contract)
      t.close()
      assert((persisted -- before).isEmpty,
        s"startWidth $w: left after close(): ${persisted -- before}")
    }
  }

  test("crossDocRepeats: no cross-doc repeat of minLen yields empty") {
    import spark.implicits._
    val docs = Seq(1L -> "a a a", 2L -> "b c d")
    val got = SuffixIndex
      .crossDocRepeats(docs.toDF("doc_id", "text"), "doc_id", "text", 2, 10)
    assert(got.count() === 0L)
  }
}
