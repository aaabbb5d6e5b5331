package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
  * Dedup.recommendProfile + the banding candidate-budget pre-flight —
  * the round-13 gram-universe-saturation discovery shipped as product
  * behavior. The two measured regimes (SCALING.md "Gram-universe
  * saturation": fixed-vocab char banding Ω(n²) at 266.7M candidates /
  * 77 GB spill vs token shingles max-bucket-2 at every tier) are the
  * gated fixtures here, in miniature via the same generator SHAPES
  * ScalingBench measured them with.
  */
/** The three measured corpus regimes as deterministic generators —
  * shared by RecommendProfileSpec (the probe's decisions) and
  * AutoDispatchSpec (the auto front door's dispatch). */
object DedupSpecCorpora {
  /** splitmix64-style mix — the ScalingBench generator's, verbatim shape. */
  def mix(a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    x ^= x >>> 32; x *= 0xD6E8FEB86659FD93L
    x ^= x >>> 32; x *= 0xD6E8FEB86659FD93L
    x ^= x >>> 32
    x
  }

  val vocab = Array("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "vector", "scan", "fast", "query", "agg",
    "slow", "value", "filter", "customer", "stream", "table", "join",
    "group", "window", "shuffle", "merge", "hash", "range", "index",
    "cache", "disk", "memory")

  /** Alphabet-bounded word salad: every token from a fixed 30-word vocab
    * — the char-3-gram universe is a few hundred grams and any half of
    * the corpus covers it (the saturated regime). */
  def saturatedDoc(id: Long): String =
    (0 until (20 + (mix(id, 0).abs % 20).toInt))
      .map(p => vocab((mix(id, p + 1).abs % vocab.length).toInt))
      .mkString(" ")

  /** Organic (Heaps-ish) text: every token is a fresh base-26 LETTER
    * string derived from (id, pos), so the gram universe keeps minting
    * new members with every doc — half the corpus misses a large share. */
  def organicDoc(id: Long): String =
    (0 until (20 + (mix(id, 0).abs % 20).toInt)).map { p =>
      var h = mix(id, p + 1).abs
      val sb = new StringBuilder
      (0 until 7).foreach { _ => sb.append(('a' + (h % 26)).toChar); h /= 26 }
      sb.toString
    }.mkString(" ")

  /** CJK text: tokens of BMP ideographs (0x4E00 block). */
  def cjkDoc(id: Long): String =
    (0 until 24).map { p =>
      val h = mix(id, p + 1).abs
      new String(Array(
        (0x4E00 + (h % 2000)).toChar,
        (0x4E00 + ((h / 2000) % 2000)).toChar,
        (0x4E00 + ((h / 4000000) % 2000)).toChar))
    }.mkString(" ")

  def docs(f: Long => String, n: Int): org.apache.spark.sql.DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    (0L until n.toLong).map(i => (i, f(i))).toDF("doc_id", "text")
  }
}

class RecommendProfileSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  import DedupSpecCorpora.{docs, saturatedDoc, organicDoc, cjkDoc}

  test("saturated fixed-vocab corpus -> token profile (the q199 regime)") {
    val rec = Dedup.recommendProfile(docs(saturatedDoc, 600), "doc_id", "text",
      sampleDocs = 512)
    info(s"saturated: $rec")
    assert(rec.profile === "token")
    assert(rec.newGramRate < 0.02,
      s"fixed-vocab universe must be covered by the half (rate ${rec.newGramRate})")
    assert(rec.nonAsciiRate < 0.30)
  }

  test("organic growing-vocab corpus -> char profile (the q44/q194 regime)") {
    val rec = Dedup.recommendProfile(docs(organicDoc, 600), "doc_id", "text",
      sampleDocs = 512)
    info(s"organic: $rec")
    assert(rec.profile === "char")
    assert(rec.newGramRate >= 0.05,
      s"growing universe must keep minting grams (rate ${rec.newGramRate})")
    assert(rec.maxBucket === 0L,
      "organic text with no dup storm needs no bucket cap")
  }

  test("CJK corpus -> codepoint profile (the q139 regime)") {
    val rec = Dedup.recommendProfile(docs(cjkDoc, 300), "doc_id", "text",
      sampleDocs = 256)
    info(s"cjk: $rec")
    assert(rec.profile === "codepoint")
    assert(rec.nonAsciiRate >= 0.30)
  }

  test("duplicate storm -> bucket cap recommended (hot buckets under ANY profile)") {
    // 400 copies of 4 distinct texts: identical signatures, 4 hot
    // buckets per band, estPairsPerDoc ~ 6 bands x C(100,2)/400 >> 16
    val storm = (0L until 400L).map(i => (i, saturatedDoc(i % 4))).toDF("doc_id", "text")
    val rec = Dedup.recommendProfile(storm, "doc_id", "text", sampleDocs = 256)
    info(s"storm: $rec")
    assert(rec.maxBucket === 500L,
      s"exact-dup storm must recommend the measured-safe cap (got $rec)")
    assert(rec.estPairsPerDoc > 16.0)
  }

  test("pre-flight guard: a saturated banding join fails loudly, naming the escape hatches") {
    // 300 near-identical docs = one hot bucket per band ≈ 6 x C(300,2)
    // ≈ 269k candidates; budget 1000 trips before the self-join runs
    val hot = (0L until 300L).map(i => (i, saturatedDoc(0) + " x" + (i % 3))).toDF("doc_id", "text")
    spark.conf.set("graft.dedup.candidatePairBudget", "1000")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.nearDupPairs(hot, "doc_id", "text", 0.7).df.count()
      }
      assert(e.getMessage.contains("NearDupProfile.Token"),
        "guard must name the token-profile escape hatch")
      assert(e.getMessage.contains("maxBucket"),
        "guard must name the bucket-cap escape hatch")
      assert(e.getMessage.contains("graft.dedup.candidatePairBudget"),
        "guard must name the budget conf")
      // escape hatch (2) works: the capped call prunes the hot buckets
      // below budget and completes under the same session budget
      val capped = Dedup.nearDupPairs(hot, "doc_id", "text", 0.7,
        NearDupProfile.Char.copy(maxBucket = 50L))
      assert(capped.df.count() >= 0L)
      capped.close()
    } finally spark.conf.unset("graft.dedup.candidatePairBudget")
  }

  test("guard is a no-op on healthy corpora and when disabled") {
    val ok = docs(organicDoc, 200)
    // default budget: healthy corpus sails through
    assert(Dedup.nearDupPairs(ok, "doc_id", "text", 0.7).df.count() >= 0L)
    // budget 0 disables even on a saturated corpus
    val hot = (0L until 200L).map(i => (i, saturatedDoc(0) + " x" + (i % 3))).toDF("doc_id", "text")
    spark.conf.set("graft.dedup.candidatePairBudget", "0")
    try assert(Dedup.nearDupPairs(hot, "doc_id", "text", 0.7).df.count() >= 0L)
    finally spark.conf.unset("graft.dedup.candidatePairBudget")
  }
}
