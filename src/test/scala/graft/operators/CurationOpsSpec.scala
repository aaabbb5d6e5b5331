package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
  * Round-7 curation "apply" operators: dedup canonicalization (the kept
  * corpus, not just pairs/clusters), epoch-balanced upsampling with
  * replacement, and cross-document boilerplate removal. Cross-engine value
  * parity is pinned by the q78-q80 DuckDB oracles; these specs pin the
  * operator PROPERTIES — who survives, copy-count arithmetic, row-count
  * stability, order preservation, determinism.
  */
class CurationOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("canonicalize keeps exactly one representative per near-dup cluster") {
    // byte-identical copies have Jaccard 1.0 — guaranteed above any threshold
    val body1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val body2 = "completely different words about query engines and shuffles at scale"
    val docs = Seq(
      (1L, body1), (2L, body1),            // cluster {1,2} → keep 1
      (3L, "a unique document with its own content never repeated anywhere"),
      (4L, body2), (5L, body2), (6L, body2) // cluster {4,5,6} → keep 4
    ).toDF("doc_id", "text")
    val kept = Dedup.canonicalize(docs, "doc_id", "text", 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
    // output schema is the input schema — the operator composes transparently
    assert(Dedup.canonicalize(docs, "doc_id", "text", 0.7).columns.toSeq
      == Seq("doc_id", "text"))
  }

  test("readability: hand-counted words/sentences/syllables, exact Flesch") {
    // "the cat sat. it ran!" → 5 words, 2 sentences, 5 vowel groups
    val docs = Seq((1L, "the cat sat. it ran!"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs, "doc_id", "text").collect()
    assert(out.length === 1)                     // empty doc filtered
    val r = out(0)
    assert((r.getInt(1), r.getInt(2), r.getInt(3)) === ((5, 2, 5)))
    // 206.835 − 1.015·(5/2) − 84.6·(5/5) = 119.6975 → r6
    assert(math.abs(r.getDouble(4) - 119.6975) < 1e-6)
  }

  test("distinctiveTerms: lift ranks group-specific terms over shared ones") {
    // 'aaa' only in g1, 'bbb' only in g2, 'zzz' everywhere (lift 1).
    // Repeat to clear minCount.
    val g1 = Seq.fill(6)("aaa zzz").mkString(" ")
    val g2 = Seq.fill(6)("bbb zzz").mkString(" ")
    val docs = Seq(("g1", g1), ("g2", g2)).toDF("src", "text")
    val out = TextAnalysis.distinctiveTerms(docs, col("src"), "text", 2,
        minCount = 5L)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getDouble(4)))
    val byGroup = out.groupBy(_._1)
    // rank 1 in each group is its exclusive term with lift 2.0
    // (tf_g/tok_g = 1/2 of group tokens vs tf/total = 1/4 corpus-wide)
    assert(byGroup("g1").find(_._2 == 1).get._3 === "aaa")
    assert(byGroup("g2").find(_._2 == 1).get._3 === "bbb")
    assert(byGroup("g1").find(_._2 == 1).get._4 === 2.0)
    // the shared term ranks below with lift exactly 1
    assert(byGroup("g1").find(_._2 == 2).get._3 === "zzz")
    assert(byGroup("g1").find(_._2 == 2).get._4 === 1.0)
  }

  test("patternExtractReport: per-match rollup, multi-occurrence counting, no-match silence") {
    val docs = Seq(
      (1L, "x CANARY-aaaa0000 y CANARY-aaaa0000"),  // same canary twice
      (2L, "z CANARY-aaaa0000 end"),                 // shared across docs
      (3L, "another CANARY-bbbb1111 here"),
      (4L, "no canaries at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.patternExtractReport(docs, "doc_id", "text",
        "CANARY-[0-9a-f]{8}")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size === 2)
    assert(out("CANARY-aaaa0000") === ((2L, 3L, 1L)))  // 2 docs, 3 hits, first=1
    assert(out("CANARY-bbbb1111") === ((1L, 1L, 3L)))
  }

  test("patternExtractReport: backslash classes and quotes reach the regex verbatim") {
    // \b and \d would be eaten by SQL string-literal escaping if the
    // pattern round-tripped through expr(); the typed lit() path must
    // deliver them intact, and a single quote must not break parsing.
    val docs = Seq(
      (1L, "call 555-0101 or 555-0199 now"),
      (2L, "it's 555-0101 again"),
      (3L, "no digits here")
    ).toDF("doc_id", "text")
    val phones = TextAnalysis.patternExtractReport(docs, "doc_id", "text",
        "\\b\\d{3}-\\d{4}\\b")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(phones === Map("555-0101" -> 2L, "555-0199" -> 1L))
    val quoted = TextAnalysis.patternExtractReport(docs, "doc_id", "text",
        "it's \\d+")
      .collect().map(_.getString(0))
    assert(quoted.toSeq === Seq("it's 555"))
  }

  test("cdcChunkReport: chunks tile the doc; a 1-char insert shares the tail") {
    // deterministic APERIODIC text (a periodic string has few distinct
    // windows and may never hit the boundary mask)
    val t = (0 until 220).map(i => s"w${i * i % 997}x${i}").mkString(" ")
    val one = Seq((1L, t)).toDF("doc_id", "text")
    val r1 = Dedup.cdcChunkReport(one, "doc_id", "text", col("doc_id"))
      .collect()(0)
    val total1 = r1.getLong(1)
    assert(total1 > 5)                            // boundaries actually fire
    assert(math.abs(r1.getDouble(4) * total1 - t.length) < 0.01) // chunks tile the doc
    // shift resistance: prepend one char — every window after the insert
    // shifts but keeps its content, so all chunks except the head are
    // SHARED (fixed-size chunking would share none)
    val both = Seq((1L, t), (2L, "X" + t)).toDF("doc_id", "text")
    val r = Dedup.cdcChunkReport(both, "doc_id", "text", lit(1))
      .collect()(0)
    assert(r.getDouble(3) > 0.4, s"dup_ratio ${r.getDouble(3)}") // tail shared
    // sub-window doc: one chunk, the whole doc
    val tiny = Dedup.cdcChunkReport(Seq((1L, "short")).toDF("doc_id", "text"),
      "doc_id", "text", col("doc_id")).collect()(0)
    assert(tiny.getLong(1) === 1L && tiny.getDouble(4) === 5.0)
  }

  test("vocabularyGrowth: first-appearance types, corpus-wide hapax, exact prefixes") {
    val docs = Seq((0L, 0, "a b a"), (1L, 1, "b c"))
      .toDF("doc_id", "bkt", "text")
    val out = TextAnalysis.vocabularyGrowth(docs, col("bkt"), "text")
      .orderBy(col("bucket")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // b0: 3 tokens, new types {a, b}, no hapax (a freq 2, b freq 2)
    // b1: 2 tokens, new type {c}, c is a corpus-wide hapax
    assert(out(0) === ((0, 3L, 2L, 0L, 3L, 2L)))
    assert(out(1) === ((1, 2L, 1L, 1L, 5L, 3L)))
  }

  test("clusterWeights: 1/cluster-size mass, unclustered docs weigh 1, mass conserved") {
    val body1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val body2 = "completely different words about query engines and shuffles at scale"
    val docs = Seq(
      (1L, body1), (2L, body1),             // cluster of 2 → 0.5 each
      (3L, "a unique document with its own content never repeated anywhere"),
      (4L, body2), (5L, body2), (6L, body2) // cluster of 3 → 0.333333 each
    ).toDF("doc_id", "text")
    val w = Dedup.clusterWeights(docs, "doc_id", "text", 0.7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w(1L) === ((2L, 0.5)) && w(2L) === ((2L, 0.5)))
    assert(w(3L) === ((1L, 1.0)))
    assert(Seq(4L, 5L, 6L).forall(w(_) === ((3L, 0.333333))))
    // total mass ≈ one doc per cluster + each unclustered doc
    assert(math.abs(w.values.map(_._2).sum - 3.0) < 1e-5)
  }

  test("incrementalPairs = full-pipeline pairs touching the batch (interleaved ids)") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "completely different words about query engines and shuffles at scale"
    val c = "a third body of text that matches nothing else in this tiny corpus"
    // batch ids INTERLEAVE with existing ids — orientation (existing, incoming)
    // must still cover the same unordered pair set as the full pipeline
    val existing = Seq((10L, a), (40L, b), (60L, c)).toDF("doc_id", "text")
    val batch = Seq((25L, a), (55L, b), (70L, "unique batch content with no duplicate partner here at all")).toDF("doc_id", "text")
    val full = Dedup.nearDupPairs(existing.unionByName(batch), "doc_id", "text", 0.7).df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIds = Set(25L, 55L, 70L)
    val expected = full.filter(p => batchIds(p._1) || batchIds(p._2))
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
    assert(expected == Set((10L, 25L), (40L, 55L))) // sanity: the planted dups
    val incr = Dedup.incrementalPairs(
        Dedup.dedupIndex(existing, "doc_id", "text"), batch, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(incr.length == incr.toSet.size) // no duplicate emissions
    assert(incr.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet == expected)
    // pure-existing pairs are structurally impossible — both endpoints existing
    assert(incr.forall(p => batchIds(p._1) || batchIds(p._2)))
  }

  test("epochUpsample: copy counts follow floor(rate) + content-keyed remainder") {
    val df = ((0L until 100L).map(i => (i, "big", s"big doc $i")) ++
      (100L until 140L).map(i => (i, "mid", s"mid doc $i")) ++
      (140L until 150L).map(i => (i, "tiny", s"tiny doc $i")))
      .toDF("id", "src", "text")
    val rates = Sampling.epochBalanceRates(df, col("src"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // big: 10000 (one epoch); mid: floor(10000·100/40) = 25000; tiny: capped
    assert(rates == Map("big" -> 10000L, "mid" -> 25000L, "tiny" -> 40000L))

    val out = Sampling.epochUpsample(df, col("src"), col("text"))
      .groupBy(col("id"), col("src")).agg(
        count(lit(1)).as("n"), max(col("copy_idx")).as("mx"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // copy_idx is dense 1..n for every row
    assert(out.forall { case (_, _, n, mx) => n == mx })
    val bySrc = out.groupBy(_._2)
    assert(bySrc("big").forall(_._3 == 1L))                   // exactly one epoch
    assert(bySrc("mid").forall(t => t._3 == 2L || t._3 == 3L)) // 2.5 epochs
    assert(bySrc("tiny").forall(_._3 == 4L))                  // cap = 4 epochs
    // the fractional half is content-keyed: rerun emits the SAME copy counts
    val again = Sampling.epochUpsample(df, col("src"), col("text"))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(t => t._1 -> t._3).toMap == again)
  }

  test("epochBalanceRates refuses a cap below one epoch") {
    val df = Seq((1L, "a")).toDF("id", "src")
    intercept[IllegalArgumentException] {
      Sampling.epochBalanceRates(df, col("src"), capPer10k = 9999L)
    }
  }

  test("stripBoilerplate removes cross-doc sentences, preserves order and row count") {
    val docs = Seq(
      (1L, "unique one. COMMON A. tail one"),
      (2L, "unique two. COMMON A. COMMON B"),
      (3L, "COMMON A. COMMON B. unique three"),
      (4L, "COMMON B")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(docs, "doc_id", "text", 3L)
    val m = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(
      1L -> "unique one. tail one", // middle removed, flanks rejoined in order
      2L -> "unique two",
      3L -> "unique three",
      4L -> ""))                    // all-boilerplate doc survives as empty, not dropped
    assert(out.count() == 4)
  }

  test("topFractionByScore keeps exactly the ceil-fraction best rows per stratum") {
    val df = (0L until 24L).map(i => (i, s"s${i % 3}", (i / 3).toDouble, s"key $i"))
      .toDF("id", "src", "score", "key")
    val kept = Sampling.topFractionByScore(df, col("src"), col("score"), col("key"), 2500)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getDouble(2)))
    // 8 rows per stratum → ceil(0.25·8) = 2 survivors, and they are the top scores
    val bySrc = kept.groupBy(_._1)
    assert(bySrc.keySet == Set("s0", "s1", "s2"))
    for ((src, rows) <- bySrc) {
      assert(rows.length == 2, src)
      val threshold = df.filter(col("src") === src).select("score")
        .collect().map(_.getDouble(0)).sorted.takeRight(2).min
      assert(rows.forall(_._3 >= threshold), src)
    }
  }

  test("trainingOrder: dense per-shard positions, deterministic, seed-sensitive") {
    val df = (0L until 200L).map(i => (i, s"doc body number $i")).toDF("id", "text")
    def run(seed: String) = Sampling.trainingOrder(df, concat(col("text"), col("id")), seed, 8)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val a = run("epoch0")
    assert(a.length == 200) // a permutation loses nothing
    for ((_, rows) <- a.groupBy(_._2)) // pos is dense 1..n within every shard
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    assert(a.toSet == run("epoch0").toSet) // reproducible
    val b = run("epoch1") // a different seed is a genuinely different permutation
    assert(a.map(t => t._1 -> ((t._2, t._3))).toMap != b.map(t => t._1 -> ((t._2, t._3))).toMap)
  }

  test("crossSourceOverlap counts shared grams per pair and drops over-cap grams") {
    val docs = Seq(
      (1L, "A", "one two three x"),
      (2L, "B", "one two three y"),
      (3L, "C", "one two three z"),   // "one two three" reaches 3 sources
      (4L, "A", "alpha beta gamma"),
      (5L, "B", "alpha beta gamma")   // shared by exactly A and B
    ).toDF("doc_id", "src", "text")
    val out = Decontamination.crossSourceOverlap(docs, "src", "text", 3, maxSources = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // the 3-source gram is dropped by the cap; only the A-B pair remains
    assert(out == Map(("A", "B") -> 1L))
    // raising the cap admits it: every pair then shares the common gram
    val out3 = Decontamination.crossSourceOverlap(docs, "src", "text", 3, maxSources = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out3 == Map(("A", "B") -> 2L, ("A", "C") -> 1L, ("B", "C") -> 1L))
  }

  test("capTokensPerStratum keeps the maximal hash-order prefix within budget") {
    val docs = (0L until 12L).map(i => (i, s"s${i % 2}", s"body $i", 100L + i))
      .toDF("doc_id", "src", "text", "n_toks")
    val kept = Sampling.capTokensPerStratum(docs, col("src"),
        concat(col("text"), col("doc_id")), col("n_toks"), 320L)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3)))
    for ((src, rows) <- kept.groupBy(_._1)) {
      // within budget, and EXACTLY the maximal prefix in md5 order: the
      // kept set's token sum plus the next doc in hash order overflows
      val totalKept = rows.map(_._3).sum
      assert(totalKept <= 320L, src)
      val hashOrder = docs.filter(col("src") === src)
        .select(col("doc_id"), col("n_toks"),
          md5(concat(col("text"), col("doc_id"))).as("h"))
        .orderBy(col("h")).collect().map(r => (r.getLong(0), r.getLong(1)))
      val keptIds = rows.map(_._2).toSet
      val prefix = hashOrder.scanLeft(0L)(_ + _._2).tail
        .zip(hashOrder).takeWhile(_._1 <= 320L).map(_._2._1).toSet
      assert(keptIds == prefix, src)
    }
    assert(kept.nonEmpty)
  }

  test("stripBoilerplate under threshold is the identity") {
    val docs = Seq(
      (1L, "shared line. own text"),
      (2L, "shared line. other text")).toDF("doc_id", "text")
    // "shared line" is in only 2 docs; minDocs=3 → nothing removed
    val m = TextAnalysis.stripBoilerplate(docs, "doc_id", "text", 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "shared line. own text", 2L -> "shared line. other text"))
  }
}
