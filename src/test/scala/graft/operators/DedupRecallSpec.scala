package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/**
  * Quantified recall of the approximate dedup paths against their exact
  * counterparts on the driver testdata. Precision is 1.0 by construction
  * (both pipelines verify candidates exactly); recall is the designed
  * trade, so it gets measured, not hand-waved.
  */
class DedupRecallSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash-LSH recall vs exact n-gram Jaccard at threshold 0.7") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val exact = pairs(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.7))
    val lsh = pairs(Dedup.nearDupPairs(docs, "doc_id", "text", 0.7).df)
    assert(lsh.subsetOf(exact)) // verified candidates: no false positives
    val recall = if (exact.isEmpty) 1.0 else (lsh & exact).size.toDouble / exact.size
    info(f"minhash-LSH recall ${recall}%.3f over ${exact.size} exact pairs")
    // 16 hashes in 4x4 bands: P(candidate | j=0.7) ~ 0.67, rising fast
    // toward 1 for stronger dups; deterministic corpus, floor below the
    // measured value
    assert(recall >= 0.5, f"recall $recall%.3f")
  }

  test("scaled (6x5, 30-hash) banding: no false positives, strong dups kept, junk candidates cut") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val exact = pairs(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.7))
    val scaled = pairs(Dedup.nearDupPairs(docs, "doc_id", "text", 0.7, NearDupProfile.CharScaled).df)
    assert(scaled.subsetOf(exact)) // same exact-Jaccard verify stage
    val recall = if (exact.isEmpty) 1.0 else (scaled & exact).size.toDouble / exact.size
    info(f"scaled-banding recall ${recall}%.3f over ${exact.size} exact pairs")
    // (6,5): P(candidate | j=0.7) = 1-(1-0.7^5)^6 ~ 0.67 — same floor as
    // the default profile's 1-(1-0.7^4)^4
    assert(recall >= 0.5, f"recall $recall%.3f")
    // strong duplicates (j >= 0.9, p >= 0.99 under both profiles): the
    // scaled profile must find every one the default profile finds
    val strong = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9)
    assert(pairs(strong).subsetOf(scaled),
      "scaled profile missed a j >= 0.9 duplicate")
    // the profile's reason to exist: sub-threshold band collisions are
    // rarer, so the CANDIDATE stage (pre-verify) shrinks. Compare
    // candidate counts on the same signatures-from-sets chain.
    val sets = Dedup.gramSets(docs, "doc_id", "text").persist()
    try {
      import graft.operators.TextHashing.LshBanding
      def candCount(b: LshBanding) = Dedup.lshCandidates(
        Dedup.signaturesFromSets(sets, b), 0.7, b).count()
      val defCands = candCount(LshBanding.Default)
      val scaledCands = candCount(LshBanding.Scaled)
      info(s"candidates: default=$defCands scaled=$scaledCands")
      assert(scaledCands <= defCands,
        s"scaled banding produced MORE candidates ($scaledCands > $defCands)")
    } finally sets.unpersist(blocking = false)
  }

  test("bucket cap: above the max bucket it is exact; aggressive cap keeps planted strong dups") {
    import graft.operators.TextHashing.LshBanding
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val uncapped = pairs(Dedup.nearDupPairs(docs, "doc_id", "text", 0.7).df)
    // cap far above any bucket on this corpus -> bit-identical output
    val high = pairs(Dedup.nearDupPairs(docs, "doc_id", "text", 0.7,
      NearDupProfile.Char.copy(maxBucket = 1000000L)).df)
    assert(high === uncapped)
    // aggressive cap: recall trade is measured, not silent. Strong dups
    // collide in multiple bands; losing the hot ones must not lose the
    // pair wholesale.
    val capped = pairs(Dedup.nearDupPairs(docs, "doc_id", "text", 0.7,
      NearDupProfile.Char.copy(maxBucket = 25L)).df)
    assert(capped.subsetOf(uncapped)) // cap only ever REMOVES candidates
    val strong = pairs(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9))
    val kept = if (strong.isEmpty) 1.0
      else (capped & strong).size.toDouble / strong.size
    info(f"cap=25 keeps ${kept}%.3f of j >= 0.9 pairs" +
      s" (${(capped & strong).size}/${strong.size}), total ${capped.size}/${uncapped.size}")
    assert(kept >= 0.9, f"aggressive cap lost too many strong dups: $kept%.3f")
  }

  test("winnow minShared sensitivity: 2 is a superset of 3 with measured recall/volume trade") {
    // r13 verdict #7: q196's 2% planted-recall misses at minShared=3 are
    // threshold semantics on the shortest docs; this pins the knob's
    // behavior at both settings against exact n-gram Jaccard truth so
    // the trade is a measured table, not a hand-wave (the ScalingBench
    // q196 block measures the same sweep at the 5k/50k/500k tiers).
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val exact = pairs(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.7))
    val ms3 = pairs(Dedup.winnowPairs(docs, "doc_id", "text",
      k = 5, w = 4, minShared = 3, dfCap = 50))
    val ms2 = pairs(Dedup.winnowPairs(docs, "doc_id", "text",
      k = 5, w = 4, minShared = 2, dfCap = 50))
    assert(ms3.subsetOf(ms2),
      "relaxing minShared can only ADD pairs (same fingerprints, lower bar)")
    def recall(s: Set[(Long, Long)]) =
      if (exact.isEmpty) 1.0 else (s & exact).size.toDouble / exact.size
    val (r3, r2) = (recall(ms3), recall(ms2))
    info(f"minShared=3: ${ms3.size} pairs, recall $r3%.3f; " +
      f"minShared=2: ${ms2.size} pairs, recall $r2%.3f over ${exact.size} exact")
    assert(r2 >= r3, "recall must be monotone in the relaxation")
    // winnowing selects ~1/w of grams; near-dups share long runs, so
    // even the stricter setting must find most exact pairs here
    assert(r3 >= 0.5, f"minShared=3 recall $r3%.3f")
  }

  test("cosine sign-LSH recall vs exact all-pairs at threshold 0.4") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val exact = pairs(SimilaritySearch.cosineDupPairsExact(emb, 0.4))
    val lsh = pairs(SimilaritySearch.cosineDupPairs(emb, 0.4, bits = 6))
    assert(lsh.subsetOf(exact))
    val recall = if (exact.isEmpty) 1.0 else (lsh & exact).size.toDouble / exact.size
    info(f"cosine-LSH recall ${recall}%.3f over ${exact.size} exact pairs")
    assert(recall >= 0.2, f"recall $recall%.3f") // 0.4 is far below the
    // sign-agreement regime (cosine->1) the operator is built for; the
    // number documents the behavior at an aggressive threshold
  }
}
