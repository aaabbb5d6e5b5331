package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
  * Dedup.nearDupPairsAutoManaged — the r14-verdict front door: the probe that
  * q202 oracle-gates is what the default entry point ACTS on. For each
  * of the three measured regimes, dispatch must equal the manual call
  * the recommendation names, row for row (same generators as
  * RecommendProfileSpec, which pins the recommendations themselves).
  */
class AutoDispatchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import DedupSpecCorpora.{docs, saturatedDoc, organicDoc, cjkDoc}

  import TextHashing.LshBanding

  private def auto(d: DataFrame, threshold: Double = 0.7, sampleDocs: Int = 2048) =
    Dedup.nearDupPairsAutoManaged(d, "doc_id", "text", threshold, sampleDocs).df

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("saturated corpus: auto == manual minHashLshPairsTokens (Scaled, rec cap)") {
    val d = docs(saturatedDoc, 600)
    val pairs = auto(d, sampleDocs = 512)
    val rec = Dedup.lastRecommendation.get
    assert(rec.profile === "token")
    assert(rec.nearDupProfile ===
      NearDupProfile(Shingles.Token, LshBanding.Scaled, rec.maxBucket))
    val manual = Dedup.nearDupPairs(d, "doc_id", "text", 0.7,
      NearDupProfile.Token.copy(maxBucket = rec.maxBucket)).df
    assert(rows(pairs) === rows(manual))
  }

  test("organic corpus: auto == manual Scaled char pipeline (rec cap 0)") {
    val d = docs(organicDoc, 600)
    val pairs = auto(d, sampleDocs = 512)
    val rec = Dedup.lastRecommendation.get
    assert(rec.profile === "char" && rec.maxBucket === 0L)
    assert(rec.nearDupProfile === NearDupProfile(Shingles.Char, LshBanding.Scaled, 0L))
    val manual = Dedup.nearDupPairs(d, "doc_id", "text", 0.7, NearDupProfile.CharScaled).df
    assert(rows(pairs) === rows(manual))
  }

  test("CJK corpus: auto == manual minHashLshPairsCp (rec cap)") {
    val d = docs(cjkDoc, 300)
    val pairs = auto(d, sampleDocs = 256)
    val rec = Dedup.lastRecommendation.get
    assert(rec.profile === "codepoint")
    assert(rec.nearDupProfile ===
      NearDupProfile(Shingles.Codepoint, LshBanding.Default, rec.maxBucket))
    val manual = Dedup.nearDupPairs(d, "doc_id", "text", 0.7,
      NearDupProfile.Codepoint.copy(maxBucket = rec.maxBucket)).df
    assert(rows(pairs) === rows(manual))
  }

  test("dup storm through auto: cap recommended AND applied (completes under a tight budget)") {
    // 400 copies of 4 distinct texts — uncapped banding would generate
    // ~6×C(100,2)×4 candidates; the recommended cap of 500 keeps every
    // bucket visited and the pipeline completes under a budget that the
    // uncapped run would trip. (The storm is exact dups, so the probe's
    // SAMPLE already concentrates: estPairsPerDoc > 16 ⇒ cap.)
    val storm = docs(i => saturatedDoc(i % 4), 400)
    spark.conf.set("graft.dedup.candidatePairBudget", "200000")
    try {
      val pairs = auto(storm, threshold = 0.9, sampleDocs = 256)
      val rec = Dedup.lastRecommendation.get
      assert(rec.maxBucket === 500L, s"storm must recommend the cap (got $rec)")
      assert(pairs.count() > 0L, "exact-dup pairs must survive the cap")
    } finally spark.conf.unset("graft.dedup.candidatePairBudget")
  }

  test("canonicalizeAuto == clusters-over-auto-pairs keep-min (the q204 shape)") {
    // 8-copy families (400 docs, 50 distinct texts): the probe still
    // picks token/uncapped (saturated universe, est under the 16/doc cap
    // trigger) and the dispatched chain must collapse each family to its
    // min id
    val d = docs(i => saturatedDoc(i % 50), 400)
    val kept = Dedup.canonicalizeAuto(d, "doc_id", "text", 0.7)
    val clusters = Dedup.connectedComponents(auto(d))
      .withColumnRenamed("doc_id", "_cid")
    val manual = d.join(clusters, d("doc_id") === org.apache.spark.sql.functions.col("_cid"), "left")
      .filter(org.apache.spark.sql.functions.col("rep_id").isNull ||
        org.apache.spark.sql.functions.col("rep_id") === d("doc_id"))
      .drop("_cid", "rep_id")
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val m = manual.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === m)
    assert(a.size < 400, "the saturated corpus has near-dups to drop")
  }

  test("guard observability: guardEstPairs carries the histogram summary") {
    def estimate(d: DataFrame) = {
      val mp = Dedup.nearDupPairs(d, "doc_id", "text", 0.7)
      try mp.guardEstPairs finally mp.close()
    }
    val est = estimate(docs(organicDoc, 200))
    assert(est >= 0L, s"guard ran, its estimate must be real: $est")
    // the rest of the summary is in a tripped guard's message: a budget
    // one pair under a colliding corpus's returned estimate trips the
    // guard on the same histogram
    val saturated = docs(saturatedDoc, 200)
    val hot = estimate(saturated)
    assert(hot > 1L, s"the saturated corpus has band collisions: $hot")
    spark.conf.set("graft.dedup.candidatePairBudget", (hot - 1L).toString)
    try {
      val e = intercept[IllegalStateException](estimate(saturated))
      val summary = """~(\d+) candidate pairs \(largest visited bucket (\d+) of (\d+) buckets\)""".r
      val Some(m) = summary.findFirstMatchIn(e.getMessage): @unchecked
      val (tripped, maxB, nB) = (m.group(1).toLong, m.group(2).toLong, m.group(3).toLong)
      assert(nB > 0L && maxB >= 1L, s"guard ran, stats must be real: ($tripped, $maxB, $nB)")
      assert(tripped === hot, "guardEstPairs is the estimate the guard enforces")
    } finally spark.conf.unset("graft.dedup.candidatePairBudget")
  }

  test("incremental probe-side guard (opt-in): hot index buckets trip before the probe join") {
    // index = a saturated 300-doc corpus (3 hot texts → bucket 100 per
    // band per text); batch = 50 docs of the SAME texts (fresh ids), so
    // every band collides: probe est = 4 bands × 100 × (17+17+16) =
    // 20,000 > the 10,000 budget, while the WITHIN-batch volume
    // (4 × ΣC(~17,2) ≈ 1.6k) passes — only the probe-side estimate can
    // catch this shape, and only when bandSizes is given.
    val corpus = docs(i => saturatedDoc(0) + " x" + (i % 3), 300)
    val batch = docs(i => saturatedDoc(0) + " x" + (i % 3), 50)
      .select((org.apache.spark.sql.functions.col("doc_id") + 10000L).as("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val base = Dedup.dedupIndex(corpus, "doc_id", "text")
    spark.conf.set("graft.dedup.candidatePairBudget", "10000")
    try {
      val guarded = base.copy(bandSizes = Some(Dedup.indexBandSizes(base.bands)))
      val e = intercept[IllegalStateException] {
        Dedup.incrementalPairs(guarded, batch, "doc_id", "text", 0.7).count()
      }
      assert(e.getMessage.contains("incremental probe pre-flight"))
      assert(e.getMessage.contains("graft.dedup.candidatePairBudget"))
      // without bandSizes the probe-side guard is off (documented opt-in:
      // computing the histogram per batch would re-scan the index) and
      // the within-batch guard alone passes this healthy batch
      assert(Dedup.incrementalPairs(base, batch, "doc_id", "text", 0.7)
        .count() >= 0L)
    } finally spark.conf.unset("graft.dedup.candidatePairBudget")
  }

  test("nearDupPairsAutoManaged: handle on the auto path carries the guard estimate (r15 advisor)") {
    val d = docs(saturatedDoc, 300)
    val mp = Dedup.nearDupPairsAutoManaged(d, "doc_id", "text", 0.7, sampleDocs = 256)
    try {
      assert(mp.guardEstPairs >= 0L,
        "auto handle must surface the chosen profile's pre-flight estimate per call")
      assert(rows(mp.df) ===
        rows(auto(d, sampleDocs = 256)))
    } finally mp.close()
  }

  test("dedupIndexAuto: probe at BUILD time → token index; batches dispatch off the recorded profile (q205 shape)") {
    import org.apache.spark.sql.functions.col
    val existing = docs(saturatedDoc, 400)
    val batch = docs(i => saturatedDoc(i % 40), 100)
      .select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    val idx = Dedup.dedupIndexAuto(existing, "doc_id", "text", sampleDocs = 256)
    assert(idx.profile === NearDupProfile.Token,
      s"saturated varied corpus → (token, uncapped); got ${idx.profile}")
    assert(idx.bandSizes.nonEmpty, "auto index always attaches the build-time histogram")
    val inc = Dedup.incrementalPairs(idx, batch, "doc_id", "text", 0.7)
    // oracle-style equivalence (the q81 argument under q199's resemblance):
    // full-corpus token pairs restricted to batch-touching pairs — band
    // collisions are identical in both paths, verify is exact
    val full = Dedup.nearDupPairs(existing.unionByName(batch),
        "doc_id", "text", 0.7, NearDupProfile.Token).df
      .filter(col("id_b") >= 5000L)
    assert(rows(inc) === rows(full))
    assert(rows(inc).nonEmpty, "the %40 batch repeats existing texts — pairs must exist")
  }

  test("dedupIndexAuto: CJK corpus → codepoint index, batch dispatches codepoint") {
    import org.apache.spark.sql.functions.col
    val existing = docs(cjkDoc, 200)
    val batch = docs(i => cjkDoc(i % 20), 60)
      .select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    val idx = Dedup.dedupIndexAuto(existing, "doc_id", "text", sampleDocs = 128)
    assert(idx.profile.shingles === Shingles.Codepoint,
      s"CJK corpus must build a codepoint index; got ${idx.profile}")
    val inc = Dedup.incrementalPairs(idx, batch, "doc_id", "text", 0.7)
    val full = Dedup.nearDupPairs(existing.unionByName(batch),
        "doc_id", "text", 0.7, idx.profile).df
      .filter(col("id_b") >= 5000L)
    assert(rows(inc) === rows(full))
    assert(rows(inc).nonEmpty, "the %20 batch repeats existing texts — pairs must exist")
  }

  test("dedupIndexAuto: dup-storm index RECORDS the cap, and the recorded cap governs the probe side") {
    import org.apache.spark.sql.functions.col
    val corpus = docs(i => saturatedDoc(0) + " x" + (i % 3), 300)
    val batch = docs(i => saturatedDoc(0) + " x" + (i % 3), 50)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val idx = Dedup.dedupIndexAuto(corpus, "doc_id", "text", sampleDocs = 256)
    assert(idx.profile.maxBucket === 500L, s"storm must record the cap (got ${idx.profile})")
    spark.conf.set("graft.dedup.candidatePairBudget", "10000")
    try {
      // uncapped twin of the same index: the ~100-doc hot buckets put the
      // probe estimate (Σ n_idx·n_batch over colliding sigs ≈ 30k) over
      // the budget — the r14 pre-flight fires
      intercept[IllegalStateException] {
        Dedup.incrementalPairs(idx.copy(profile = idx.profile.copy(maxBucket = 0L)), batch,
          "doc_id", "text", 0.7).count()
      }
      // a cap tighter than every storm bucket prunes ALL hot buckets on
      // the index side (and the batch self-join): the same batch now
      // passes the same budget and the pipeline completes — the recorded
      // cap, not the caller, governs the probe join
      val capped = Dedup.incrementalPairs(
        idx.copy(profile = idx.profile.copy(maxBucket = 2L)), batch,
        "doc_id", "text", 0.7)
      assert(capped.count() === 0L, "every storm bucket is hot: cap 2 prunes all candidates")
    } finally spark.conf.unset("graft.dedup.candidatePairBudget")
  }

  test("incremental within-batch guard message names only this site's knobs") {
    val idx = Dedup.dedupIndex(docs(organicDoc, 50), "doc_id", "text")
    val hotBatch = docs(i => saturatedDoc(0) + " z" + (i % 3), 300)
    spark.conf.set("graft.dedup.candidatePairBudget", "1000")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.incrementalPairs(idx, hotBatch, "doc_id", "text", 0.7).count()
      }
      assert(e.getMessage.contains("graft.dedup.candidatePairBudget"))
      assert(!e.getMessage.contains("NearDupProfile.Token"),
        "incremental site must not advertise hatches it doesn't have (r14 advisor)")
      assert(!e.getMessage.contains("maxBucket"),
        "incremental site has no bucket-cap knob")
    } finally spark.conf.unset("graft.dedup.candidatePairBudget")
  }
}
