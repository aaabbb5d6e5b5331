package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
  * Resource lifecycle of the MinHash-LSH pipeline: the reference frees its
  * CacheMachines when the execution graph finishes
  * (engine/src/cache_machine/CacheMachine.cpp); the Spark analog is that
  * every corpus-sized intermediate — the gram-set checkpoint, the band
  * relation and the verify broadcast — is released before the pipeline
  * returns, and the managed handle's close() drops the (small)
  * materialized result too, so a long-lived session running many dedups
  * accumulates NO storage — under every shingle profile.
  */
class DedupLifecycleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3L, "completely different content about spark query engines and shuffles")
  ).toDF("doc_id", "text")

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val profiles =
    Seq(NearDupProfile.Char, NearDupProfile.Codepoint, NearDupProfile.Token)

  /** One managed run under `profile`: exactly the result blocks survive
    * the return (the gram-set checkpoint, band relation and verify
    * broadcast are gone), the result is correct, and close() leaves
    * nothing behind. */
  private def assertManagedLifecycle(profile: NearDupProfile,
                                     budget: Option[Long]): Unit = {
    val before = persistedIds
    val h = budget.fold(Dedup.nearDupPairs(docs, "doc_id", "text", 0.7, profile))(
      Dedup.nearDupPairs(docs, "doc_id", "text", 0.7, profile, _))
    // the broadcast was destroyed before the handle came back
    assert(Dedup.liveVerifyBroadcasts == 0, profile.shingles)
    // the ONLY surviving storage is the materialized result itself
    val during = persistedIds -- before
    assert(during.size == 1,
      s"${profile.shingles}: expected just the result blocks, got RDDs $during")
    // result is materialized and correct despite the released intermediates
    val pairs = h.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), profile.shingles)
    h.close()
    assert((persistedIds -- before).isEmpty,
      s"${profile.shingles}: storage residue after close() — the pipeline must leave nothing cached")
  }

  test("managed broadcast path: intermediates freed before return, close() leaves zero storage") {
    // each profile's default verify budget: the char broadcast merge-walk,
    // the token and codepoint shuffle verify
    profiles.foreach(assertManagedLifecycle(_, budget = None))
  }

  test("managed shuffle-fallback path releases the gram-set scan and closes clean") {
    // budget 0 forces the SHUFFLE_HASH verify fallback (the q44b path)
    profiles.foreach(assertManagedLifecycle(_, budget = Some(0L)))
  }

  test("return-and-forget path keeps only result blocks and stays usable") {
    val before = persistedIds
    val df = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7).df
    assert(Dedup.liveVerifyBroadcasts == 0)
    assert((persistedIds -- before).size == 1)
    // repeated actions read the materialized blocks — no recompute against
    // the destroyed broadcast
    assert(df.count() == df.count() && df.count() >= 1)
  }
}
