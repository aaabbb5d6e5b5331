package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near dup
    (3L, "completely different content about spark query engines and shuffles")
  ).toDF("doc_id", "text")

  test("exactDuplicates groups identical texts, keeps min id") {
    val dups = Dedup.exactDuplicates(docs, "doc_id", "text")
      .filter(col("n_copies") > 1).collect()
    assert(dups.length == 1)
    assert(dups(0).getAs[Long]("keep_id") == 0L)
    assert(dups(0).getAs[Long]("n_copies") == 2L)
  }

  test("ngramJaccardPairs finds exact and near duplicates above threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical → jaccard 1.0
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minHashLshPairs candidates agree with exact Jaccard on strong dups") {
    val lsh = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7).df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // LSH pairs are verified → never false positives
    assert(lsh.contains((0L, 1L))) // identical docs always collide in every band
  }

  test("simhash: identical docs get identical fingerprints (hamming 0)") {
    val fp = Dedup.simHashFingerprints(docs, "doc_id", "text")
    val pairs = Dedup.simHashPairs(fp, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("simHashPairs banding matches brute-force Hamming and avoids cross products") {
    val fp = Dedup.simHashFingerprints(docs, "doc_id", "text").localCheckpoint()
    for (maxDist <- Seq(0, 1, 3)) {
      val banded = Dedup.simHashPairs(fp, maxDist)
      val plan = banded.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"maxDist=$maxDist plan has a cross product:\n$plan")
      val got = banded.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = fp.as("a").crossJoin(fp.as("b"))
        .filter(col("a.sid") < col("b.sid"))
        .select(col("a.sid"), col("b.sid"),
          bit_count(col("a.fingerprint").bitwiseXOR(col("b.fingerprint"))).as("h"))
        .filter(col("h") <= maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute, s"maxDist=$maxDist: banded $got != brute $brute")
    }
  }

  test("minHashLshPairs shuffle-join fallback (budget=0) matches the broadcast fast path") {
    // every profile, both verify sides: an explicit broadcast budget runs
    // the merge-walk (token and codepoint default to the shuffle verify,
    // so this is their only batch merge-walk), budget 0 the SHUFFLE_HASH
    // joins
    for (profile <- Seq(NearDupProfile.Char, NearDupProfile.Codepoint, NearDupProfile.Token)) {
      def verified(budget: Long) = {
        val h = Dedup.nearDupPairs(docs, "doc_id", "text", 0.7, profile, budget)
        try h.df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        finally h.close()
      }
      val fast = verified(Dedup.BroadcastVerifyMaxBytes)
      assert(fast.contains((0L, 1L, 1.0)), s"${profile.shingles}: $fast")
      assert(fast == verified(0L), s"${profile.shingles}: broadcast != shuffle")
    }
  }

  test("minHashVerify shuffle path broadcasts nothing (the budget said no)") {
    val sets = Dedup.shingleSet(docs, "doc_id", "text")
      .groupBy(col("sid"))
      .agg(sort_array(collect_set(TextHashing.gramHash(col("g")))).as("gs"))
    val cands = Seq((0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val verify = Dedup.minHashVerify(cands, sets)
    val plan = verify.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"fallback verify plan still broadcasts a side:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffle hash join:\n$plan")
    assert(verify.count() == 2)
  }

  test("broadcast verify: a candidate id missing from the sets map is a named error") {
    // The pipelines derive candidates from the bands of the same sets they
    // verify against, but a hand-built DedupIndex pairs any bands with any
    // sets, so a missing id is reachable: this index bands doc 0 without
    // its gram set, and the batch carries a copy of doc 0's text.
    val built = Dedup.dedupIndex(docs, "doc_id", "text")
    val index = built.copy(sets = built.sets.filter(col("sid") =!= 0L))
    val batch = docs.filter(col("doc_id") === 0L)
      .select((col("doc_id") + 10L).as("doc_id"), col("text"))
    def pairs(forceSemiPrune: Boolean) =
      Dedup.incrementalPairs(index, batch, "doc_id", "text", 0.7, forceSemiPrune)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = intercept[org.apache.spark.SparkException](pairs(forceSemiPrune = false))
    val named = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[MissingGramSetException])
    assert(named || e.getMessage.contains("MissingGramSetException"), e.toString)
    assert(e.getMessage.contains("candidate doc id 0 "), e.getMessage)
    // the shuffle verify's inner joins drop the pair instead
    val shuffled = pairs(forceSemiPrune = true)
    assert(shuffled.contains((1L, 10L)) && !shuffled.exists(_._1 == 0L), shuffled)
  }

  test("canonicalizeKeepBest keeps the highest-score member, ties to larger id") {
    import spark.implicits._
    // docs 1/2/3 are near-identical (one-token edits of 40 shared
    // tokens); 9 is unrelated and must survive untouched
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base + " alpha", 10L),
      (2L, base + " beta", 30L),   // highest score -> the survivor
      (3L, base + " gamma", 10L),
      (9L, (100 to 140).map(i => s"other$i").mkString(" "), 5L))
      .toDF("doc_id", "text", "score")
    val kept = Dedup.canonicalizeKeepBest(docs, "doc_id", "text", 0.7,
        score = col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 9L), kept.toString)
    // tie on score -> larger id wins (total order)
    val tied = Seq((1L, base + " alpha", 7L), (2L, base + " beta", 7L))
      .toDF("doc_id", "text", "score")
    val keptTied = Dedup.canonicalizeKeepBest(tied, "doc_id", "text", 0.7,
        score = col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(keptTied == Set(2L), keptTied.toString)
  }
}
