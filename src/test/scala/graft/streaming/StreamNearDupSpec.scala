package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Dedup, NearDupProfile}

/**
  * Streaming incremental near-dup parity: CurationStreams.nearDupPairs
  * (stream-static band probe + row-local array verify) over a bounded
  * file stream must find exactly the PROBE-side pairs that the batch
  * Dedup.incrementalPairs finds for the same batch against the same
  * index — the q81 arrival path, re-shaped for append-mode streaming.
  * The stream is shingled and banded under the index's profile, so the
  * parity holds for every profile, and for a capped index probed without
  * its over-cap buckets.
  */
class StreamNearDupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
    .select(col("doc_id"), col("text"))

  /** Streams planted arrivals — byte-identical copies of every 7th doc,
    * new ids — against `idx` and checks them against incrementalPairs. */
  private def assertParity(idx: Dedup.DedupIndex, query: String): Set[(Long, Long)] = {
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ndp").toString
    batch.write.mode("overwrite").parquet(dir)

    val bands = idx.bands.persist(); bands.count()
    val sets = idx.sets.persist(); sets.count()
    val sizes = idx.bandSizes.map(_.persist())
    val index = idx.copy(bands = bands, sets = sets, bandSizes = sizes)
    try {
      val stream = spark.readStream.schema(batch.schema).parquet(dir)
      val q = CurationStreams.nearDupPairs(stream, index, "doc_id", "text", 0.7)
        .writeStream.format("memory").queryName(query)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table(query).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // probe-side pairs only: within-batch pairs are documented as the
        // batch operator's job (stream-stream self-joins are out of scope)
        val batchPairs = Dedup.incrementalPairs(index, batch, "doc_id", "text", 0.7)
          .filter(col("id_a") < 100000L).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(streamed.nonEmpty)
        assert(streamed == batchPairs)
        streamed
      } finally q.stop()
    } finally {
      bands.unpersist(blocking = false)
      sets.unpersist(blocking = false)
      sizes.foreach(_.unpersist(blocking = false))
    }
  }

  private def plantedFound(pairs: Set[(Long, Long)]): Boolean =
    pairs.exists { case (a, b) => b == a + 100000L }

  test("streaming nearDupPairs equals incrementalPairs' probe side") {
    val streamed = assertParity(Dedup.dedupIndex(docs, "doc_id", "text"), "ndp_parity")
    // every planted copy is found against its original
    assert(plantedFound(streamed))
  }

  test("streaming nearDupPairs probes a token index with token shingles and its banding") {
    val streamed = assertParity(
      Dedup.dedupIndex(docs, "doc_id", "text", NearDupProfile.Token), "ndp_parity_token")
    assert(plantedFound(streamed))
  }

  test("streaming nearDupPairs probes a codepoint index with codepoint shingles") {
    val streamed = assertParity(
      Dedup.dedupIndex(docs, "doc_id", "text", NearDupProfile.Codepoint), "ndp_parity_cp")
    assert(plantedFound(streamed))
  }

  test("streaming nearDupPairs drops a capped index's over-cap buckets, as incrementalPairs does") {
    val idx = Dedup.dedupIndex(docs, "doc_id", "text", NearDupProfile.Token)
    val uncapped = assertParity(idx, "ndp_parity_uncapped")
    val capped = assertParity(
      idx.copy(bandSizes = Some(Dedup.indexBandSizes(idx.bands)),
        profile = NearDupProfile.Token.copy(maxBucket = 1L)),
      "ndp_parity_capped")
    assert(capped.subsetOf(uncapped))
    assert(capped != uncapped, "a cap of 1 drops the corpus's own duplicate buckets")
  }
}
