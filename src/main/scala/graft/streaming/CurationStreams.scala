package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables.r6
import graft.operators.{Decontamination, Dedup, SimilaritySearch, TextAnalysis, UrlOps}

/**
 * Streaming curation built on STREAM-STATIC joins: an ingest stream of
 * documents checked against a static, pre-computed reference relation —
 * the shape a production pipeline runs while a crawl lands (the batch
 * operators in graft.operators re-run the same Column expressions; see
 * EventStreamsSpec's row-local kernel parity for the stateless ones —
 * this module covers the one curation shape that genuinely needs a JOIN
 * in-stream).
 *
 * Semantics mirror the batch Decontamination.contaminationReport's
 * detection set exactly: a doc is contaminated iff it shares ≥1 token
 * n-gram fingerprint with the eval set. Only the OUTPUT differs — the
 * stream emits the contaminated ids as they arrive (no per-doc overlap
 * counts: counting needs a stateful aggregation; membership needs only
 * the stream-static left-semi join plus per-doc dedup, both supported in
 * append mode). StreamDecontaminationSpec pins the parity.
 */
object CurationStreams {

  /** Distinct n-gram fingerprints of a static eval set — compute once,
    * reuse across micro-batches (the static side of the join; Spark
    * re-plans it per batch, so persist() it for long streams). */
  def evalGramSet(evalSet: DataFrame, text: String, n: Int): DataFrame =
    evalSet.select(split(col(text), " ").as("_ts"))
      .select(explode(
        Decontamination.tokenGramFingerprintsFromTokens(col("_ts"), n)).as("g"))
      .distinct()

  /** Contaminated doc ids from a STREAMING doc source: explode each
    * incoming doc's gram fingerprints (row-local projection), left-semi
    * join the static eval grams (stream-static, supported in append
    * mode), dedup to one row per contaminated doc. dropDuplicates keeps
    * per-id state; bound it with a watermark on an event-time column
    * upstream for unbounded streams (the id set itself is small — it's
    * the leaked tail). */
  def contaminatedIds(docs: DataFrame, evalGrams: DataFrame,
                      id: String, text: String, n: Int = 8): DataFrame =
    docs
      .select(col(id), split(col(text), " ").as("_ts"))
      .select(col(id), explode(
        Decontamination.tokenGramFingerprintsFromTokens(col("_ts"), n)).as("g"))
      .join(evalGrams, Seq("g"), "left_semi")
      .dropDuplicates(id)

  /** Exact streaming dedup with WATERMARK-BOUNDED state: one surviving
    * row per content fingerprint, duplicates dropped across micro-batch
    * boundaries, via `dropDuplicatesWithinWatermark` — the primitive
    * whose per-key state EXPIRES once the watermark passes the key's
    * event time. Plain dropDuplicates holds every fingerprint ever seen
    * (state grows with the corpus — the thing that kills a long-running
    * 100 TB ingest); the watermark form holds only the fingerprints of
    * the trailing `delay` window, which is the right contract for crawl
    * ingest where byte-identical re-fetches cluster in time. Batch
    * parity is the exact-dedup keeper semantics (one row per
    * fingerprint) for any stream whose duplicates arrive within the
    * delay; re-fetches farther apart than the delay are the documented
    * trade for bounded state — catch them with the batch operator
    * (q42 shape) over the landed files. */
  def dedupedDocs(docs: DataFrame, ts: String, id: String, text: String,
                  delay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", TextAnalysis.contentFingerprint(col(text)))
      .withWatermark(ts, delay)
      .dropDuplicatesWithinWatermark("fp")
      .select(col(id), col(ts), col("fp"))

  /** Ids of STREAMING vectors that semantically duplicate a member of a
    * static, pre-clustered corpus — the incremental form of
    * [[graft.operators.SimilaritySearch.semanticDedup]] for an index
    * that's already built (a training corpus checked as new crawl data
    * lands, no corpus re-scan). Each incoming vector is assigned to its
    * nearest static centroid (row-local fold over a one-row broadcast —
    * nothing stateful), then compared against that ONE cluster's members
    * via a stream-static equi join on cid; candidates are bounded by
    * cluster size exactly as in the batch operator. `index` is
    * kmeansAssign's output on the corpus, `cents` is kmeansCentroids
    * with the SAME (bits, iters) — persist both for long streams.
    * Append-mode safe: the only state is dropDuplicates' per-id set
    * (watermark upstream for unbounded streams). */
  def semanticDupIds(stream: DataFrame, index: DataFrame, cents: DataFrame,
                     threshold: Double): DataFrame =
    SimilaritySearch.assignToCentroids(stream, cents)
      .join(index.select(col("cid"), col("embedding").as("iv")), Seq("cid"))
      .filter(r6(SimilaritySearch.cosine(col("embedding"), col("iv")))
        >= threshold)
      .dropDuplicates("vec_id")
      .select(col("vec_id"), col("cid"))

  /** Near-duplicate pairs between a STREAMING doc source and a static
    * MinHash-LSH [[graft.operators.Dedup.DedupIndex]] — the streaming
    * form of the q81 incremental arrival path (check a landing crawl
    * against the corpus as it streams in, no corpus re-scan per batch).
    *
    * Same detection semantics as Dedup.incrementalPairs' PROBE side —
    * band-signature equi collision, size-ratio prefilter, exact-Jaccard
    * verify at the same threshold, identical inter/(na+nb−inter)
    * arithmetic — re-shaped for what append-mode streaming allows: the
    * batch verify's mapPartitions-over-pruned-sets needs per-batch
    * collects/persists, so the stream instead CARRIES each incoming
    * doc's gram set on its band rows (4× array duplication, bounded by
    * the batch) and verifies row-locally with array_intersect after the
    * two stream-static equi joins (bands, then the matched index doc's
    * gram set). Within-batch pairs are not emitted — that is a
    * stream-stream self-join; run the batch operator over the landed
    * files for intra-crawl dups (StreamNearDupSpec pins the probe-side
    * parity). Persist both index relations for long streams.
    *
    * Like incrementalPairs, the stream is shingled and banded under
    * `index.profile` — its set kernel, banding and wide-hash flag — and a
    * capped index with its build-time histogram is probed without its
    * over-cap buckets (`DedupIndex.probeBands`): band signatures only
    * collide within one profile, so a token or codepoint index probed
    * with char bands would match nothing. */
  def nearDupPairs(stream: DataFrame, index: Dedup.DedupIndex, id: String,
                   text: String, threshold: Double): DataFrame = {
    // band rows carry the doc's gram set (stateless projection — joining
    // sets back post-explode would be a stream-stream self-join)
    val inBands = index.profile.bands(index.profile.shingles.sets(stream, id, text),
      withSets = true)
    inBands.as("y")
      .join(index.probeBands.as("x"),
        col("x.sig") === col("y.sig") &&
          least(col("x.gn"), col("y.gn")).cast("double") >=
            lit(threshold) * greatest(col("x.gn"), col("y.gn")))
      .select(col("x.sid").as("id_a"), col("y.sid").as("id_b"), col("y.gs"))
      .dropDuplicates("id_a", "id_b")
      .join(index.sets.select(col("sid").as("id_a"), col("gs").as("xgs")),
        Seq("id_a"))
      .withColumn("inter", size(array_intersect(col("gs"), col("xgs"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("xgs")) + size(col("gs")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** One frontier URL after the robots gate (typed row for the stateful
    * scheduling group function). */
  final case class FrontierUrl(rid: Long, host: String, pri: Double)

  /** One scheduled fetch: slot is the per-host fetch index (0-based,
    * monotone ACROSS micro-batches), offset = slot · delaySeconds. */
  final case class FrontierSlot(rid: Long, host: String, slot: Long,
                                fetch_offset_s: Long)

  /** Streaming CRAWL FRONTIER: a landing URL stream filtered against a
    * static robots disallow-rule relation and politeness-scheduled per
    * host — the production composition of the batch q158 (robots
    * filter) and q169 (politeness schedule) tier, run while the crawl
    * lands instead of after it.
    *
    * Two pieces, each the streaming re-shape of its batch twin:
    *  - robots: a STREAM-STATIC LEFT ANTI join — the one join class the
    *    other stream operators here don't exercise (semi: decontam;
    *    inner: near-dup/semantic). Batch robotsFilter materializes a
    *    blocked-id set and anti-joins on id (two passes over the
    *    corpus-sized relation); on a stream the anti join runs directly
    *    against (host, prefix) with the startsWith residual — same
    *    detection set (a URL is dropped iff ≥1 rule matches), one pass,
    *    append-mode legal. Rules relations are small (hosts × few
    *    prefixes) — persist for long streams; Spark broadcasts per
    *    micro-batch under its own sizing.
    *  - politeness: the batch per-host row_number window is not
    *    append-streamable; the stream keeps ONE LONG of state per host
    *    (next free slot) in flatMapGroupsWithState and numbers each
    *    batch's arrivals (priority DESC, id — the batch slot order)
    *    from it, so slots stay dense and monotone across micro-batches
    *    and no host is ever double-booked. State is
    *    |active hosts| × 8 bytes — cardinality-bound exactly like the
    *    batch window's parallelism argument (UrlOps.politenessSchedule
    *    scaladoc); expire idle hosts with a state timeout upstream if
    *    the frontier's host set is unbounded.
    *
    * Batch parity (spec-pinned): run on a STATIC frame, the operator
    * equals robotsFilter → politenessSchedule row-for-row
    * (flatMapGroupsWithState degrades to per-group iteration on batch
    * inputs, state empty). */
  def crawlFrontier(urls: DataFrame, id: String, url: String,
                    priority: String, rules: DataFrame,
                    delaySeconds: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val r = rules.select(col("host").as("r_host"), col("prefix").as("r_prefix"))
    val allowed = urls.select(col(id).cast("long").as("rid"),
        UrlOps.urlHost(col(url)).as("host"),
        UrlOps.urlPath(col(url)).as("p"),
        col(priority).cast("double").as("pri"))
      .join(r, col("host") === col("r_host") &&
        col("p").startsWith(col("r_prefix")), "left_anti")
      .select(col("rid"), col("host"), col("pri"))
    allowed.as[FrontierUrl](Encoders.product[FrontierUrl])
      .groupByKey(_.host)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (host: String, it: Iterator[FrontierUrl],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val base = state.getOption.getOrElse(0L)
          // per-host per-batch arrivals: bounded by the micro-batch, the
          // sanctioned in-memory sort (the batch window sorts the same set)
          val ordered = it.toIndexedSeq.sortBy(u => (-u.pri, u.rid))
          state.update(base + ordered.size)
          ordered.iterator.zipWithIndex.map { case (u, i) =>
            FrontierSlot(u.rid, host, base + i, (base + i) * delaySeconds)
          }
      }(Encoders.scalaLong, Encoders.product[FrontierSlot])
      .toDF()
  }
}
