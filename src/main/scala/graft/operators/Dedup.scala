package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHashing._

/**
 * Document deduplication operators for large-scale corpus curation: exact
 * (hash-groupBy), exact n-gram Jaccard (bounded candidate sets), MinHash+LSH
 * (the scale path: shingle → 16-way minhash signature → 4×4 banding →
 * bucket join → exact-Jaccard verify on candidates only), and SimHash
 * (64→32-bit sign sketch + Hamming pairing).
 *
 * Scale design: every operator is a pure DataFrame pipeline whose joins key
 * on hash/bucket values — at 100 TB each stage is a shuffle on a
 * high-cardinality key with no driver-side state. The LSH bucket join is
 * the only pairwise step, and it only materializes same-bucket candidate
 * pairs (collision probability tuned by bands×rows), not the O(n²) cross
 * product that exact Jaccard would need.
 */
/** Deterministic-release handle for a dedup pipeline result: `df` is the
  * final pair set backed by already-materialized localCheckpoint blocks
  * (every corpus-sized intermediate was freed before construction);
  * `close()` drops the result blocks too, leaving the pipeline with zero
  * storage footprint in the session. Without close(), the blocks are
  * reclaimed by the ContextCleaner once the DataFrame becomes unreachable
  * — close() just makes the release deterministic for long-lived
  * sessions. The DataFrame must not be used after close(). */
final class ManagedPairs private[operators] (
    val df: DataFrame,
    /** The pre-flight guard's Σ C(bucket,2) candidate estimate for this
      * pipeline run (-1 = guard disabled) — the same aggregate that
      * enforced the budget, surfaced so the guard's one job also serves
      * observability (r14 verdict #1). */
    val guardEstPairs: Long = -1L) extends AutoCloseable {
  override def close(): Unit = Dedup.releaseTruncated(df, blocking = true)
}

/** The shingle universe of a near-dup profile: the kernel that builds
  * each doc's sorted distinct gram-hash set, whether those hashes are
  * wide (token md5-48 and codepoint base-2^21: the signature reduces
  * mod P before the affine map — Dedup.signaturesFromSets), the escape
  * hatches the banding pre-flight guard names for it, and its default
  * verify budget. */
sealed abstract class Shingles(val wide: Boolean,
                               /** Default byte budget of the broadcast
                                 * merge-walk verify; 0 = shuffle verify,
                                 * with no sizing aggregate. */
                               val verifyBudget: Long,
                               private[operators] val hatches: String) {
  /** (sid, gs) gram sets of the non-null texts of `docs`. */
  def sets(docs: DataFrame, id: String, text: String): DataFrame
}

object Shingles {
  /** Character 3-grams, base-256 gram hashes (q44/q194). Broadcast
    * verify up to Dedup.BroadcastVerifyMaxBytes. */
  case object Char extends Shingles(wide = false, Dedup.BroadcastVerifyMaxBytes,
    "Escape hatches, in preference order: (1) switch to token shingles — " +
    "NearDupProfile.Token, whose gram universe grows with the vocabulary so hot " +
    "buckets cannot form (q199: max bucket 2 at every measured tier); (2) set " +
    "maxBucket (500 kept 99.7% planted recall at the tier that killed uncapped " +
    "char banding); (3) raise graft.dedup.candidatePairBudget if this volume is " +
    "genuinely intended.") {
    def sets(docs: DataFrame, id: String, text: String): DataFrame =
      Dedup.gramSets(docs, id, text)
  }

  /** Codepoint 3-grams, injective over full Unicode (q139). Shuffle
    * verify — the q44b-proven shape. */
  case object Codepoint extends Shingles(wide = true, 0L,
    "Escape hatches: (1) set maxBucket (500 kept 99.7% planted recall at the " +
    "tier that killed uncapped char banding; token shingles are NOT an option " +
    "here — codepoint-profile text is typically unsegmented, so whitespace " +
    "tokenization degenerates); (2) raise graft.dedup.candidatePairBudget if " +
    "this volume is genuinely intended.") {
    def sets(docs: DataFrame, id: String, text: String): DataFrame =
      Dedup.gramSetsCp(docs, id, text)
  }

  /** Whitespace-token 3-shingles, md5-48 hashes (q199) — for corpora
    * whose CHARACTER-gram universe saturates (narrow alphabets,
    * templated/synthetic text). SCALING.md round 13 measured the failure
    * it fixes: at a fixed ~1,580-gram char-3 universe, band candidates
    * grow exactly n² under any (b, r) because the fixed minhash functions
    * concentrate on ubiquitous grams; the token universe grows with the
    * vocabulary (Heaps), so hot buckets cannot form structurally. Its
    * Jaccard is token-shingle resemblance (coarser-grained,
    * word-order-sensitive), not char-3-gram resemblance. Shuffle verify:
    * routing it through the broadcast map measured slower on the
    * curation benchmark. */
  case object Token extends Shingles(wide = true, 0L,
    "This is already the token profile, so the universe cannot saturate " +
    "structurally — the volume is a genuine duplicate storm. Escape hatches: " +
    "(1) set maxBucket (hot buckets here are exact-dup families, the " +
    "low-information region); (2) raise graft.dedup.candidatePairBudget if " +
    "this volume is genuinely intended.") {
    def sets(docs: DataFrame, id: String, text: String): DataFrame =
      Dedup.tokenShingleSets(docs, id, text)
  }
}

/** Everything [[Dedup.nearDupPairs]] varies by: the shingle universe,
  * the LSH banding, and the hot-bucket cap (0 = exact banding; see
  * Dedup.pairsFromBands). The returned `jaccard` is the resemblance of
  * `shingles` — char-3-gram, codepoint-gram or token-shingle Jaccard. */
final case class NearDupProfile(shingles: Shingles,
                                banding: TextHashing.LshBanding =
                                  TextHashing.LshBanding.Default,
                                maxBucket: Long = 0L) {
  /** (sid, [gn,] [gs,] sig) band relation of this profile's gram sets.
    * `withSets` keeps each doc's gram set on its band rows — the
    * streaming probe's shape (graft.streaming.CurationStreams): joining
    * the sets back post-explode would be a stream-stream SELF-join, while
    * carrying the array is a stateless projection (one copy per band,
    * bounded by the micro-batch). Batch callers keep the rows narrow
    * through the band self-join. */
  private[graft] def bands(sets: DataFrame, sizeAware: Boolean = true,
                           withSets: Boolean = false): DataFrame =
    Dedup.bandRelation(Dedup.signaturesFromSets(sets, banding, shingles.wide, withSets),
      sizeAware, banding)
}

object NearDupProfile {
  /** Char 3-grams under the Default banding (q44). */
  val Char: NearDupProfile = NearDupProfile(Shingles.Char)
  /** Char 3-grams under the Scaled banding (q194) — the large-corpus
    * selectivity setting (TextHashing.LshBanding has the (b, r) math). */
  val CharScaled: NearDupProfile =
    NearDupProfile(Shingles.Char, TextHashing.LshBanding.Scaled)
  /** Codepoint 3-grams under the Default banding (q139). */
  val Codepoint: NearDupProfile = NearDupProfile(Shingles.Codepoint)
  /** Token 3-shingles under the Scaled banding (q199): the token
    * profile exists for large corpora. */
  val Token: NearDupProfile =
    NearDupProfile(Shingles.Token, TextHashing.LshBanding.Scaled)

  /** The profile the auto front door runs for a recommended shingle
    * universe (a [[Dedup.DedupProfileRecommendation]] profile string) and
    * cap: Scaled banding for char (the banding the probe's
    * own Σ C(bucket,2) estimate is computed under) and token, Default
    * for codepoint. */
  def recommended(profile: String, maxBucket: Long): NearDupProfile =
    (profile match {
      case "token"     => Token
      case "codepoint" => Codepoint
      case _           => CharScaled
    }).copy(maxBucket = maxBucket)
}

/** A verify candidate names a doc id that has no gram set in the sets
  * relation it is scored against — the candidates and the sets were not
  * derived from the same corpus (a hand-built DedupIndex). Raised by the
  * broadcast merge-walk verify instead of a bare "key not found". */
final class MissingGramSetException(val id: Long) extends IllegalStateException(
  s"dedup verify: candidate doc id $id has no gram set in the verify sets " +
  "relation; candidates and sets must come from the same corpus")

object Dedup {

  /** Materialization barrier + lineage truncation for pipeline
    * intermediates. Default is localCheckpoint (executor-local blocks: fast,
    * but an executor loss mid-pipeline aborts the job — acceptable for
    * re-runnable batch work). Clusters where the dedup pipeline must
    * survive executor loss set `graft.dedup.reliableCheckpoint=true` AND a
    * `sparkContext.setCheckpointDir` (HDFS/S3): intermediates then go
    * through reliable checkpoints — same plans, same results, re-read from
    * the checkpoint store on recovery. Checkpoint files are managed by
    * Spark's normal cleanup (`spark.cleaner.referenceTracking.cleanCheckpoints`),
    * not by ManagedPairs.close(). */
  private[operators] def truncateLineage(df: DataFrame): DataFrame =
    if (reliableCheckpoint(df)) df.checkpoint() else df.localCheckpoint()

  /** Lazy variant of [[truncateLineage]]: the lineage is truncated at call
    * time but the blocks materialize with the first job that reads the
    * result instead of an eager checkpoint job — for call sites whose next
    * step reads the barrier anyway (connectedComponents' convergence
    * checksum, the next BPE round's pair count, the next PageRank round's
    * rank broadcast), the barrier and that job share one job instead of
    * paying two (guide §2: per-round job overhead in iterative operators).
    * Exchanges below the barrier still run at call time: the plan is
    * executed up to its last stage.
    *
    * Reliable mode takes the EAGER barrier: a lazy reliable checkpoint
    * computes the rows for the caller's action and then AGAIN in the
    * separate file-write job Spark runs after it (RDD.doCheckpoint on an
    * unpersisted RDD), while the eager form computes them once, in the
    * write job, and the caller's action reads the files
    * (ReliableCheckpointSpec counts the evaluations). */
  private[operators] def truncateLineageLazy(df: DataFrame): DataFrame =
    if (reliableCheckpoint(df)) truncateLineage(df)
    else df.localCheckpoint(eager = false)

  private def reliableCheckpoint(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("graft.dedup.reliableCheckpoint").contains("true") &&
      df.sparkSession.sparkContext.getCheckpointDir.isDefined

  /** Release a [[truncateLineage]] result's storage blocks. The
    * checkpointed rows live in the LogicalRDD's persisted RDD —
    * localCheckpoint registers no CacheManager entry, so a plain
    * df.unpersist() would be a silent no-op. Reliable checkpoints pass
    * through harmlessly (unpersist of a non-persisted RDD is a no-op;
    * their files are cleaned by the checkpoint dir's own lifecycle). The
    * DataFrame must not be used afterwards. */
  private[operators] def releaseTruncated(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking))

  /** Exact dedup: group identical texts (by md5 + length to keep the
    * group key narrow), keep min doc id — the Spark-native analog of a
    * hash-based DISTINCT at corpus scale. */
  def exactDuplicates(docs: DataFrame, id: String, text: String): DataFrame =
    docs.groupBy(md5(col(text)).as("text_md5"), length(col(text)).as("text_len"))
      .agg(
        min(col(id)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** (id, gram) distinct shingle relation — the shared input of the
    * Jaccard-family operators. */
  def shingleSet(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("sid"), explode(array_distinct(shingles3(col(text)))).as("g"))

  /** Exact 3-gram Jaccard similarity for all pairs sharing at least one
    * shingle, thresholded. O(sum over grams of df²) — use only on bounded
    * candidate sets (the `filter` arg); MinHash-LSH below is the scale path. */
  def ngramJaccardPairs(docs: DataFrame, id: String, text: String, threshold: Double): DataFrame = {
    val sh = shingleSet(docs, id, text).cache()
    val sizes = sh.groupBy(col("sid")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.g") === col("b.g") && col("a.sid") < col("b.sid"))
      .groupBy(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.sid"))
      .join(sizes.as("sb"), col("id_b") === col("sb.sid"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Directed CONTAINMENT pairs: inter(A,B)/|A| ≥ threshold for ordered
    * doc pairs sharing ≥1 shingle — the asymmetric cousin of
    * [[ngramJaccardPairs]]. Containment is the quote/subset detector
    * resemblance misses: a 20-token verbatim quote inside a 500-token doc
    * has Jaccard ≈ 0.04 but containment(quote, host) = 1.0 (Broder 1997
    * distinguishes exactly these two measures). Directed: (a⊂b) and
    * (b⊂a) are separate rows and usually only one side qualifies.
    * Same bounded-candidate cost model as the exact Jaccard operator —
    * the scale path for unbounded corpora is banding over the SMALL
    * side's grams, which q44's machinery provides. */
  def containmentPairs(docs: DataFrame, id: String, text: String,
                       threshold: Double): DataFrame = {
    val sh = shingleSet(docs, id, text).cache()
    val sizes = sh.groupBy(col("sid")).agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"), col("a.g") === col("b.g") && col("a.sid") =!= col("b.sid"))
      .groupBy(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("sa"), col("id_a") === col("sa.sid"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("sa.n")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** (sid, gs) with gs = SORTED DISTINCT gram-hash array per doc — the one
    * scan both the signature and verify stages derive from. gramHash is
    * injective, so set ops on these arrays equal set ops on the grams.
    * Computed by the codegen'd one-pass graft_gram_hash_set kernel;
    * semantics (and the DuckDB oracle) are those of the composable
    * sort_array(array_distinct(transform(shingles3(text), gramHash))) —
    * GramHashSpec pins the equivalence.
    *
    * Null text drops out. The set kernels are null-in → null-out and never
    * null otherwise, so every set builder filters its INPUT: a filter on
    * `gs` would be pushed below the projection and evaluate the kernel
    * twice per row (PlanAuditSpec pins one evaluation). */
  def gramSets(docs: DataFrame, id: String, text: String): DataFrame =
    docs.filter(col(text).isNotNull).select(col(id).as("sid"),
      call_function("graft_gram_hash_set", col(text)).as("gs"))

  /** Codepoint-safe gram sets (base-2^21 polynomial, injective over full
    * Unicode — the base-256 form collides on codepoints > 255, so its
    * hash-set Jaccard drifts from true gram Jaccard on CJK-heavy text;
    * SURVEY §8.5). Same one-pass codegen'd kernel, wide mode. */
  def gramSetsCp(docs: DataFrame, id: String, text: String): DataFrame =
    docs.filter(col(text).isNotNull).select(col(id).as("sid"),
      call_function("graft_gram_hash_set_cp", col(text)).as("gs"))

  /** Persisted band-bucket histogram, but only when TWO consumers exist
    * (guard enabled AND cap set — r15 amortization: the guard's aggregate
    * and the cap's keep-filter then read one histogram instead of
    * aggregating the band relation twice). None when the cap is off (the
    * guard's one-shot aggregate needs no persist) or the guard disabled. */
  private def sharedSizes(bandRel: DataFrame, maxBucket: Long): Option[DataFrame] = {
    if (candidatePairBudget(bandRel) > 0L && maxBucket > 0L)
      Some(bucketSizes(bandRel).persist())
    else None
  }

  /** The session's `graft.dedup.candidatePairBudget` (0 disables every
    * banding pre-flight). */
  private def candidatePairBudget(df: DataFrame): Long =
    df.sparkSession.conf.getOption("graft.dedup.candidatePairBudget")
      .map(_.toLong).getOrElse(DefaultCandidatePairBudget)

  /** (sid, gs) with gs = sorted distinct md5-48 TOKEN k-shingle hashes —
    * the token-universe gram sets (TextHashing.tokenShingleHashSet has
    * the saturation rationale). Computed by the codegen'd one-pass
    * graft_token_shingle_hash_set kernel, whose semantics (and the
    * DuckDB oracle's) are TextHashing.tokenShingleHashes — TokenShingleSpec
    * pins the equivalence. Null text drops out like in [[gramSets]]. */
  def tokenShingleSets(docs: DataFrame, id: String, text: String,
                       k: Int = 3): DataFrame =
    docs.filter(col(text).isNotNull).select(col(id).as("sid"),
      call_function("graft_token_shingle_hash_set", split(col(text), " "), lit(k))
        .as("gs"))

  /** THE signature entry point for every shingle profile: the
    * `banding.numHashes` mins of each doc's set, `wide` = true for the
    * wide-hash profiles (token md5-48 and codepoint base-2^21 sets:
    * minHashJWide reduces h mod P before the affine map, since h·a on a
    * wide hash would overflow 64 bits), false for the narrow char
    * profile (minHashJ). A pure projection over the doc's own gram-hash
    * set with NO shuffle: the naive shape (explode grams, groupBy doc
    * with k min-aggregates) pushes |grams| rows through partial
    * aggregation for the same result. `keepSets` carries the `gs` column
    * through (the streaming probe verifies against it row-locally). */
  def signaturesFromSets(sets: DataFrame, banding: LshBanding = LshBanding.Default,
                         wide: Boolean = false, keepSets: Boolean = false): DataFrame = {
    // One-pass codegen'd kernel for all k mins (graft_minhash_sig* for
    // this (k, wide)); the composable per-hash forms are the spec
    // oracles. Two projections:
    // _s is non-cheap and referenced k×, so CollapseProject keeps the
    // barrier instead of inlining the kernel once per element_at
    // (MinHashSigSpec pins single evaluation by plan text).
    // gn = |gram set| rides along for the candidate-stage size prefilter.
    val kept = if (keepSets) Seq(col("gs")) else Nil
    sets.select(col("sid") +: kept ++: Seq(size(col("gs")).as("gn"),
        call_function(graft.functions.MinHashSignature.name(banding.numHashes, wide),
          col("gs")).as("_s")): _*)
      .select(Seq(col("sid"), col("gn")) ++ kept ++
        (0 until banding.numHashes).map(j =>
          element_at(col("_s"), j + 1).as(s"m$j")): _*)
  }

  /** Composable reference form of the signature — one array fold per hash
    * (16 walks of gs, 16 intermediate arrays). Semantically identical to
    * signaturesFromSets; kept as the equivalence oracle for the one-pass
    * kernel (MinHashSigSpec) and as documentation of the semantics. */
  def signaturesFromSetsComposable(sets: DataFrame,
                                   banding: LshBanding = LshBanding.Default,
                                   wide: Boolean = false): DataFrame = {
    val sigs = (0 until banding.numHashes).map(j =>
      array_min(transform(col("gs"),
        h => if (wide) minHashJWide(h, j) else minHashJ(h, j))).as(s"m$j"))
    sets.select(col("sid") +: size(col("gs")).as("gn") +: sigs: _*)
  }

  /** Candidate pairs from LSH banding over the signature (NumBands bands of
    * RowsPerBand hashes each): same band signature → candidate. The join
    * key is xxhash64 over the band's hashes — a fixed-width long, not a
    * concatenated string — so the self-join shuffles narrow rows. A 64-bit
    * hash collision can only ADD a candidate (never lose one), and the
    * exact-Jaccard verify stage discards it, so results are unchanged. */
  /** NOTE the .distinct() here is load-bearing twice over: it collapses
    * multi-band duplicates (measured dup factor 1.19 at sf0.1) AND it
    * re-shuffles the band join's output — which is naturally skewed by
    * bucket size — into uniform (id_a, id_b) partitions before the verify
    * stage. An experiment that dropped it and deduped after the jaccard
    * threshold made q44 ~25% SLOWER despite doing one less shuffle: the
    * verify mapPartitions inherited the bucket-skewed partitioning and
    * straggled. At 100 TB the rebalance matters even more.
    *
    * minSizeRatio > 0 pushes the verify stage's size-ratio prefilter INTO
    * the band join condition: jaccard ≥ r requires min(|A|,|B|) ≥
    * r·max(|A|,|B|), so dropping failing pairs here is result-preserving —
    * and they vanish at the join probe, before the distinct's shuffle ever
    * moves them (measured 41.5% of the shared-vocab corpus's band-collision
    * pairs at r=0.7, sf0.1). Needs the `gn` size column from
    * signaturesFromSets; without it only the bare banding applies.
    *
    * `signatures` must carry the `banding`'s m0..m(k-1) columns (i.e. come
    * from signaturesFromSets with the SAME banding). */
  def lshCandidates(signatures: DataFrame, minSizeRatio: Double = 0.0,
                    banding: LshBanding = LshBanding.Default): DataFrame = {
    val sizeAware = minSizeRatio > 0.0 && signatures.columns.contains("gn")
    pairsFromBands(bandRelation(signatures, sizeAware, banding),
      minSizeRatio, sizeAware)
  }

  /** (sid[, gn][, gs], sig) band relation: one row per (doc, band), sig =
    * xxhash64 over the band's hashes. Tiny (4 narrow rows per doc) but
    * EXPENSIVE to produce — it carries the whole 16-hash signature
    * computation — so the managed pipeline persists it: the self-join
    * below consumes it on both sides, and an unmaterialized plan would run
    * the signature projection twice. */
  private[graft] def bandRelation(signatures: DataFrame, sizeAware: Boolean,
                                  banding: LshBanding = LshBanding.Default): DataFrame = {
    val bands = (0 until banding.numBands).map { b =>
      val cols = (0 until banding.rowsPerBand)
        .map(r => col(s"m${b * banding.rowsPerBand + r}"))
      xxhash64(lit(b) +: cols: _*)
    }
    val keep = Seq("sid") ++ (if (sizeAware) Seq("gn") else Nil) ++
      Seq("gs").filter(signatures.columns.contains)
    signatures.select(keep.map(col) :+ explode(array(bands: _*)).as("sig"): _*)
  }

  /** `maxBucket` > 0 drops band rows landing in buckets LARGER than the
    * cap before the self-join — the standard industrial LSH guard for
    * corpora whose shingle universe saturates (bucket histogram: when a
    * handful of ubiquitous grams own every minhash, hot buckets grow
    * linearly with the corpus and Σ C(size,2) goes Ω(n²) under ANY
    * (b, r); SCALING.md round 13). The RECALL trade is quantified, not
    * silent: a true pair is lost only if EVERY band it collides in is
    * hot — at s ≥ 0.9 each of the scaled profile's 6 bands collides
    * with p ≈ 0.59 independently, so a pair typically collides in 3–4
    * bands and survives unless all of them exceed the cap (measured on
    * planted dups in DedupRecallSpec and the ScalingBench capped block).
    * An oversized bucket is also the LOW-PRECISION region: its members
    * share one ubiquitous band key, not content. Cap 0 = exact banding
    * (every gate keeps 0). */
  private def pairsFromBands(exploded: DataFrame, minSizeRatio: Double,
                             sizeAware: Boolean, maxBucket: Long = 0L,
                             sizes: Option[DataFrame] = None): DataFrame = {
    val pruned =
      if (maxBucket <= 0L) exploded
      else {
        // bucket sizes are a |buckets|-row relation (band-key
        // cardinality); AQE broadcasts it back onto the band rows. When
        // the caller already computed the histogram (the pre-flight
        // guard's aggregate — r15 amortization), reuse it instead of
        // re-aggregating the band relation.
        val keep = sizes.getOrElse(bucketSizes(exploded))
          .filter(col("_bs") <= maxBucket)
          .select(col("sig"))
        exploded.join(keep, Seq("sig"))
      }
    val joinCond = {
      val base = col("x.sig") === col("y.sig") && col("x.sid") < col("y.sid")
      if (sizeAware)
        base && least(col("x.gn"), col("y.gn")).cast("double") >=
          lit(minSizeRatio) * greatest(col("x.gn"), col("y.gn"))
      else base
    }
    pruned.as("x")
      .join(pruned.as("y"), joinCond)
      .select(col("x.sid").as("id_a"), col("y.sid").as("id_b"))
      .distinct()
  }

  /** (sig, _bs) band-bucket histogram — the |buckets|-row relation both
    * the pre-flight guard and the bucket-cap filter derive from (shared
    * so a capped pipeline aggregates the band relation ONCE). */
  private[graft] def bucketSizes(exploded: DataFrame): DataFrame =
    exploded.groupBy(col("sig")).agg(count(lit(1)).as("_bs"))

  /** Default candidate-pair budget for the banding pre-flight guard:
    * 10⁸ pairs ≈ 40% of the measured 2.667×10⁸-candidate run that
    * exhausted 77 GB of shuffle disk at the 500k saturated tier
    * (SCALING.md round 13) — comfortably above any healthy corpus
    * (candidates grow ~linearly with the dup rate; the 500k HEAPS tier
    * measures ~10⁵) and comfortably below the measured failure.
    * Override per session with `graft.dedup.candidatePairBudget`
    * (0 disables the guard). */
  val DefaultCandidatePairBudget: Long = 100000000L

  /** One-aggregate candidate-volume histogram over a band relation:
    * (Σ C(size,2) over buckets the self-join will actually visit — i.e.
    * buckets ≤ `maxBucket` when a cap is set — , max bucket size,
    * bucket count). This is the estimate that DIAGNOSED the round-13
    * saturation failure (266.7M at 500k docs) in one cheap pass; the
    * size-ratio prefilter can only shrink the true join output below it,
    * never above. */
  private[graft] def candidatePairStats(exploded: DataFrame,
                                        maxBucket: Long): (Long, Long, Long) =
    candidatePairStatsFromSizes(bucketSizes(exploded), maxBucket)

  /** The same stats off an already-computed (sig, _bs) histogram — the
    * shared-aggregate path (r15: a capped pipeline's guard and cap filter
    * read ONE persisted histogram instead of aggregating twice). */
  private[graft] def candidatePairStatsFromSizes(sizes: DataFrame,
                                                 maxBucket: Long): (Long, Long, Long) = {
    val visited = if (maxBucket > 0L) sizes.filter(col("_bs") <= maxBucket) else sizes
    // shiftright, not `/`: Column./ is true division (double) — the
    // C(n,2) product is even, so the shift is the exact integer halve
    val r = visited
      .agg(sum(shiftright(col("_bs") * (col("_bs") - 1), 1)),
        max(col("_bs")), count(lit(1)))
      .collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
  }

  /** Escape-hatch text of the incremental call site (r14 advisor: the
    * one-size message named hatches this site doesn't have); the batch
    * pipeline's text comes with its profile (`Shingles.hatches`). */
  private val IncrementalHatches =
    "At the incremental call site the only knob is the budget itself: raise " +
    "graft.dedup.candidatePairBudget if this within-batch volume is genuinely " +
    "intended, or pre-deduplicate the batch (the batch is saturated/exact-dup " +
    "heavy, so most of its pairs are internal)."

  /** Pre-flight candidate-budget guard for the banding self-join: on a
    * gram-universe-saturated corpus, uncapped banding is Ω(n²) in
    * candidates (round 13 measured 266.7M at 500k docs — 77 GB of
    * shuffle spill before the join died), and nothing used to warn
    * before the join was attempted. This runs the Σ C(size,2) histogram
    * (one aggregate over the already-persisted band relation — or over a
    * shared pre-computed histogram) and fails LOUDLY above the session
    * budget, naming the call site's escape hatches; a failed guard costs
    * one cheap aggregate, a missed one costs the cluster's shuffle disk.
    * Returns the estimate for observability (-1 = guard disabled). */
  private def guardCandidateBudget(bandRel: DataFrame, maxBucket: Long,
                                   hatches: String,
                                   sizes: Option[DataFrame] = None): Long = {
    val budget = candidatePairBudget(bandRel)
    if (budget <= 0L) return -1L
    val (estPairs, maxBucketSeen, nBuckets) = sizes match {
      case Some(s) => candidatePairStatsFromSizes(s, maxBucket)
      case None => candidatePairStats(bandRel, maxBucket)
    }
    if (estPairs > budget) {
      throw new IllegalStateException(
        s"banding pre-flight: the self-join would generate ~$estPairs candidate " +
        s"pairs (largest visited bucket $maxBucketSeen of $nBuckets buckets), over " +
        s"the ${budget}-pair budget (graft.dedup.candidatePairBudget). This is the " +
        "gram-universe-saturation regime (SCALING.md round 13: a fixed shingle " +
        "universe concentrates minhashes into hot buckets and candidates grow " +
        s"quadratically under ANY (bands, rows)). $hatches")
    }
    estPairs
  }

  /** Output of [[recommendProfile]]: the near-dup shingle profile a
    * bounded probe recommends for a corpus, plus the measurements the
    * decision rests on (so callers can log WHY, not just WHAT). All
    * stored fields are INTEGER-exact — the decisions are integer
    * comparisons on them, so the q202 DuckDB oracle replays the whole
    * probe bit-for-bit; the doubles below are derived conveniences. */
  final case class DedupProfileRecommendation(
      profile: String,       // "char" | "codepoint" | "token"
      maxBucket: Long,       // recommended bucket cap (0 = uncapped)
      sampleDocs: Long,      // docs actually probed
      nonAsciiChars: Long,   // Σ non-ASCII chars over the sample
      totalChars: Long,      // Σ chars over the sample
      distinctGrams: Long,   // char-3 gram universe of the sample
      halfSeenGrams: Long,   // universe members seen in the content-keyed half
      estPairs: Long         // Σ C(bucket,2) under the chosen profile's banding
  ) {
    def nonAsciiRate: Double =
      if (totalChars == 0L) 0.0 else nonAsciiChars.toDouble / totalChars
    def newGramRate: Double =
      if (distinctGrams == 0L) 0.0
      else (distinctGrams - halfSeenGrams).toDouble / distinctGrams
    def estPairsPerDoc: Double =
      if (sampleDocs == 0L) 0.0 else estPairs.toDouble / sampleDocs
    /** The profile the auto front door runs for this recommendation. */
    def nearDupProfile: NearDupProfile = NearDupProfile.recommended(profile, maxBucket)
  }

  /** Shingle-profile auto-selection — the round-13 saturation discovery
    * (SCALING.md "Gram-universe saturation") shipped as an operator. A
    * bounded content-keyed sample (top `sampleDocs` by md5 of text — a
    * deterministic uniform sample, one top-k scan) answers the two
    * questions that decide the profile:
    *
    *  1. '''Is the text CJK/wide-unicode?''' (mean non-ASCII char
    *     fraction ≥ 0.3) → `codepoint` — base-256 char grams collide on
    *     codepoints > 255 and their hash-set Jaccard drifts from true
    *     gram Jaccard (the q139 rationale).
    *  2. '''Does the char-3-gram universe still grow, or has it
    *     saturated?''' Measured as the fraction of the sample's gram
    *     universe UNSEEN in a content-keyed half of the sample. An
    *     organic (Heaps-law) corpus keeps minting grams — the half
    *     misses a sizable share (measured ≥ 0.05 on the growing-vocab
    *     fixtures and the driver corpora); a saturated (alphabet-bounded /
    *     templated) universe is fully covered by half the docs (< 0.02
    *     measured on the fixed-vocab synthetic at every tier). Saturated
    *     → `token`: the token-shingle universe grows with the VOCABULARY,
    *     so minhash mass cannot concentrate and hot buckets cannot form
    *     structurally (q199: max bucket 2 at 5k/50k/500k, α = 0.83,
    *     uncapped completion at the tier where char banding died at
    *     266.7M candidates / 77 GB of spill). Growing → `char` (q44/q194:
    *     the finer-grained, word-order-robust resemblance).
    *
    * The cap recommendation comes from the sample's OWN band-bucket
    * histogram under the chosen profile (the same Σ C(size,2) estimate
    * the pre-flight guard runs): a healthy corpus measures ≪ 1 candidate
    * pair per doc (candidates track the dup rate), so estPairsPerDoc >
    * 16 means even the chosen profile is concentrating — recommend the
    * measured-safe cap 500 (99.7% planted recall at the 500k tier,
    * completing where uncapped exhausted shuffle disk). Exact-duplicate
    * storms trip this under ANY profile, which is precisely when the cap
    * is wanted.
    *
    * Cost: one top-k scan of the corpus, which hashes each document once
    * (the md5-48 key is a projected column and the top-k compares
    * attributes; ordering by the hash expression itself re-ran md5 on
    * both rows of every comparison), + three aggregates over the
    * ≤ `sampleDocs`-row sample — safe to run unconditionally before any
    * large dedup job. RecommendProfileSpec pins all three regimes on the
    * generators that measured them; PlanAuditSpec pins the attribute-only
    * sort key. */
  def recommendProfile(docs: DataFrame, id: String, text: String,
                       sampleDocs: Int = 2048): DedupProfileRecommendation = {
    require(sampleDocs >= 64, "recommendProfile needs sampleDocs >= 64")
    // the md5-48 key is projected once per row: a sort on the expression
    // re-hashes both rows of every top-k comparison
    val sample = truncateLineage(docs
      .select(col(id).as("sid"), col(text).as("t"))
      .filter(col("t").isNotNull && length(col("t")) > 0)
      .select(col("sid"), col("t"), graft.operators.TextAnalysis.md5Hash48(col("t")).as("_k"))
      .orderBy(col("_k"), col("sid"))
      .limit(sampleDocs)
      .select(col("sid"), col("t"), (col("_k") % 2 === 0).as("_half")))

    // Σ non-ASCII chars / Σ chars (integer pair — stripping the ASCII
    // range leaves exactly the non-ASCII chars) + the sample count, one
    // aggregate
    val naRow = sample.agg(
      sum(length(regexp_replace(col("t"), "[\\x00-\\x7F]", "")).cast("long")),
      sum(length(col("t")).cast("long")), count(lit(1))).collect()(0)
    val n = naRow.getLong(2)
    require(n > 0, "recommendProfile: no non-empty docs to probe")
    val naNum = if (naRow.isNullAt(0)) 0L else naRow.getLong(0)
    val naDen = if (naRow.isNullAt(1)) 0L else naRow.getLong(1)

    // char-3 gram universe + its coverage by the content-keyed half
    // (the one-pass gram-set kernel, with _half riding along)
    val g = sample
      .select(col("_half"),
        call_function("graft_gram_hash_set", col("t")).as("gs"))
      .select(col("_half"), explode(col("gs")).as("g"))
    val gr = g.agg(countDistinct(col("g")),
      countDistinct(when(col("_half"), col("g")))).collect()(0)
    val universe = gr.getLong(0)
    val halfSeen = gr.getLong(1)

    // integer decision rules (the q202 oracle replays them verbatim):
    // nonAscii ≥ 0.30 ⇔ 10·naNum ≥ 3·naDen; newGramRate < 0.02 ⇔
    // 50·(universe − halfSeen) < universe (with universe > 0)
    val profile =
      if (naNum * 10L >= naDen * 3L) "codepoint"
      else if (universe > 0L && (universe - halfSeen) * 50L < universe) "token"
      else "char"

    // band-bucket histogram on the sample under the chosen profile
    val chosen = NearDupProfile.recommended(profile, maxBucket = 0L)
    val (estPairs, _, _) = candidatePairStats(
      chosen.bands(chosen.shingles.sets(sample, "sid", "t"), sizeAware = false),
      maxBucket = 0L)
    DedupProfileRecommendation(profile,
      // estPairsPerDoc > 16 ⇔ estPairs > 16·n, integer-exact
      maxBucket = if (estPairs > 16L * n) 500L else 0L,
      sampleDocs = n, nonAsciiChars = naNum, totalChars = naDen,
      distinctGrams = universe, halfSeenGrams = halfSeen,
      estPairs = estPairs)
  }

  /** The recommendation the auto front door ([[nearDupPairsAutoManaged]] /
    * [[canonicalizeAuto]] / [[dedupIndexAuto]]) last acted on — WHY
    * fields included — in the lastDistributedRounds observability mold.
    * Diagnostics only, never control flow.
    *
    * ==Last-writer-wins== (r15 advisor): JVM-global — concurrent auto
    * calls in one session clobber each other's reading; attribution is
    * only per-call when calls are serialized. For durable per-run
    * attribution next to the query record, use
    * [[graft.EngineContext.logDedupRecommendation]], which writes the
    * recommendation it is HANDED (not this register) to the engine log. */
  def lastRecommendation: Option[DedupProfileRecommendation] = lastRec.get()
  private val lastRec = new java.util.concurrent.atomic
    .AtomicReference[Option[DedupProfileRecommendation]](None)
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** THE default near-dup entry point (r14 verdict #3): probe the corpus
    * with [[recommendProfile]], then run [[nearDupPairs]] under the
    * recommended profile (`DedupProfileRecommendation.nearDupProfile`:
    * token → Scaled banding, codepoint → Default, char → Scaled — the
    * banding the probe's own Σ C(bucket,2) estimate was computed under —
    * each with the recommended cap) — so the scale-safety analysis that
    * q202 oracle-gates is what actually runs, not an advisory a caller
    * must remember to consult (AutoDispatchSpec pins all three regimes).
    *
    * NOTE the returned `jaccard` is the CHOSEN profile's resemblance
    * (char-3-gram, codepoint-gram, or token-shingle Jaccard) — callers
    * needing one fixed measure should call [[nearDupPairs]] with that
    * profile. The recommendation (with its WHY measurements) is logged
    * and kept in [[lastRecommendation]]; `guardEstPairs` carries the
    * chosen profile's pre-flight estimate per call. */
  def nearDupPairsAutoManaged(docs: DataFrame, id: String, text: String,
                              threshold: Double,
                              sampleDocs: Int = 2048): ManagedPairs =
    nearDupPairs(docs, id, text, threshold,
      probeLogged("nearDupPairsAutoManaged", docs, id, text, sampleDocs).nearDupProfile)

  /** [[recommendProfile]] for an auto entry point: recorded in
    * [[lastRecommendation]] and logged with its WHY measurements. */
  private def probeLogged(site: String, docs: DataFrame, id: String, text: String,
                          sampleDocs: Int): DedupProfileRecommendation = {
    val rec = recommendProfile(docs, id, text, sampleDocs)
    lastRec.set(Some(rec))
    log.info(s"$site: profile=${rec.profile} maxBucket=${rec.maxBucket} " +
      f"(sample=${rec.sampleDocs} nonAsciiRate=${rec.nonAsciiRate}%.3f " +
      f"newGramRate=${rec.newGramRate}%.3f estPairsPerDoc=${rec.estPairsPerDoc}%.1f)")
    rec
  }

  /** THE MinHash-LSH near-dup pipeline, for every shingle profile:
    * gram sets → `profile.banding` signatures → band self-join (size
    * prefilter, optional `profile.maxBucket` cap, pre-flight candidate
    * guard) → exact-Jaccard verify restricted to candidates. Pairs
    * (id_a < id_b, jaccard ≥ threshold), `jaccard` being the profile's
    * resemblance measure.
    *
    * Verification keeps each doc's distinct shingles as ONE sorted hash
    * array row and computes |A∩B| with a linear merge walk. The
    * explode-and-join formulation (candidates ⋈ shingles ⋈ shingles)
    * multiplies every candidate pair by its shingle count before the
    * second join — ~400× the rows for ~zero information; on the
    * shared-vocab sf0.1 corpus that was 208 s vs ~4 s for this shape. The
    * gram-set side is docs-sized (not pairs-sized), so under the byte
    * budget it ships as one broadcast map and the candidate pairs never
    * shuffle at all ([[verifiedPairs]]). `broadcastBudgetBytes` < 0 takes
    * the profile's default (`Shingles.verifyBudget`: the char profile
    * broadcasts up to [[BroadcastVerifyMaxBytes]], token and codepoint
    * run the shuffle verify); 0 forces the shuffle verify (q44b).
    *
    * Resource lifecycle: every intermediate (the gram-set checkpoint, the
    * persisted band relation, the verify broadcast) is released before
    * this returns — the analog of the reference freeing its
    * CacheMachines when the execution graph finishes
    * (engine/src/cache_machine/CacheMachine.cpp). `df` is backed by the
    * materialized result blocks alone; `close()` drops those too, leaving
    * zero pipeline storage in the session (DedupLifecycleSpec pins both
    * for every profile). A caller that only keeps `df` leaves the result
    * blocks to the ContextCleaner, which reclaims them once the DataFrame
    * is unreachable. */
  def nearDupPairs(docs: DataFrame, id: String, text: String, threshold: Double,
                   profile: NearDupProfile = NearDupProfile.Char,
                   broadcastBudgetBytes: Long = -1L): ManagedPairs = {
    // Materialization barriers between stages, mirroring the role the
    // reference's CacheMachines play between kernels
    // (docsrc/source/engine/caches.rst): ONE scan of docs — the
    // lineage-truncated gram sets feed the signature projection (no
    // shuffle), the sizing aggregate and the verify stage. `cands` stays
    // lazy — materializing it (an eager localCheckpoint) wrote 4M pairs
    // to the block manager and read them straight back for one consumer;
    // fusing candidate generation into the verify job saved ~2 s at sf0.1.
    val sets = truncateLineage(profile.shingles.sets(docs, id, text))
    // try/finally, not success-path cleanup: a failed materialization
    // (executor loss mid-localCheckpoint is the documented default-mode
    // risk) must not leave corpus-sized intermediates persisted or a live
    // verify broadcast behind in a long-lived session
    try {
      // The band relation is numBands narrow rows per doc but carries the
      // k-hash signature computation; persisting it means the self-join's
      // two sides share ONE signature pass instead of recomputing it per side.
      val bandRel = profile.bands(sets).persist()
      try {
        val sizes = sharedSizes(bandRel, profile.maxBucket)
        try {
          val estPairs = guardCandidateBudget(bandRel, profile.maxBucket,
            profile.shingles.hatches, sizes)
          val cands = pairsFromBands(bandRel, threshold, sizeAware = true,
            profile.maxBucket, sizes)
          val budget =
            if (broadcastBudgetBytes < 0L) profile.shingles.verifyBudget
            else broadcastBudgetBytes
          new ManagedPairs(
            verifiedPairs(cands, sets, docs.schema(id).dataType, threshold, budget),
            estPairs)
        } finally sizes.foreach(_.unpersist(blocking = false))
      } finally bandRel.unpersist(blocking = false)
    } finally releaseTruncated(sets)
  }

  /** The verify stage of [[nearDupPairs]] and [[incrementalPairs]]: exact
    * Jaccard of every candidate pair against `sets`, thresholded, and
    * MATERIALIZED — the returned relation reads checkpoint blocks, so the
    * caller may release `sets` (and this released the broadcast) as soon
    * as it returns. Two physical strategies, output-identical (the
    * q44/q44b contract):
    *
    *  - broadcast merge-walk when the ids are integral and the sets'
    *    ESTIMATED BYTES fit `budgetBytes` — 8 B per distinct gram hash +
    *    fixed per-entry map overhead. A doc-count gate would mis-fire in
    *    both directions (many tiny docs: needless fallback; few huge docs:
    *    broadcast OOM). Same decision rule as the reference's
    *    scatter-vs-shuffle join budget
    *    (engine/src/execution_kernels/BatchJoinProcessing.cpp:672-830,
    *    which compares estimated bytes against
    *    MAX_JOIN_SCATTER_MEM_OVERHEAD). Budget ≤ 0 skips the sizing
    *    aggregate. The jaccard threshold applies right after the
    *    mapPartitions pass, so only passing pairs are checkpointed.
    *  - otherwise the SHUFFLE_HASH verify, checkpointed BEFORE the
    *    jaccard filter: fused, Catalyst pushes the threshold into the
    *    verify join's condition, where alias substitution re-expands
    *    `inter` and runs the intersect three times per candidate pair
    *    (~20 s vs ~205 s fused at sf0.1). */
  private def verifiedPairs(cands: DataFrame, sets: DataFrame,
                            idType: org.apache.spark.sql.types.DataType,
                            threshold: Double, budgetBytes: Long): DataFrame = {
    def passing(scored: DataFrame) =
      scored.select(col("id_a"), col("id_b"), jaccardCol).filter(col("jaccard") >= threshold)
    val integralId = idType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    val estBytes = if (!integralId || budgetBytes <= 0L) Long.MaxValue else {
      val s = sets.agg(count(lit(1)), sum(size(col("gs")))).collect()(0)
      (if (s.isNullAt(1)) 0L else s.getLong(1)) * 8L + s.getLong(0) * 64L
    }
    if (estBytes <= budgetBytes) {
      val bc = collectAndBroadcast(sets)
      liveBc.incrementAndGet()
      try {
        // materialize BEFORE destroying the broadcast: the returned plan
        // is a checkpoint scan, unreachable from the broadcast
        truncateLineage(passing(mergeWalkScore(cands, bc, minSizeRatio = threshold)))
      } finally {
        bc.destroy()
        liveBc.decrementAndGet()
      }
    } else {
      passing(truncateLineage(minHashVerify(cands, sets, threshold)))
    }
  }

  /** Live verify-stage broadcasts — 0 whenever no verify is in flight
    * (the broadcast is destroyed before the result is returned);
    * DedupLifecycleSpec pins it. */
  def liveVerifyBroadcasts: Int = liveBc.get()
  private val liveBc = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Rounds the most recent connectedComponents call took to converge —
    * 0 after a budget-gated driver union-find run, the large-star/
    * small-star round count otherwise. Observability for the O(log n)
    * convergence claim (SCALING.md curves, ConnectedComponentsSpec round
    * bound); diagnostics only, never control flow. */
  def lastDistributedRounds: Int = lastRounds.get()
  private val lastRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Candidate-id ceiling for [[incrementalPairs]]' driver-collected isin
    * prune (~8 MB of longs at the cap — the q70-style budget); above it
    * the prune flips to a distributed left-semi join. */
  val InPruneMaxIds: Int = 1 << 20


  /** jaccard from the verify tuple (inter, na, nb) — int sums, one double
    * division, identical on both physical strategies. */
  private def jaccardCol: Column =
    (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard")

  /** Collect the (docs-sized, byte-budgeted) gram-set map and ship it to
    * executors as one Spark broadcast, which [[verifiedPairs]] destroys as
    * soon as its result materializes. */
  private def collectAndBroadcast(sets: DataFrame)
      : org.apache.spark.broadcast.Broadcast[Map[Long, Array[Long]]] = {
    // getAs[Number]: integralId admits IntegerType ids too, so the sid
    // cell may be an Int — a raw getLong would ClassCastException.
    val setsMap: Map[Long, Array[Long]] = sets.collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Long](1).toArray).toMap
    sets.sparkSession.sparkContext.broadcast(setsMap)
  }

  /** Score candidate pairs against a broadcast gram-set map in a single
    * mapPartitions pass — size-ratio prefilter + sorted-merge intersect —
    * emitting (id_a, id_b, inter, na, nb). */
  private def mergeWalkScore(cands: DataFrame,
                             bc: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Long]]],
                             minSizeRatio: Double): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val ratio = minSizeRatio
    cands.select(col("id_a").cast("long"), col("id_b").cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        val m = bc.value
        // a candidate id without a gram set is reachable through
        // incrementalPairs over a hand-built DedupIndex whose sets miss some
        // of its bands' ids (DedupSpec)
        def set(id: Long) = m.getOrElse(id, throw new MissingGramSetException(id))
        it.flatMap { case (a, b) =>
          val ga = set(a); val gb = set(b)
          // jaccard >= r requires min(|A|,|B|) >= r * max(|A|,|B|): skip
          // the merge walk for pairs that cannot qualify
          if (math.min(ga.length, gb.length) < ratio * math.max(ga.length, gb.length)) None
          else {
            var i = 0; var j = 0; var n = 0
            while (i < ga.length && j < gb.length) {
              if (ga(i) == gb(j)) { n += 1; i += 1; j += 1 }
              else if (ga(i) < gb(j)) i += 1
              else j += 1
            }
            Some((a, b, n, ga.length, gb.length))
          }
        }
      }
      .toDF("id_a", "id_b", "inter", "na", "nb")
  }

  /** Shuffle verify stage of nearDupPairs: intersect sizes for each
    * candidate pair, (id_a, id_b, inter, na, nb), by two shuffle-hash joins
    * of candidates against `sets` keyed on id — both shuffles move
    * candidate-sized data and the hash table per partition is 1/N of the
    * doc side, so nothing needs to fit on one node. SHUFFLE_HASH pins
    * `sets` as the build side and keeps AQE from re-broadcasting what the
    * budget just ruled out. A candidate id missing from `sets` drops its
    * pair through the inner joins. (The under-budget broadcast merge-walk
    * lives in [[verifiedPairs]], which owns its broadcast.)
    *
    * minSizeRatio: drop pairs where min(|A|,|B|) < ratio * max(|A|,|B|)
    * before intersecting — a necessary condition for jaccard >= ratio, so
    * passing the jaccard threshold here is result-preserving and skips the
    * merge walk for pairs that cannot qualify. */
  def minHashVerify(cands: DataFrame, sets: DataFrame,
                    minSizeRatio: Double = 0.0): DataFrame =
    cands
      .join(sets.as("sa").hint("SHUFFLE_HASH"), col("id_a") === col("sa.sid"))
      .join(sets.as("sb").hint("SHUFFLE_HASH"), col("id_b") === col("sb.sid"))
      .filter(least(size(col("sa.gs")), size(col("sb.gs"))).cast("double") >=
        lit(minSizeRatio) * greatest(size(col("sa.gs")), size(col("sb.gs"))))
      .select(col("id_a"), col("id_b"),
        call_function("graft_sorted_intersect_count", col("sa.gs"), col("sb.gs")).as("inter"),
        size(col("sa.gs")).as("na"), size(col("sb.gs")).as("nb"))

  /** Byte ceiling for the broadcast-map verify fast path — the reference's
    * 500 MB scatter budget (MAX_JOIN_SCATTER_MEM_OVERHEAD,
    * engine/src/execution_kernels/BatchJoinProcessing.cpp), minus headroom
    * for the driver hop: the map is collected once before re-broadcast. */
  val BroadcastVerifyMaxBytes: Long = 300L * 1024 * 1024

  /** Canonical edge set: no self-loops, no duplicates. */
  private[graft] def ccCanon(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v")).distinct()

  /** Symmetrized edge set — explode-based, NOT a self-union: `e` appears
    * once in the plan, so symmetrizing an expensive subtree (a star step's
    * output) does not duplicate that subtree's exchanges/sorts the way
    * `e.union(e.swap)` did (the r17 before-plan carried largeStar 4×
    * inside one round for exactly this reason). Generate(explode) is
    * whole-stage-codegen friendly. */
  private[graft] def ccSym(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))

  /** m(u) = min(N(u) ∪ {u}) attached to every symmetrized edge via ONE
    * window pass — Exchange(u) + Sort(u) + WindowExec — instead of the
    * former groupBy(u) + self-join(u), which cost two exchanges of the
    * same rows (the partial-agg below the agg exchange defeats
    * ReuseExchange against the join-side exchange) plus the join itself.
    * Hot keys (a hub vertex) land one window partition per key — the same
    * co-location the published MR shape (Kiveris et al. SoCC'14) demands
    * of its per-vertex reduce; WindowExec buffers spill gracefully and
    * large-star is itself the step that dissolves high degrees
    * (ConnectedComponentsSpec's 1e5-edge giant-star pins the wall). */
  private def ccWithMinWindow(s: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
    s.withColumn("m", least(min(col("v")).over(w), col("u")))
  }

  /** The state a round starts from: the symmetrized, deduplicated edge
    * set with m(u) attached to every row. ONE exchange serves both the
    * distinct and the window: a repartition on u satisfies the distinct's
    * (u, v) clustering and the window's u clustering, so small-star's
    * distinct rides on the next large-star's exchange instead of paying a
    * shuffle of its own. */
  private[graft] def ccStarState(e: DataFrame): DataFrame =
    ccWithMinWindow(ccSym(e).repartition(col("u")).distinct())

  /** Large-star step over a [[ccStarState]]: larger neighbors v > u
    * re-attach to m(u). Self-loops are impossible (m ≤ u < v) and
    * duplicates are harmless: smallStar's min is duplicate-insensitive. */
  private[graft] def ccLargeStar(state: DataFrame): DataFrame =
    state.filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))

  /** Small-star step: smaller-or-equal neighbors AND u itself attach to
    * m(u). Each windowed row emits two candidate edges in one Generate
    * pass — (v, m) when v ≤ u (else a duplicate of the second element)
    * and (u, m) always. Self-loops are dropped here; the duplicates are
    * collapsed by the next [[ccStarState]]'s distinct. Every edge it
    * emits points from the larger id to the smaller (m ≤ v and m ≤ u). */
  private[graft] def ccSmallStar(e: DataFrame): DataFrame =
    ccWithMinWindow(ccSym(e))
      .select(explode(array(
        when(col("v") <= col("u"), struct(col("v").as("u"), col("m").as("v")))
          .otherwise(struct(col("u"), col("m").as("v"))),
        struct(col("u"), col("m").as("v")))).as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
      .filter(col("u") =!= col("v"))

  /** The edge set of a state after a round: small-star's edges all point
    * from the larger id to the smaller, so they are exactly the state's
    * rows with u > v (the rest are their mirrors). */
  private def ccOriented(state: DataFrame): DataFrame =
    state.filter(col("u") > col("v")).select(col("u"), col("v"))

  /** Connected components over a near-dup pair graph — the step that turns
    * pairwise similarity output (nearDupPairs / simHashPairs /
    * cosineDupPairs) into dedup CLUSTERS with a canonical representative
    * (the component's min id): real pipelines keep one doc per cluster,
    * not one per pair.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14), and the
    * edge set converges to per-component stars in O(log n) rounds.
    * No driver-side graph state, no vertex table that must fit anywhere:
    * at 100 TB this is a handful of hash shuffles. A round is 3 jobs:
    * the small-star window shuffle, one shuffle on vertex id that serves
    * both small-star's distinct and the next large-star's window (the
    * round's barrier holds that next state, [[ccStarState]]), and an
    * order-independent edge-set checksum — one stage, no exchange — that
    * also fills the round's lazy localCheckpoint barrier (without the
    * barrier the plan tree doubles per round). The previous round's
    * state is released as soon as the checksum has run.
    *
    * Returns (doc_id, rep_id) for EVERY vertex in `pairs`, roots included
    * (rep_id = min id of the component).
    *
    * Small-graph fast path: near-dup PAIR graphs are tiny relative to the
    * corpus (at 100 TB the dup-pair set is the ~1e-3 tail the verify stage
    * lets through), so when the deduped edge count is under
    * `smallGraphMaxEdges` the edges are pulled to the driver and solved
    * with union-find — identical output, none of the per-round
    * shuffle/checkpoint overhead. Same budget-gated pattern as the
    * verify stage's broadcast map (and the reference's scatter-vs-shuffle
    * join rule); pass smallGraphMaxEdges = 0 to force the distributed
    * path (q66b keeps it oracle-proven). */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                          maxIter: Int = 25,
                          smallGraphMaxEdges: Long = 1L << 20): DataFrame = {
    // (n, Σ xxhash64(u, v)) in ONE stage: a per-partition fold over the
    // rows, summed on the driver, where an aggregate would add a single-
    // partition exchange and a final stage for the same two longs. The
    // hash sum wraps around like non-ANSI sum(bigint); an empty edge set
    // is (0, 0).
    def checksum(e: DataFrame): (Long, Long) =
      e.select(xxhash64(col("u"), col("v"))).queryExecution.toRdd
        .mapPartitions { rows =>
          var n = 0L
          var h = 0L
          rows.foreach { r => n += 1; h += r.getLong(0) }
          Iterator.single((n, h))
        }
        .collect()
        .foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }

    val edges0 = ccCanon(
      pairs.select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v")))
    // the initial checksum's count doubles as the fast-path gate — no
    // extra job beyond what convergence detection already pays. LAZY
    // barrier (r17): the checksum action right below materializes the
    // checkpoint blocks, so barrier + checksum share one job instead of
    // paying an eager checkpoint job AND a checksum job (guide §2 —
    // per-round job overhead; the same fold runs in the loop body).
    var edges = edges0.transform(truncateLineageLazy)
    var last = checksum(edges)
    if (last._1 <= smallGraphMaxEdges && smallGraphMaxEdges > 0) {
      val spark = edges.sparkSession
      val local = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      releaseTruncated(edges)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      local.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val verts = local.flatMap(e => Seq(e._1, e._2)).distinct
      import spark.implicits._
      lastRounds.set(0) // fast path: no distributed rounds ran
      return verts.map(v => (v, find(v))).toSeq.toDF("doc_id", "rep_id")
    }
    // the first round's state is built in the first round's plan; every
    // later round starts from the previous round's barrier
    var state = ccStarState(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prev = edges
      // lazy barrier every round: the round's convergence checksum below
      // is the materializing action — one job per round where the eager
      // form paid two (checkpoint job + checksum job). A barrier every
      // k>1 rounds recomputes each skipped round in the next round's job
      // AND in its own checksum: cadence 2 ran q66b at 10.2 s vs 5.6 s
      // for cadence 1 (sf0.1, 5 rounds). The barrier holds the next
      // round's state, so the round's last exchange (the distinct's) is
      // also the next large-star's.
      state = truncateLineageLazy(ccStarState(ccSmallStar(ccLargeStar(state))))
      edges = ccOriented(state)
      val cur = checksum(edges)
      // The (count, hash-sum) checksum is a cheap screen; the DETERMINISTIC
      // stop is set equality, checked only at the (usually single) round
      // where checksums match. Counts are equal from the checksum and both
      // sides are distinct, so one-sided difference emptiness implies
      // equality — one extra join at convergence, none in the loop body.
      // A fixpoint of the composition is a fixpoint of both operators
      // (Kiveris et al. SoCC'14: each star step strictly decreases the
      // potential unless already at ITS fixpoint, so a round-trip back to
      // the same edge set means neither step moved).
      converged = cur == last && edges.except(prev).isEmpty
      // the checksum above filled this round's blocks: the previous
      // state is read no more
      releaseTruncated(prev)
      last = cur
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    lastRounds.set(i)
    // fixpoint: every edge is (child, root); roots map to themselves
    edges.select(col("u").as("doc_id"), col("v").as("rep_id"))
      .union(edges.select(col("v"), col("v")).distinct())
  }

  /** Precomputable LSH index of a corpus: the size-annotated band relation
    * (the candidate-join probe side) and the gram-hash sets (the verify
    * side). Both are plain relations a pipeline persists as parquet
    * alongside the corpus and reuses for every incoming batch — at 100 TB
    * you index the corpus ONCE and never re-read it per batch.
    *
    * `bandSizes` (optional, r15): the index's (sig, _bs) band-bucket
    * histogram, computed once at INDEX-BUILD time ([[indexBandSizes]])
    * and persisted alongside. When present, [[incrementalPairs]] also
    * pre-flights the PROBE join (index×batch candidates = Σ over
    * colliding sigs of n_index·n_batch) — the hot-index-bucket blow-up
    * the within-batch guard cannot see (r14 advisor). It is opt-in
    * because computing it per batch would re-scan the index — exactly
    * the per-batch O(corpus) cost incrementalPairs exists to avoid; at
    * build time it is one extra aggregate amortized over every batch. */
  final case class DedupIndex(bands: DataFrame, sets: DataFrame,
                              bandSizes: Option[DataFrame] = None,
                              /** Near-dup profile the index was built under —
                                * recorded IN the index so every incoming
                                * batch is shingled/banded/capped the same
                                * way (r15 verdict #4: the batch side must
                                * dispatch off the index, or a token-profile
                                * index would be probed with char bands and
                                * match nothing). */
                              profile: NearDupProfile = NearDupProfile.Char) {
    /** The band relation an incoming batch or stream is probed against:
      * a capped profile with the build-time histogram drops its over-cap
      * buckets — the same hot-bucket/low-precision trade the batch
      * pipelines make, decided once at build time. A hand-built capped
      * index without `bandSizes` keeps its full band relation (there is
      * no way to prune it without re-scanning). */
    private[graft] def probeBands: DataFrame = bandSizes match {
      case Some(sizes) if profile.maxBucket > 0L =>
        bands.join(sizes.filter(col("_bs") <= profile.maxBucket).select(col("sig")),
          Seq("sig"))
      case _ => bands
    }
  }

  /** [[DedupIndex]] of `docs` under `profile` (default: the classic char
    * profile), without the build-time band histogram. */
  def dedupIndex(docs: DataFrame, id: String, text: String,
                 profile: NearDupProfile = NearDupProfile.Char): DedupIndex = {
    val sets = profile.shingles.sets(docs, id, text)
    DedupIndex(profile.bands(sets), sets, profile = profile)
  }

  /** [[dedupIndex]] through the auto front door (r15 verdict #4): probe
    * the corpus ONCE at index-build time ([[recommendProfile]]) and build
    * the index under the recommended shingle profile, banding, and bucket
    * cap — recorded in the returned [[DedupIndex]] so every
    * [[incrementalPairs]] batch dispatches consistently for the index's
    * whole lifetime (re-probing per batch could flip the profile
    * mid-stream and silently stop matching the indexed bands). The
    * build-time band histogram ([[indexBandSizes]]) is always attached:
    * its cost is one aggregate amortized over every batch, and it enables
    * both the probe-side pre-flight and the recorded cap's index-side
    * prune. The profile is the one [[nearDupPairsAutoManaged]] would run
    * (`DedupProfileRecommendation.nearDupProfile`). */
  def dedupIndexAuto(docs: DataFrame, id: String, text: String,
                     sampleDocs: Int = 2048): DedupIndex = {
    val index = dedupIndex(docs, id, text,
      probeLogged("dedupIndexAuto", docs, id, text, sampleDocs).nearDupProfile)
    index.copy(bandSizes = Some(indexBandSizes(index.bands)))
  }

  /** The (sig, _bs) histogram for a [[DedupIndex]]'s band relation —
    * compute once when building the index, persist with it, and pass as
    * `DedupIndex.bandSizes` to enable the probe-side pre-flight. */
  def indexBandSizes(bands: DataFrame): DataFrame = bucketSizes(bands)

  /** INCREMENTAL near-dup detection: pairs between an indexed existing
    * corpus and an incoming batch, plus pairs within the batch — without
    * ever generating an existing×existing candidate. This is the arrival
    * path of a continuously-growing corpus: per-batch cost scales with
    * the batch and its band collisions, not with corpus size (the index
    * side of the candidate join ships only colliding bands; re-running
    * the full [[nearDupPairs]] would re-pay the whole-corpus signature
    * scan AND re-discover every old-old pair per batch).
    *
    * ==Id uniqueness across index and batch is the caller's contract==
    * (same as a primary key across an append). Output orientation: for
    * probe pairs id_a is the EXISTING doc, id_b the incoming one; for
    * within-batch pairs id_a < id_b.
    *
    * Verify is byte-gated like the batch pipeline's ([[verifiedPairs]]).
    * Its sets side is first pruned to candidate ids, so it is
    * batch-sized plus the few index collisions, NOT index-sized: for
    * ordinary batches it fits the broadcast budget and the verify runs as
    * one mapPartitions merge-walk over the candidate pairs, with no
    * SHUFFLE_HASH exchanges of candidates or sets at all (r16; measured
    * 8.9 → 6.3 s on the q81 corpus at sf0.1). Over-budget or
    * non-integral-id batches take the shuffle verify, whose exchanges
    * still move batch-sized data regardless of index size (SCALING.md's
    * fixed-batch curve).
    *
    * ==Profile dispatch (r15 verdict #4)==: the batch is shingled, banded
    * and capped under `index.profile` — the profile recorded at build
    * time ([[dedupIndexAuto]] probes it; [[dedupIndex]] pins the classic
    * char default) — so the recorded cap applies to both the within-batch
    * self-join and (via the build-time histogram) the probe join's index
    * side. The returned `jaccard` is therefore the INDEX profile's
    * resemblance measure.
    *
    * forceSemiPrune=true pins the over-budget semi-join prune and the
    * shuffle verify regardless of candidate-id count and bytes — the
    * forced-variant doctrine (q44b/q70b/q72b): q81b proves the fallback on
    * the same oracle as q81. */
  def incrementalPairs(index: DedupIndex, incoming: DataFrame, id: String,
                       text: String, threshold: Double,
                       forceSemiPrune: Boolean = false): DataFrame = {
    val maxBucket = index.profile.maxBucket
    // The batch is shingled/banded under the INDEX's recorded profile
    // (r15 verdict #4): band sigs only collide within one (profile,
    // banding) family, so a mismatched batch would silently probe nothing
    // — consistency is the index's contract, not a caller obligation.
    val inSets = index.profile.shingles.sets(incoming, id, text).persist()
    try {
      // Persisted for the same reason as the main pipeline's band relation:
      // the probe join and the within-batch self-join (both sides) share
      // one signature pass over the batch.
      val inBands = index.profile.bands(inSets).persist()
      try {
        // same pre-flight as the batch pipelines: a saturated BATCH would
        // quadratically blow up the within-batch self-join below (message
        // names only the knobs THIS site has — r14 advisor). The index's
        // recorded cap applies to the batch self-join exactly as in the
        // batch pipelines.
        guardCandidateBudget(inBands, maxBucket, IncrementalHatches)
        // The recorded cap's INDEX-side prune (r15 verdict #4); needs the
        // build-time histogram, which dedupIndexAuto always attaches.
        val idxBands = index.probeBands
        // probe-side pre-flight (opt-in via index.bandSizes): hot INDEX
        // buckets hit by batch bands blow up the probe join even when the
        // batch itself is healthy. Candidates = Σ over colliding sigs of
        // n_index·n_batch — one aggregate joining the precomputed index
        // histogram against the (tiny) batch histogram. Estimated over the
        // buckets the probe join will actually visit (≤ cap when capped).
        index.bandSizes.foreach { idxSizes =>
          val budget = candidatePairBudget(inBands)
          if (budget > 0L) {
            val visited = if (maxBucket > 0L)
              idxSizes.filter(col("_bs") <= maxBucket) else idxSizes
            val r = visited.select(col("sig"), col("_bs").as("_bsx"))
              .join(bucketSizes(inBands), Seq("sig"))
              .agg(sum(col("_bsx") * col("_bs")), max(col("_bsx")))
              .collect()(0)
            val est = if (r.isNullAt(0)) 0L else r.getLong(0)
            if (est > budget) throw new IllegalStateException(
              s"incremental probe pre-flight: the index×batch candidate join " +
              s"would generate ~$est pairs (hottest colliding index bucket " +
              s"${r.getLong(1)}), over the ${budget}-pair budget " +
              "(graft.dedup.candidatePairBudget). The INDEX has hot band " +
              "buckets (saturated or exact-dup-heavy corpus) that this batch " +
              "collides with. Rebuild the index under the token profile or a " +
              "bucket cap (recommendProfile / dedupIndexAuto pick these), " +
              "or raise the budget if this volume is genuinely intended.")
          }
        }
        // band id is baked into the xxhash64 sig, so sig equality alone is
        // the banding condition; the size-ratio prefilter drops pairs that
        // cannot reach the jaccard threshold before the distinct's shuffle
        val probe = idxBands.as("x").join(inBands.as("y"),
            col("x.sig") === col("y.sig") &&
              least(col("x.gn"), col("y.gn")).cast("double") >=
                lit(threshold) * greatest(col("x.gn"), col("y.gn")))
          .select(col("x.sid").as("id_a"), col("y.sid").as("id_b"))
          .distinct()
        val intra = pairsFromBands(inBands, threshold, sizeAware = true, maxBucket)
        val cand = probe.unionByName(intra).persist()
        try {
          // The verify join must NOT shuffle the whole index: candidates
          // touch only batch ids plus their few index collisions, so the
          // sets side is pruned to exactly those ids first — the verify
          // exchange then carries batch-sized data however big the corpus
          // index grows (measured, SCALING.md fixed-batch curve: without
          // pruning the per-batch cost grew 2.4× for a 10× index; the
          // residual corpus term is the index SCAN, which a sid-bucketed
          // index store prunes further). Two physical prunes, gated the
          // byte-budget way (q70/q72 doctrine):
          //  - id list ≤ InPruneMaxIds: a bounded driver collect into an
          //    isin scan filter — zero extra exchanges, and the limit+1
          //    probe bounds driver memory BEFORE collecting;
          //  - bigger: a left-semi join (no broadcast hint — an id set
          //    this size should hash-join distributively). Same results
          //    by construction; q81b forces this path under the q81
          //    oracle.
          val candIds = cand.select(col("id_a").as("sid"))
            .unionByName(cand.select(col("id_b").as("sid"))).distinct()
          val allSets = index.sets.unionByName(inSets)
          def semiPruned = allSets.join(candIds, Seq("sid"), "left_semi")
          // persisted: the verify's sizing aggregate and its broadcast
          // collect (or the shuffle verify's two join sides) read the
          // pruned sets once, not re-reading index.sets per consumer
          val neededSets = (
            if (forceSemiPrune) semiPruned
            else {
              val probed = candIds.limit(InPruneMaxIds + 1).collect()
              if (probed.length <= InPruneMaxIds)
                allSets.filter(col("sid")
                  .isInCollection(probed.map(_.getLong(0)).toIndexedSeq))
              else semiPruned
            }).persist()
          try verifiedPairs(cand, neededSets, incoming.schema(id).dataType, threshold,
            if (forceSemiPrune) 0L else BroadcastVerifyMaxBytes)
          finally neededSets.unpersist(blocking = false)
        } finally cand.unpersist(blocking = false)
      } finally inBands.unpersist(blocking = false)
    } finally inSets.unpersist(blocking = false)
  }

  /** APPLY the near-dup detection: the deduplicated corpus itself — every
    * input column of `docs`, restricted to the one canonical member (min
    * id) of each MinHash-LSH cluster plus all unclustered docs. This is
    * the step a training pipeline actually runs: q44 emits evidence
    * (pairs), q66 emits structure (clusters), this emits the KEPT corpus.
    *
    * Shape: pairs → connectedComponents → one left join of the corpus
    * against the cluster assignment on the id key, keeping rows whose
    * rep_id is null (never clustered) or equal to their own id (the rep).
    * The cluster relation is bounded by the number of near-dup DOCS, not
    * corpus size — at 100 TB it is the dup tail the verify stage confirmed
    * (ref BatchJoinProcessing's small-side scatter case), so AQE picks a
    * broadcast join when it fits and a shuffle join when a pathological
    * corpus makes the tail big; correctness is join-strategy independent
    * (the q44/q44b and q66/q66b contract covers both constituents). */
  def canonicalize(docs: DataFrame, id: String, text: String,
                   threshold: Double): DataFrame =
    keepClusterMins(docs, id, nearDupPairs(docs, id, text, threshold).df)

  /** [[canonicalize]] through the AUTO front door (r15): the full
    * "dedup my corpus" one-liner — probe ([[recommendProfile]]) →
    * recommended profile/cap pairs ([[nearDupPairsAutoManaged]]) →
    * clusters → keep-min-id — so the scale-safety analysis guards the most
    * common END-TO-END operation, not just the pair stage. Gate q204
    * replays probe + dispatch + clusters + the kept corpus in one oracle. */
  def canonicalizeAuto(docs: DataFrame, id: String, text: String,
                       threshold: Double): DataFrame =
    keepClusterMins(docs, id, nearDupPairsAutoManaged(docs, id, text, threshold).df)

  /** `docs` minus every clustered doc that is not its cluster's min id. */
  private def keepClusterMins(docs: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val clusters = connectedComponents(pairs).withColumnRenamed("doc_id", "_cluster_id")
    docs.join(clusters, docs(id) === col("_cluster_id"), "left")
      .filter(col("rep_id").isNull || col("rep_id") === docs(id))
      .drop("_cluster_id", "rep_id")
  }

  /** [[canonicalize]] under the keep-BEST policy: each near-dup cluster
    * keeps its member with the greatest (`score`, id) instead of the
    * smallest id — the policy real curation pipelines usually want
    * (longest / highest-quality copy survives; Dolma's keep-first is
    * the other point in this space). Selection is one
    * map-side-combinable max_by per cluster (q132's skew-safe argmax
    * shape — no window sort on a hot cluster), then the kept set is the
    * cluster winners plus every unclustered doc. */
  def canonicalizeKeepBest(docs: DataFrame, id: String, text: String,
                           threshold: Double, score: Column): DataFrame = {
    val clusters = connectedComponents(nearDupPairs(docs, id, text, threshold).df)
      .withColumnRenamed("doc_id", "_cluster_id")
    val joined = docs.join(clusters, docs(id) === col("_cluster_id"), "left")
    val winners = joined.filter(col("rep_id").isNotNull)
      .groupBy(col("rep_id"))
      .agg(max_by(col("_cluster_id"), struct(score, col("_cluster_id")))
        .as("_keep_id"))
    // winners is dup-tail-bounded (one row per cluster) — AQE picks
    // broadcast vs shuffle, the q78 doctrine
    joined
      .join(winners.select(col("_keep_id")),
        docs(id) === col("_keep_id"), "left")
      .filter(col("rep_id").isNull || col("_keep_id").isNotNull)
      .drop("_cluster_id", "rep_id", "_keep_id")
  }

  /** SOFT dedup: keep every document but DOWN-WEIGHT near-dup clusters so
    * a cluster of n copies contributes one document's worth of sampling
    * mass (weight = 1/n each) — the alternative to [[canonicalize]]'s
    * hard drop when near-dups carry useful variation (boilerplate diffs,
    * translations of the same page) and the trainer consumes weights.
    * Weight is the exact 6-decimal fixed point round(10⁶/n)/10⁶ — an
    * integer-derived value both engines reproduce bit-for-bit.
    *
    * Shape: pairs → connectedComponents → one count per cluster (a
    * map-side-combinable aggregate over the dup-tail-bounded cluster
    * relation) → one left join back to the corpus under AQE sizing (the
    * [[canonicalize]] doctrine). Unclustered docs weigh 1. */
  def clusterWeights(docs: DataFrame, id: String, text: String,
                     threshold: Double): DataFrame = {
    val clusters = connectedComponents(nearDupPairs(docs, id, text, threshold).df)
      .withColumnRenamed("doc_id", "_cluster_id")
    val sized = clusters.join(
      clusters.groupBy(col("rep_id")).agg(count(lit(1)).as("cluster_size")),
      "rep_id")
    docs.join(sized, docs(id) === col("_cluster_id"), "left")
      .select(docs(id),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        (round(lit(1000000L) / coalesce(col("cluster_size"), lit(1L))) / 1e6)
          .as("weight"))
  }

  /** CONTENT-DEFINED CHUNKING storage-dedup report (the FastCDC/restic
    * family): chunk boundaries fall where the fingerprint of the
    * `window`-char tail hits a mask — here, md5 hex of the window
    * starting with '0' (expected chunk ≈ 16·window/16 = `window` chars) —
    * so an insertion early in a document SHIFTS boundaries only until
    * the next content-determined cut, unlike fixed-size chunking
    * (q127) where one inserted byte re-keys every later chunk. The
    * per-group dup ratio over chunk hashes is the storage-dedup /
    * shared-boilerplate estimate at sub-document granularity.
    *
    * Shape: chunking is a ROW-LOCAL HOF pipeline (positions →
    * boundary filter → span zip → chunk md5) fused into the scan — no
    * window function, no shuffle; the only exchange is the per-group
    * aggregate over (group, chunk hash). md5-hex boundaries and chunk
    * ids replay exactly in the oracle (the q42 doctrine). */
  def cdcChunkReport(docs: DataFrame, id: String, text: String,
                     group: Column, window: Int = 16): DataFrame = {
    val n = length(col(text))
    val bounds = when(n >= window,
      filter(sequence(lit(window), n), p =>
        substring(md5(col(text).substr(p - (window - 1), lit(window))), 1, 1)
          === "0")).otherwise(array().cast("array<int>"))
    // chunk ENDS = boundaries plus the doc end; starts chain off the
    // previous end (distinct absorbs a boundary that already sits at n)
    val ends = when(n >= 1,
      array_distinct(concat(bounds, array(n)))).otherwise(array().cast("array<int>"))
    docs
      .select(group.as("grp"), col(text).as("_t"), ends.as("_ends"))
      .select(col("grp"), explode(transform(col("_ends"), (e, i) =>
        struct(
          (e - coalesce(when(i > 0, element_at(col("_ends"), i)), lit(0)))
            .as("len"),
          md5(col("_t").substr(
            coalesce(when(i > 0, element_at(col("_ends"), i)), lit(0)) + 1,
            e - coalesce(when(i > 0, element_at(col("_ends"), i)), lit(0))))
            .as("h")))).as("c"))
      .groupBy(col("grp").as("group_key"))
      .agg(count(lit(1)).as("total_chunks"),
        countDistinct(col("c.h")).as("distinct_chunks"),
        graft.Tables.r6(lit(1.0) -
          countDistinct(col("c.h")).cast("double") /
            count(lit(1)).cast("double")).as("dup_ratio"),
        graft.Tables.r6(sum(col("c.len")).cast("double") /
          count(lit(1)).cast("double")).as("mean_chunk_len"))
  }

  /** 32-bit SimHash fingerprint per document over whitespace tokens —
    * a row-local codegen'd kernel (graft_simhash32): a doc's fingerprint
    * depends only on its OWN tokens, so the stage is a pure projection
    * fused into the scan, with NO shuffle at any corpus size. The
    * aggregate formulation below is the equivalence oracle. Docs with no
    * non-empty token have no fingerprint (same visible set as the
    * aggregate form, where their token rows are filtered before the
    * groupBy). */
  def simHashFingerprints(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("sid"),
        call_function("graft_simhash32", col(text)).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)

  /** Aggregate reference form: explode tokens, one groupBy(sid) with 32
    * bit-counter aggregates (map-side partial, one shuffle) — itself the
    * non-naive distributed shape (the explode-per-bit translation pushes
    * tokens × 32 rows through TWO shuffles). Kept as the equivalence
    * oracle for the row-local kernel (SimHashSigSpec) and as
    * documentation of the semantics. */
  def simHashFingerprintsAggregate(docs: DataFrame, id: String, text: String): DataFrame = {
    val toks = docs.select(col(id).as("sid"), explode(split(col(text), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .withColumn("h", tokenHash(col("t")))
    val bitAggs = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1)) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    toks.groupBy(col("sid")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("sid"),
        (0 until 32).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("fingerprint"))
  }

  /** SimHash near-dup pairs: Hamming distance over fingerprints ≤ maxDist,
    * found by BANDING rather than all-pairs comparison. Pigeonhole: split
    * the 32-bit fingerprint into maxDist+1 disjoint bit bands — any pair
    * within Hamming maxDist has its differing bits in at most maxDist
    * bands, so it matches EXACTLY in at least one band. Candidate
    * generation is therefore an equi self-join on (band, band_bits) —
    * a hash shuffle on a high-cardinality key, never a cross product —
    * and the exact Hamming check runs on candidates only. Output is
    * identical to the naive all-pairs formulation (the banding is a
    * complete cover, not an approximation). */
  def simHashPairs(fingerprints: DataFrame, maxDist: Int): DataFrame = {
    // nBands > 32 would give width = 0: every row masks to a constant
    // (band, 0) key — a degenerate single-bucket cross join.
    require(maxDist >= 0 && maxDist < 32, s"maxDist must be in [0, 32), got $maxDist")
    val nBands = maxDist + 1
    val width = 32 / nBands
    val bands = (0 until nBands).map { b =>
      val lo = b * width
      val w = if (b == nBands - 1) 32 - lo else width
      struct(lit(b).as("band"),
        shiftright(col("fingerprint"), lo).bitwiseAND(lit((1L << w) - 1)).as("bits"))
    }
    val exploded = fingerprints
      .select(col("sid"), col("fingerprint"), explode(array(bands: _*)).as("bb"))
      .select(col("sid"), col("fingerprint"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.sid") < col("b.sid"))
      // a Hamming-0 pair collides in every band — dedupe candidates
      .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"),
        col("a.fingerprint").as("fa"), col("b.fingerprint").as("fb"))
      .distinct()
      .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** simHashPairs generalized to a 64-bit fingerprint carried as two
    * non-negative 32-bit halves (the cross-engine-safe form
    * MediaCodec.bmpAHash emits) — same pigeonhole banding: maxDist+1
    * disjoint bands, equi self-join on (band, bits), exact
    * popcount-of-xor check on candidates only. A band may straddle the
    * hi/lo boundary; its bits are assembled with shifts (all
    * non-negative, so `>>` is well-defined). */
  def hammingPairs64(hashes: DataFrame, id: String, hi: String, lo: String,
                     maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist must be in [0, 64), got $maxDist")
    val nBands = maxDist + 1
    val width = 64 / nBands
    def bandBits(b: Int): Column = {
      val p = b * width
      val w = if (b == nBands - 1) 64 - p else width
      val mask = if (w == 64) -1L else (1L << w) - 1
      val full = // bits [p, p+w) of the logical 64-bit hash
        if (p + w <= 32) shiftright(col(lo), p)
        else if (p >= 32) shiftright(col(hi), p - 32)
        else shiftright(col(lo), p)
          .bitwiseOR(shiftleft(col(hi), 32 - p))
      full.bitwiseAND(lit(mask))
    }
    val bands = (0 until nBands).map(b =>
      struct(lit(b).as("band"), bandBits(b).as("bits")))
    val exploded = hashes
      .select(col(id).as("sid"), col(hi).as("fhi"), col(lo).as("flo"),
        explode(array(bands: _*)).as("bb"))
      .select(col("sid"), col("fhi"), col("flo"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"),
        col("a.fhi").as("ha"), col("a.flo").as("la"),
        col("b.fhi").as("hb"), col("b.flo").as("lb"))
      .distinct()
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("int"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact duplicated SPANS: for each document, the positions covered by
    * token n-gram runs that also appear in at least one OTHER document —
    * the position-level exact-substring signal of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better", §4.1
    * ExactSubstr), which set-level MinHash/Jaccard cannot see (a doc 1%
    * similar to the corpus can still carry a 200-token verbatim quote).
    * Where Lee et al. build a suffix array, the shuffle-engine shape is
    * positional n-gram fingerprints: a run of m consecutive duplicated
    * n-grams pins a duplicated substring of m+n-1 tokens.
    *
    * Stages, all linear in token count: (1) positional gram stream
    * (row-local md5, same fingerprints as Decontamination); (2) one
    * aggregate marks grams seen in ≥2 distinct docs; (3) an equi join
    * back on the gram key (both sides already hash-shuffled on it — AQE
    * may broadcast the dup set when small); (4) consecutive marked
    * positions merge into runs with the islands trick (pos − row_number
    * is constant within a run) — the window runs only over MARKED
    * positions, a tiny fraction of the corpus.
    *
    * Output per doc with ≥1 duplicated span: `n_dup_positions` (gram
    * windows in shared runs) and `max_span_tokens` (longest verbatim
    * duplicated token run, = longest island + n − 1). */
  /** APPLY side of [[duplicatedSpans]]: rewrite every document with its
    * cross-document duplicated runs CUT, keeping exactly one copy
    * corpus-wide (Lee et al. 2022 §4.1 remove one of the two occurrences;
    * the deterministic owner here is the min doc id containing the gram —
    * content-independent of partitioning). Token t is dropped iff some
    * NON-owner duplicated window covers it; owner docs keep their copy
    * verbatim. Returns one row per input doc — docs whose every token is
    * covered keep an empty text, so the operator composes by id.
    *
    * Output: id, `n_before`/`n_after` token counts, `clean_md5` (md5 of
    * the space-rejoined kept tokens, order-recovered by position — pins
    * the BYTES of the rewritten corpus, not just how much was cut).
    *
    * Scale shape: the gram aggregate and window marking are
    * [[duplicatedSpans]]'s; coverage explodes only MARKED windows (n
    * rows each — duplicated volume, not corpus volume); the final
    * left-anti join + per-doc reassembly shuffle the token stream once
    * on (doc, position) — the unavoidable cost of materially rewriting
    * text, linear and key-partitioned. */
  def removeDuplicatedSpans(docs: DataFrame, id: String, text: String, n: Int)
    : DataFrame = {
    val toks = docs.select(col(id).as("sid"), split(col(text), " ").as("ts"))
    val tokens = toks
      .select(col("sid"), size(col("ts")).as("n_before"),
        posexplode_outer(col("ts")).as(Seq("p0", "t")))
      .filter(col("t").isNotNull)
      .select(col("sid"), col("n_before"), (col("p0") + 1).as("tp"), col("t"))
    val grams = positionalGrams(toks, n)
    val marked = grams
      .join(grams.groupBy(col("g"))
        .agg(count_distinct(col("sid")).as("nd"), min(col("sid")).as("owner"))
        .filter(col("nd") >= 2), "g")
      .filter(col("sid") =!= col("owner"))
    // gram at 0-based pos covers 1-based tokens pos+1 .. pos+n
    val covered = marked
      .select(col("sid"), explode(sequence(col("pos") + 1, col("pos") + n)).as("tp"))
      .distinct()
    val kept = tokens.join(covered, Seq("sid", "tp"), "left_anti")
    val rebuilt = kept
      .groupBy(col("sid"))
      .agg(first(col("n_before")).as("n_before"), count(lit(1)).as("n_after"),
        array_join(transform(
          array_sort(collect_list(struct(col("tp").as("o"), col("t").as("w")))),
          s => s.getField("w")), " ").as("clean"))
    docs.select(col(id).as("sid"), size(split(col(text), " ")).as("nb"))
      .join(rebuilt, Seq("sid"), "left")
      .select(col("sid").as(id), col("nb").as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"))
  }

  /** Crawl-order n-gram NOVELTY: the fraction of a document's positional
    * n-grams whose corpus-wide FIRST occurrence — first = smallest
    * (doc_id, position), the stable crawl order of [[keepFirstParagraphs]]
    * — is this document's own. A verbatim re-crawl scores ~0, the first
    * copy keeps its score, and template spam decays as its boilerplate
    * accumulates — the marginal-contribution signal a dedup-aware sampler
    * weights by (the doc-level continuous analog of Lee et al. 2022's
    * remove-all-but-one, where duplicatedSpans is the binary mask).
    *
    * Scale shape: one gram aggregate whose per-cell state is ONE (doc,
    * pos) struct (lexicographic `min` — map-side combinable, hot grams
    * safe: the §8.12 bounded-cell class), one equi join back on the gram
    * key (the q93 dup-marking shape; AQE splits skewed gram cells), one
    * per-doc aggregation. Docs shorter than n tokens emit no grams and no
    * row. */
  def gramNovelty(docs: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val toks = docs.select(col(id).as("sid"), split(col(text), " ").as("ts"))
    val grams = positionalGrams(toks, n)
    val owner = grams.groupBy(col("g"))
      .agg(min(struct(col("sid"), col("pos"))).as("o"))
    grams.join(owner, "g")
      .withColumn("novel",
        (col("sid") === col("o.sid") && col("pos") === col("o.pos")).cast("long"))
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_grams"), sum(col("novel")).as("n_novel"))
      .select(col("sid").as(id), col("n_grams"), col("n_novel"),
        graft.Tables.r6(col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty"))
  }

  /** Positional token n-gram fingerprints: (sid, 0-based pos, gram) from a
    * (sid, ts: array&lt;string&gt;) frame. posexplode_OUTER + null filter
    * for the same InferFiltersFromGenerate reason as q72's explode (a
    * pushed size()>0 filter would clone the gram chain).
    *
    * The gram travels as the RAW space-joined string (r16): every
    * consumer (duplicatedSpans, removeDuplicatedSpans, gramNovelty) uses
    * it only as an equality key, and raw-string equality IS the md5
    * equality the oracles compute — identical classes, no hash CPU, and
    * no collision caveat at any scale. The md5 this used to apply cost
    * one digest per corpus gram for at most a ~1.5× shuffle-byte
    * narrowing on typical 8-grams. */
  private def positionalGrams(toks: DataFrame, n: Int): DataFrame =
    toks
      .select(col("sid"), posexplode_outer(
        when(size(col("ts")) < n, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(col("ts")) - (n - 1)),
            i => concat_ws(" ", slice(col("ts"), i, lit(n)))))).as(Seq("pos", "g")))
      .filter(col("g").isNotNull)

  def duplicatedSpans(docs: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val toks = docs.select(col(id).as("sid"), split(col(text), " ").as("ts"))
    // positions are 0-based here, 1-based in the oracle — the islands
    // offset (pos − row_number) cancels the difference.
    val grams = positionalGrams(toks, n)
    val dup = grams.groupBy(col("g"))
      .agg(count_distinct(col("sid")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("g"))
    val marked = grams.join(dup, "g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sid")).orderBy(col("pos"))
    marked
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy(col("sid"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("sid"))
      .agg(sum(col("run")).as("n_dup_positions"),
        (max(col("run")) + (n - 1)).as("max_span_tokens"))
      .select(col("sid").as(id), col("n_dup_positions"), col("max_span_tokens"))
  }

  /** Global paragraph-level keep-first dedup (the Dolma pipeline's
    * paragraph dedup stage, Soldaini et al. 2024 §4.1): every sentence/
    * paragraph that appears anywhere earlier in the corpus (earlier =
    * smaller (doc_id, position), the stable crawl order) is removed;
    * ONLY the first occurrence survives. Distinct from
    * TextAnalysis.stripBoilerplate (df ≥ threshold — a second copy
    * below the threshold survives there, never here) and from
    * removeDuplicatedSpans (token-8-gram granularity vs whole units
    * here, and spans keep one copy per DOCUMENT pair, not one global).
    *
    * Returns (id, text, n_kept) with the rewritten text reassembled in
    * original order — byte-exact, so the query pins md5(text).
    *
    * Scale shape: one sentence explode, ONE shuffle keyed on the
    * sentence (the global argmin — min struct(doc,pos) is an ordinary
    * map-side-combining aggregate, no window over a skewed key), one
    * per-doc reassembly aggregate, one id join back. A sentence
    * duplicated a million times still costs one combiner cell per
    * partition — the argmin does not materialize the occurrence list. */
  def dedupParagraphsKeepFirst(docs: DataFrame, id: String, text: String): DataFrame = {
    val pieces = docs
      .select(col(id).as("_sid"),
        posexplode(TextAnalysis.sentenceSplit(col(text))).as(Seq("_pos", "_sent")))
      .filter(length(col("_sent")) > 0)
    // Global first occurrence: min (doc, pos) per sentence — an aggregate,
    // not a row_number window, so combiners shrink skewed sentences before
    // the exchange.
    val firsts = pieces.groupBy(col("_sent"))
      .agg(min(struct(col("_sid").as("d"), col("_pos").as("p"))).as("f"))
      .select(col("_sent").as("_fs"), col("f.d").as("_fd"), col("f.p").as("_fp"))
    val kept = pieces
      .join(firsts, pieces("_sent") === col("_fs") &&
        pieces("_sid") === col("_fd") && pieces("_pos") === col("_fp"))
      .groupBy(col("_sid"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("_pos").as("o"), col("_sent").as("p")))),
            s => s.getField("p")),
          ". ").as("_clean"),
        count(lit(1)).as("_nk"))
    docs.join(kept, docs(id) === col("_sid"), "left")
      .select(docs(id),
        coalesce(col("_clean"), lit("")).as(text),
        coalesce(col("_nk"), lit(0L)).as("n_kept"))
  }

  /** Winnowing near-dup pairs (the MOSS cross-document step over
    * TextHashing.winnowFingerprints): doc pairs sharing ≥ `minShared`
    * selected fingerprints. Third pairing family beside MinHash-LSH
    * (q44: probabilistic on set resemblance) and SimHash (q45: Hamming
    * bands on a global sketch) — winnowing is the one with the LOCAL
    * guarantee: a verbatim run of ≥ w + k − 1 shared tokens always
    * produces a shared fingerprint, so short quotes/plagiarized spans
    * can't slip through the way a low-Jaccard pair slips past LSH.
    *
    * Scale shape: fingerprint extraction is row-local (no corpus
    * explode before the projection); the pair join is an equi-join on
    * the fingerprint with a document-frequency cap — a fingerprint in
    * more than `dfCap` docs is boilerplate, not plagiarism (the q79
    * df-threshold argument), and capping it bounds per-key join fanout
    * at C(dfCap, 2), which is what keeps the candidate volume linear in
    * corpus size instead of quadratic in hot-key frequency. */
  def winnowPairs(docs: DataFrame, id: String, text: String,
                  k: Int = 5, w: Int = 4,
                  minShared: Int = 3, dfCap: Int = 50): DataFrame = {
    require(minShared >= 1, "winnowPairs needs minShared >= 1")
    require(dfCap >= 2, "winnowPairs needs dfCap >= 2")
    // Two projections, NOT one fused expression: the gram-hash array must
    // be an attribute before the window-min transform consumes it, or the
    // interpreted HOF re-evaluates the md5 gram chain per window
    // (winnowSelect scaladoc; measured 213 s → sub-second at sf0.1).
    val sel = docs
      .select(col(id).as("_wid"), split(col(text), " ").as("_ts"))
      .select(col("_wid"),
        TextHashing.gramHashesFromTokens(col("_ts"), k).as("_gh"))
      .select(col("_wid"),
        explode(TextHashing.winnowSelect(col("_gh"), w)).as("fp"))
    // array_distinct upstream → (doc, fp) already unique; count(*) is df.
    val shareable = sel.groupBy(col("fp"))
      .agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= 2 && col("_nd") <= dfCap)
      .select(col("fp"))
    val f = sel.join(shareable, "fp")
    val fa = f.select(col("fp"), col("_wid").as("id_a"))
    val fb = f.select(col("fp"), col("_wid").as("id_b"))
    fa.join(fb, "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
