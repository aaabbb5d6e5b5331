package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
 * prints the full JSON line {"metric":"total_full","value","unit","queries",
 * "runs","sf",...}, then a compact {"metric":"total",...} summary line last.
 *
 * The sweep is the engine's coverage and regression gate: every headline
 * query must run, and the total must stay within 2× of BASELINE. It
 * measures; it does not adjudicate noise. Performance gains are claimed
 * only through the paired benchmark under perfbench/, which alternates
 * parent and change runs.
 *
 * Each query is forced through the noop DataSourceV2 sink — unlike
 * count(), noop computes every output column (count() lets Catalyst prune
 * the projections away, which would under-report expression-heavy
 * queries). One warmup query amortizes JIT/codegen/FS-cache startup, then
 * each selected query is measured once ([[measure]]): the median of 3
 * runs, every run reported under "runs". A query whose run errors is
 * listed under "failed", left out of the total, and makes the process
 * exit 1.
 *
 * Wall budget ([[BudgetSec]]): past 80 % of it a query gets 2 runs, past
 * 100 % 1 run, so every query is still measured; "demoted_queries" counts
 * the reduced measurements. Full sweeps (no [[QuerySelect]] filter) write
 * the line to [[artifactPath]] before every query, marked "partial":true
 * with "in_progress" = the query being measured, so a killed capture still
 * leaves the totals so far; the final write lands "partial":false.
 *
 * Host drift: a fixed single-threaded CPU loop ([[calibrate]]) and the
 * parallel efficiency ([[parallelEfficiency]]) are measured at the start
 * and at the end of the sweep, and both pairs are printed. The capture is
 * "contaminated" when either moved by more than [[DriftLimit]] between
 * the two: the host's speed changed under the sweep, so its per-query
 * numbers do not compare with another capture's.
 */
object Bench {

  /** Wall budget of the measurement loop, seconds ([[measure]]): the
    * reduced measurements near and past it keep a slow host's sweep
    * inside a fixed wall-clock cap on the whole run while every query is
    * still measured. */
  val BudgetSec = 780.0

  /** Start-to-end ratio of the calibration loop or of the parallel
    * efficiency beyond which a capture is contaminated. */
  val DriftLimit = 1.5

  val DefaultCpus = "32"

  /** Core count of every main but EntrySmoke: SPARK_GRAFT_CPUS, default
    * [[DefaultCpus]]. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", DefaultCpus)

  /** The session those mains run on: `local[cpus]` with one
    * shuffle partition per core. */
  def session(): SparkSession = {
    val spark = EngineContext.session(s"local[$cpus]")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The full-sweep artifact for a core count: the default count writes
    * BENCH_latest_local.json, any other BENCH_latest_local_c<N>.json, so a
    * c8 capture never overwrites the default one. */
  def artifactPath(cpus: String): String =
    if (cpus == DefaultCpus) "BENCH_latest_local.json"
    else s"BENCH_latest_local_c$cpus.json"

  /** One query's measurement `elapsedSec` into the sweep: 3 runs below
    * 80 % of [[BudgetSec]], 2 up to 100 %, 1 past it. Returns the runs and
    * the reported time: -1 when a run failed, the median of 3 runs, and
    * otherwise the LAST run (run 1 carries the query's own codegen/JIT
    * warmup — measured 1.4× on q143 — so a 2-run measurement pays one
    * warmup and reports the second). */
  def measure(elapsedSec: Double, runOnce: () => Double): (Seq[Double], Double) = {
    val n = if (elapsedSec > BudgetSec) 1 else if (elapsedSec > BudgetSec * 0.8) 2 else 3
    val runs = Seq.fill(n)(runOnce())
    (runs, if (runs.exists(_ < 0)) -1.0 else if (n == 3) runs.sorted.apply(1) else runs.last)
  }

  /** Headline set: one per operator family, excluding the deliberately
    * quadratic exact-Jaccard demo (q43 — its scale path IS q44). */
  val headline: Seq[String] = Seq(
    "q01_tpch_q1",        // scan+filter+agg+sort
    "q03_join3_topk",     // 3-way join + broadcast + topk
    "q04_join_left",      // outer join + double aggregation
    "q08_join_nonequi",   // equi join + inequality residual
    "q12_count_distinct", // distinct aggregation
    "q16_union_distinct", // set op
    "q32_window_rownum",  // partitioned window
    "q34_window_frame",   // sliding frame window
    "q38_events_hourly",  // time bucketing
    "q39_events_sessionize", // lag + running-sum sessionization
    "q42_dedup_exact",    // exact dedup
    "q44_dedup_minhash_lsh", // minhash+LSH near-dup (scale path)
    "q45_dedup_simhash",  // simhash fingerprints + hamming pairs
    "q47_ann_topk",       // brute-force cosine top-k
    "q48_ann_lsh",        // sign-LSH bucketed ANN
    "q49_lang_id",        // text analysis
    "q53_multimodal_decode", // binary columns + batched decode
    // q66b, not q66: the default clustering entry takes the budget-gated
    // driver union-find on this corpus's tiny pair graph (= q44 + ε);
    // the FORCED distributed variant is the iterative O(log n)-round
    // operator whose wall clock needs the guard
    "q66b_dedup_clusters_dist",
    "q67_split_assign",   // deterministic split/sampling buckets
    "q68_repetition",     // repetition quality filters
    "q69_pii_scrub",      // PII detection + redaction
    "q70_token_rarity",   // corpus-stats vocab + broadcast scoring
    "q71_multimodal_headers", // real BMP/PNG/WAV construct + header parse
    "q72_decontaminate",  // eval-set n-gram overlap
    "q74_seq_pack",       // concat-and-chunk sequence packing
    "q77_seq_emit",       // packed-sequence emission (hash-pinned bytes)
    "q75_mixture_sample", // sqrt-temperature source rebalancing
    "q76_curation_funnel", // composed lang→quality→dedup→decontam pass
    "q78_dedup_canonical", // dedup APPLIED: pairs→clusters→kept corpus
    "q79_boilerplate",    // cross-doc boilerplate sentence removal
    "q80_epoch_upsample", // epoch-balanced upsampling w/ replacement
    "q81_dedup_incremental", // batch-vs-index dedup, no corpus rescan
    "q82_quality_gate",   // per-stratum top-fraction rank gate
    "q83_train_order",    // seeded deterministic training permutation
    "q85_semantic_dedup", // k-means + within-cluster cosine dedup (SemDeDup)
    "q86_ann_quantized",  // int8 symmetric-scale ANN (exact integer dots)
    "q88_source_overlap", // cross-source shared-gram matrix (no self-join)
    "q90_asof_attrib",    // as-of join via union + one keyed window pass
    "q90b_asof_native",   // as-of via the native plan operator (AsofJoinExec)
    "q72c_decontaminate_bloom", // bloom-pruned gram stream + exact verify
    "q92_bm25_score",     // rational-idf BM25 retrieval scoring
    "q93_dup_spans",      // positional-gram exact duplicated substrings
    "q94_span_scrub",     // keep-one-copy span removal (rewritten bytes)
    "q95_merge_upsert",   // CDC merge: compaction window + one outer join
    "q97_source_stats",   // per-source integer-rank percentile report
    "q98_retention_curve", // quality-cutoff survivor curve
    "q99_chunk_overlap",  // stride-overlap window chunking (row-local)
    "q100_hll_distinct",  // portable HLL distinct-token sketch
    "q101_kmv_source_sim", // KMV bottom-k sketch source-pair Jaccard
    "q102_scd2_history",  // SCD2 versions: one union + one lead() window
    "q103_inverted_index", // df-banded phrase posting lists
    "q104_lm_surprisal",  // integer floor-log2 LM code-length filter
    "q105_pmi_collocations", // rational-lift PMI over adjacent bigrams
    "q106_priority_sample", // weighted top-k + τ estimator
    "q107_session_window",  // native session_window sessionization
    "q108_histogram_quantiles", // bounded-state percentile synopsis
    "q109_media_resize",    // real BMP pixel-level downsample + reparse
    "q110_audio_frames",    // real WAV PCM frame sampling
    "q111_cms_heavy_hitters", // Count-Min frequency synopsis + top-k probe
    "q112_media_jpeg",      // real JPEG marker-walk dimension decode
    "q113_hashed_classifier", // hashing-trick linear quality classifier
    "q114_pagerank",        // 5-round integer PageRank over the click graph
    "q115_paragraph_dedup", // Dolma-style global keep-first paragraph dedup
    "q116_profile",         // one-pass column profiler report
    "q117_ann_rerank",      // quantized shortlist + exact float rerank
    "q118_triangles",       // degree-oriented distributed triangle count
    "q119_salted_join",     // explicit hot-key salted join (answer-invisible)
    "q120_salted_window",   // windowless salted partition totals
    "q121_image_ahash",     // perceptual aHash from real BMP pixels
    "q121b_image_neardup",  // 64-bit Hamming-banded image near-dup pairs
    "q122_record_linkage",  // multi-pass blocked entity resolution
    "q123_snapshot_diff",   // fingerprint-narrow corpus version diff
    "q124_label_prop",      // 3-round deterministic LPA communities
    "q125_image_canonical", // image pixels → aHash → pairs → components
    "q126_hashing_vectorize", // no-vocab feature-hashing doc vectors
    "q127_byte_chunks",     // codec-free payload chunk manifests
    "q128_rendezvous_shard", // row-local HRW stable shard map
    "q129_sorted_neighborhood", // rank-binned sorted-neighborhood ER
    "q130_decayed_engagement",  // exact power-of-two recency decay
    "q131_json_flatten",    // native from_json semi-structured flatten
    "q132_argmax_pergroup", // windowless skew-safe latest-per-key
    "q133_dedup_keep_best", // keep-longest near-dup canonicalization
    "q134_span_corruption", // T5 span masking, block-aligned sentinels
    "q135_hard_negatives",  // contrastive positive + hard-negative mining
    "q136_token_drift",     // cross-source distribution drift (integer L1)
    "q137_length_batches",  // padding-minimizing length-band batching
    "q139_cjk_neardup",     // codepoint-shingle MinHash on the CJK fixture
    "q140_bpe_merges",      // 8-round distributed BPE merge learning
    "q141_bpe_tokenize",    // corpus tokenization via the vocab join
    "q142_bigram_surprisal", // conditional -log2 P(cur|prev) word-order filter
    "q143_suffix_ranks",    // prefix-doubling generalized suffix array
    "q144_lcp_repeats",     // exact cross-doc repeats via the LCP rank walk
    "q145_backoff_trigram", // pruned Stupid Backoff trigram LM scoring
    "q146_phrase_scrub",    // corpus-derived stop-phrase dictionary scrub
    "q147_ann_pq",          // product-quantization ADC top-k
    "q147b_ann_pq256",      // PQ at production k=256, dense-packed LUT
    "q148_gram_novelty",    // crawl-order marginal-novelty weights
    "q149_tfidf_pairs",     // banded sparse TF-IDF doc-pair cosine
    "q150_multimodal_pack", // interleaved image-patch + text packing
    "q151_script_mix",      // unicode script histogram + homoglyph flag
    "q152_winsorize",       // rank-walk percentile clamp per source
    "q153_classifier_kappa", // Cohen's kappa between two filter stacks
    "q154_embed_cov",       // d x d covariance, row-local pair expansion
    "q155_url_dedup",       // URL canonicalization dedup groups
    "q156_centroid_cosine", // label-centroid pairwise cosine drift monitor
    "q157_trend_slope",     // per-source OLS drift slope, decimal rational
    "q158_robots_filter",   // host-join + prefix-residual disallow filter
    "q159_event_transitions", // per-user Markov transition matrix
    "q160_mixture_weights", // target-distribution source reweighting
    "q161_char_collision",  // native codepoint Simpson-index gate
    "q162_margin_mining",   // top-2 margin bitext alignment criterion
    "q163_gate_funnel",     // cumulative gate attrition per source
    "q164_event_funnel",    // ordered view->click->purchase funnel
    "q165_bpe_fertility",   // BPE pieces-per-word per language
    "q166_data_card",       // per-source released-corpus summary
    "q167_reliability",     // classifier calibration curve, ranked buckets
    "q168_k_anonymity",     // quasi-identifier suppression release gate
    "q169_crawl_schedule",  // per-host politeness fetch slots
    "q170_ann_ivfpq",       // IVFADC: residual coarse probes + in-cell ADC
    "q170b_ann_ivfpq_shuffle", // q170's forced SHUFFLE_HASH LUT attach (the 100 TB shape)
    "q171_k_generalize",    // k-anonymity generalization ladder
    "q172_noised_release",  // binomial-mechanism noised count release
    "q173_semantic_decontam", // embedding decontamination, gated broadcast
    "q173b_semantic_decontam_shuffle", // forced SHUFFLE_HASH twin (100 TB shape)
    "q174_leakage_safe_split", // cluster-rep-keyed train/val/test split
    "q176_top_pc",          // covariance pass + driver power iteration
    "q177_pc_projection",   // row-local PCA projection scores
    "q181_vocab_growth",    // Heaps curve: per-term min+count, bucket rollup
    "q184_cdc_chunks",      // content-defined chunking dedup report
    "q185_conjunctive_search", // boolean-AND BM25 retrieval
    "q187_distinctive_terms",  // per-group c-TF-IDF lift panel
    "q192_data_card_v2",    // composite per-source release panel
    "q194_dedup_minhash_scaled", // 30-hash 6x5 banding (the 100 TB dedup profile)
    "q195_winnow_fingerprints", // MOSS winnowing: row-local window-min selection
    "q196_winnow_neardup",  // winnow fingerprint pairs, df-capped equi-join
    "q197_dsir_weights",    // rational DSIR weights + importance resample
    "q198_c4_line_filter",  // C4 line rules: one row-local array projection
    "q199_dedup_minhash_tokens", // token-shingle LSH (the saturated-universe fix)
    "q200_fim_transform",   // FIM rearrangement: one row-local projection
    "q201_ict_pairs",       // ICT query/context pairs: one row-local projection
    "q_tpch_09",            // 6-way join + derived partsupp + agg (widest TPC-H shape)
    "q_tpch_21")            // 4-way + EXISTS/NOT-EXISTS semi/anti stack
  // q96_containment is excluded with q43 (same deliberately-quadratic
  // exact-pair cost model; its scale path is banding, i.e. q44's).
  // q138_dedup_eval joins q44 against that same exact baseline, so it
  // inherits q43's exclusion (an audit you run on a bounded slice).
  // q91_range_join_binned stays oracle-only: its TRUE pair cardinality at
  // sf0.1 is ~2.6e8 (every lineitem × ~440 orders in its 7-day window) —
  // a semantics-driven volume, not plan overhead; benching it would time
  // the data, not the operator.
  //
  // Round-12 gates not in the headline set — the no-silent-caps doctrine
  // applied to this list itself, one line each:
  // - q175_mmr_select: k driver rounds over a pre-capped <=256-row
  //   shortlist — times the selection loop, not a distributed operator
  //   (its corpus stage is q47's brute scan, already headline).
  // - q178_water_fill / q182_apportion_slots: integer windows over the
  //   |strata|-row relation (~20 rows); the corpus-side token sum is the
  //   same map-side-combinable pass every token-stat headline times.
  // - q179_label_model: |labelers|^2-cell agreement rollup — a bounded
  //   report, no scale-sensitive structure beyond one corpus count pass.
  // - q180_cluster_weights: rollup over q66's cluster relation; the real
  //   work is q44 pairs + q66b clustering, both headline.
  // - q183_ann_recall_report: joins two ANN outputs (truth vs candidate,
  //   k rows/query) — a report ON operators that are timed elsewhere
  //   (q47/q48/q147/q170 are all headline).
  // - q186_canary_audit: regexp scan + match-cardinality rollup; scan
  //   cost is the q49/q69 text-scan class, both headline.
  // - q188_benford: 9-cell first-digit rollup over lineitem — one
  //   map-side count, nothing scale-sensitive to guard.
  // - q189_readability: row-local regex/ratio projection fused into the
  //   scan — the q49 lang-ID class (headline); q192 also times it as its
  //   Flesch input leg.
  // - q190_mean_pool: one map-side (group, dim) sum; q154's covariance
  //   headline already times the strictly heavier embedding-explode.
  // - q191_apportioned_sample: q182's allocation + the q73 md5 rank —
  //   per-stratum window class timed by the q82 rank gate headline.
  // - q193_dedup_transitivity: audit over q44/q66 outputs (1-row scalar
  //   crossJoins); the corpus work is q44 + q66b, both headline.
  // - q202_dedup_profile: a bounded 2048-doc probe (one top-k scan +
  //   three sample-sized aggregates) — times the sample, not a
  //   corpus-scale operator; it IS in the sf0.1 oracle-gate subset.
  // - q203_dedup_auto: probe + dispatch = q202's bounded probe + q199's
  //   token chain on this corpus; both components are timed (q199
  //   headline, probe excluded per q202's line above), so the composite
  //   would double-count q199's volume.
  // - q204_dedup_canonical_auto: q203's chain + the q78-shape cluster/
  //   keep join, whose corpus-scale legs are timed by q199 and
  //   q66b/q78 — same double-count rationale.
  // - q205_dedup_index_auto (r16): q202's bounded probe at index-build
  //   time + q81's incremental chain under token shingles — q81 is
  //   headline and times the incremental machinery; the probe is excluded
  //   per q202's line above.
  // Forced-fallback twins (q44b/q70b/q72b/q81b/q120b) duplicate their
  // default entries' volume with a pinned physical strategy — headline
  // keeps the default; the exceptions are q170b/q173b, where the forced
  // SHUFFLE path IS the 100 TB shape and therefore the one to guard.

  /** Fixed CPU-bound microloop (xorshift64* mix): single thread, no
    * allocation, deterministic instruction count, so its time moves only
    * with CPU contention or frequency, never with the code under test.
    * Returns (elapsed seconds, checksum) — the checksum defeats DCE.
    * 100M steps take ~0.2 s. */
  def calibrate(steps: Int = 100000000): (Double, Long) = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < steps) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545f4914f6cdd1dL
      i += 1
    }
    ((System.nanoTime() - t0) / 1e9, acc)
  }

  /** PARALLEL efficiency probe: nproc copies of the calibration loop run
    * concurrently; returns single-copy wall / parallel wall — 1.0 when
    * the container delivers its advertised cores, lower under host
    * co-tenancy or CPU quota. The r10 drift bisect (SCALING.md) showed
    * single-threaded calibration reading 1.0× while 32-way throughput
    * had dropped to 0.61, so the sweep takes both. */
  def parallelEfficiency(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val (serial, _) = calibrate()
    val threads = (1 to n).map { _ =>
      new Thread(() => { calibrate(); () })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    serial / wall
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val artifact = artifactPath(cpus)
    val spark = session()
    // Subset runs for diagnostics (QuerySelect); the full capture
    // leaves the filter unset. Selects from ALL registered queries, not
    // just the headline set — diagnostic tables need the forced twins
    // (q44b/q81b) the headline deliberately excludes.
    val selected: Seq[String] =
      if (QuerySelect.only.isEmpty) headline
      else (headline ++ SparkEntry.queries.keys.filterNot(headline.contains).toSeq.sorted)
        .filter(QuerySelect.selects)
    if (selected.isEmpty) {
      System.err.println(s"[bench] the query filter ${QuerySelect.only.get.mkString(",")} matched no queries")
      spark.stop()
      sys.exit(2)
    }

    def runOnce(name: String): Double = {
      // Drop cached intermediates from PREVIOUS runs before starting the
      // clock (same hygiene ScalingBench measured as necessary: with the
      // 45-query sweep, accumulated storage pressure slowed later queries
      // ~2× via eviction/GC — measurement noise, not operator cost; the
      // r7 contaminated capture showed q85 at 22-68 s vs 3.1 s clean).
      // Operators release their own persists in try/finally, so anything
      // still cached here is stale by definition.
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
      }
    }

    runOnce(selected.head) // warmup: JIT, codegen cache, FS metadata
    calibrate() // JIT-compile the loop too, so its first reading is not the cold one
    val (calStart, _) = calibrate()
    val peStart = parallelEfficiency()
    val sweepT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - sweepT0) / 1e9
    val results = scala.collection.mutable.ArrayBuffer[(String, Seq[Double], Double)]()

    // Fields both lines carry. `end` = the end-of-sweep (calibration,
    // parallel efficiency); None while the sweep is in progress.
    def summary(end: Option[(Double, Double)]): String = {
      val total = results.map(_._3).filter(_ >= 0).sum
      val failed = results.filter(_._3 < 0).map("\"" + _._1 + "\"").mkString("[", ",", "]")
      val (calEnd, peEnd) = end.getOrElse((0.0, 0.0))
      def drift(a: Double, b: Double) = if (b > 0) math.max(a, b) / math.min(a, b) else 0.0
      val (calDrift, peDrift) = (drift(calStart, calEnd), drift(peStart, peEnd))
      val contaminated = calDrift > DriftLimit || peDrift > DriftLimit
      f""""value":$total%.3f,"unit":"sec","sf":"$sfDir","measured":${results.size},"of":${selected.size}""" +
      f""","failed":$failed,"contaminated":$contaminated""" +
      f""","calibration":{"start_sec":$calStart%.3f,"end_sec":$calEnd%.3f,"drift":$calDrift%.2f""" +
      f""","parallel_efficiency_start":$peStart%.2f,"parallel_efficiency_end":$peEnd%.2f""" +
      f""","parallel_efficiency_drift":$peDrift%.2f}"""
    }
    def fullLine(inProgress: String, end: Option[(Double, Double)]): String = {
      val qs = results.map { case (k, _, t) => "\"" + k + f"""":$t%.3f""" }.mkString("{", ",", "}")
      val runs = results.map { case (k, ts, _) =>
        "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      """{"metric":"total_full",""" + summary(end) +
      f""","partial":${end.isEmpty}""" +
      (if (inProgress.nonEmpty) s""","in_progress":"$inProgress"""" else "") +
      f""","budget_sec":$BudgetSec%.0f,"elapsed_sec":$elapsed%.1f""" +
      f""","demoted_queries":${results.count(_._2.size < 3)},"queries":$qs,"runs":$runs}"""
    }
    // Full sweeps write the line to the repo-root artifact (before every
    // query, then once more at the end); subset runs never write it, so
    // they cannot masquerade as a full capture.
    def writeArtifact(line: String): Unit =
      if (QuerySelect.only.isEmpty)
        try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
          (line + "\n").getBytes("UTF-8"))
        catch { case e: Exception =>
          System.err.println(s"[bench] artifact write skipped: ${e.getMessage}") }

    for (name <- selected) {
      writeArtifact(fullLine(inProgress = name, end = None))
      val (ts, t) = measure(elapsed, () => runOnce(name))
      results += ((name, ts, t))
    }
    val end = Some((calibrate()._1, parallelEfficiency()))

    val line = fullLine(inProgress = "", end = end)
    writeArtifact(line)
    val failed = results.filter(_._3 < 0).map(_._1)
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED: ${failed.size} queries errored: " + failed.mkString(","))
    println(line)
    // COMPACT summary line, printed LAST: the full line (~20 KB at 142
    // queries) outgrows a 2000-char output tail, so this one keeps the
    // totals, the drift evidence and the failures and names the artifact
    // that holds the per-query map. No "queries" key on purpose — a
    // truncated per-query subset could read as dropped queries downstream.
    println("""{"metric":"total",""" + summary(end) +
      s""","compact":true,"full_line":"$artifact"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
