package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
 * prints the full JSON line {"metric":"total_full","value","unit","queries",
 * "sf",...}, then a compact {"metric":"total",...} summary line last.
 *
 * Each query is forced through the noop DataSourceV2 sink — unlike
 * count(), noop computes every output column (count() lets Catalyst prune
 * the projections away, which would under-report expression-heavy
 * queries). One warmup query amortizes JIT/codegen/FS-cache startup so
 * per-query numbers reflect steady-state throughput, which is what a
 * long-running cluster job sees.
 *
 * Contamination evidence: a capture on a loaded machine is not a code
 * regression, but medians alone can't tell the two apart (BENCH_r05
 * recorded 43 s for a binary that measures 19 s idle). The guards:
 *  - "runs": every per-run time is printed, not just the median;
 *  - "calibration": a fixed single-threaded CPU microloop is timed before
 *    and after the sweep — pure arithmetic, no allocation, so its time
 *    moves only with CPU contention/frequency, never with code under
 *    test — and a SHORT probe of the same loop runs between queries, so
 *    every query carries its own before/after calibration window;
 *  - "job window" (r15): a SHORT job-latency probe (median of 5 trivial
 *    32-partition jobs) runs at every query boundary too — the r14 drift
 *    mode (driver/scheduler latency inflating many-job queries 1.3-2×
 *    while the register-loop calibration stayed flat all day) was
 *    invisible to the CPU probe by construction; now each query's window
 *    carries both signals;
 *  - "parallel_efficiency" (r10): nproc concurrent calibration loops vs
 *    one — catches host co-tenancy/CPU-quota drift that the
 *    single-threaded loop is blind to (the r10 bisect: calibration 1.0×
 *    while 32-way throughput sat at 0.61, uniformly inflating every
 *    shuffle-parallel query ~1.3× vs the r8 capture). An environment
 *    property for cross-round normalization, not a contamination flag.
 *
 * Acceptance is PER QUERY (r13 verdict #1 — the all-or-nothing sweep
 * verdict spent 3×142×3 runs under co-tenancy and blessed nothing): a
 * query's median is CLEAN when its own steady-state runs pass the spread
 * gate AND its calibration window is quiet relative to the session's best
 * probe AND its job-latency window is quiet relative to the session's
 * MEDIAN job probe. Attempt 1 sweeps everything; later attempts re-run
 * ONLY the dirty queries. EVERY measurement is retained (r14 advisor: an
 * interim keep decision against a stale probe floor could discard a
 * measurement that the final floor would call clean); the committed line
 * picks, per query, the best measurement against the FINAL session
 * stats. "contaminated" is true only if some query NEVER produced a
 * clean median — in which case its least-dirty attempt is reported with
 * the flag visible in both printed lines. A completed-but-noisy sweep
 * exits 0 (r16 verdict #1: nonzero is reserved for deterministic
 * failures; rc=1 on honest noise made three consecutive driver captures
 * unreadable), and main() additionally prints a COMPACT (<1 KB) summary
 * line last so the driver's 2000-char output tail always ends with one
 * parseable JSON object.
 *
 * A query whose runs ERROR (median -1) is a deterministic failure, not
 * noise: it is not re-measured, it is excluded from the totals, and it is
 * reported in the top-level "failed" list with a non-zero exit (r14
 * advisor: it used to be classified clean and silently excluded, so a
 * broken query could not fail the artifact).
 *
 * WALL BUDGET + INCREMENTAL ARTIFACT (r15 verdict #1): the r15 driver
 * capture timed out (rc=124) with ZERO data — the line was only emitted
 * after a completed sweep and nothing bounded the sweep's cost. Now (a)
 * the structured line is flushed to [[artifactPath]] before EVERY
 * query (full sweeps only), marked "partial":true and carrying
 * "in_progress" = the query being measured, so an external kill still
 * leaves totals-so-far + provenance + the culprit query; (b) a wall
 * budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 780 s) shapes the run
 * plan up front (planRuns over the prior capture's medians: stable
 * frozen queries at 2 runs, expensive queries demoted first) and
 * degrades reactively mid-sweep (past 80% of budget: 2 runs; past 100%:
 * 1 run, re-attempts stop) — every query still gets measured at least
 * once, and the final line lands "partial":false with "demoted_queries"
 * counting the degradations. Reduced (<3-run) measurements report the
 * LAST run as median (run 1 is per-query codegen/JIT warmup — measured
 * 1.4× on q143); their spread gate goes inert, but the cal/job boundary
 * windows still gate contamination.
 *
 * CROSS-ROUND NORMALIZATION (r14 verdict #2): the per-capture environment
 * probes (PE, memProbe, jobProbe) describe the host but don't rescale the
 * numbers; attributing a 194→319 s swing still cost a day of manual
 * forensics. The capture now carries a pinned CONTROL-QUERY set —
 * bytecode-stable queries with reference medians from the quietest
 * committed capture (r13, PE 0.76) — and emits their observed/reference
 * ratios, the median ratio, and `control_adjusted_total_sec` =
 * total / median-ratio. Cross-round comparisons read the adjusted figure;
 * the per-control ratios expose any single control that moved for real
 * (a structural outlier among flat siblings is a code regression in THAT
 * query, not drift — exactly the r14 q_tpch_09 question). If a round
 * touches a control query's code path, its reference must be re-pinned
 * from the next quiet capture and the change called out in SCALING.md.
 */
object Bench {

  /** Per-QUERY attempts before giving up on that query. Re-runs touch
    * only dirty queries (seconds each), so this can sit well above the
    * old whole-sweep cap of 3; a transient load excursion clears within
    * one or two re-runs, sustained load fails them all — the honest
    * outcome. */
  val MaxAttempts = 5

  /** A query's calibration window is quiet when the probes around its
    * run block are within this factor of the session's fastest probe —
    * the same 1.5× the old capture-level drift gate used. (Sustained
    * whole-session contention keeps all probes uniformly high and is the
    * parallel-efficiency probe's job to expose, as before.) */
  val CalQuietRatio = 1.5

  /** A query's JOB window is quiet when the short job-latency probes
    * around its run block are within this factor of the session's MEDIAN
    * job probe (median, not min: job latency is right-skewed — GC pauses
    * and scheduler jitter put a long tail on even an idle session, and a
    * min floor would false-dirty half the sweep). The r14 drift episode
    * measured session medians of 15.4 → 26.9 ms between quiet and
    * inflated captures — a 1.75× excursion — while within-capture noise
    * stayed well inside 1.5×. */
  val JobQuietRatio = 1.5

  /** Absolute excess floor for the job-window gate, the analog of the
    * spread gate's 1 s floor: a 6→10 ms window excursion is scheduler
    * jitter, not drift, even though its ratio is 1.67. Both the ratio
    * AND this absolute excess must trip before a window is dirty. */
  val JobQuietExcessMs = 8.0

  /** Measured JIT tiering tail: a query's steady-state runs improve by at
    * most ~2.3× as C2 finishes (5.8→3.9→1.7 s observed on q45). A
    * later-run improvement beyond this (+ margin) means the EARLIER run
    * was contended, not that the code warmed up. The flag threshold is
    * DERIVED from the ceiling so re-measuring the tail moves the guard
    * with it (the old hardcoded 3.0 left (2.3, 3.0] unmonitored). */
  val JitImprovementCeiling = 2.3
  val ImprovementFlagRatio = JitImprovementCeiling + 0.2

  /** Pinned control set for cross-round normalization: bytecode-stable,
    * diverse in drift sensitivity (many-job iterative: q143/q176; wide
    * multi-join: q_tpch_09/q_tpch_21; shuffle-LUT ANN: q170 — the r14
    * drift inflated exactly these shapes). Reference medians are the r13
    * committed capture (BENCH_r13_local.json, PE 0.76 — the quietest
    * blessed capture containing all five). Re-pin on any round that
    * touches one of these code paths. */
  val Controls: Map[String, Double] = Map(
    // q143 RE-PINNED r16: its code path changed this round (SuffixIndex
    // startWidth-32 build — the round's headline optimization), so the
    // r13 reference (9.433) no longer describes the same computation.
    // New reference from the round-16 post-change capture on a quiet
    // host (control_ratio of the other four ≈ 0.97, PE 0.73).
    "q143_suffix_ranks" -> 7.094,
    // q176 RE-PINNED r16 for the same reason: embeddingCovariance (its
    // corpus-scale leg) was rewritten this round. 0.571 measured in the
    // round-16 final full capture whose control median read 1.196 —
    // normalized to the quiet-host convention (0.571/1.196). Re-pin from
    // the next genuinely quiet committed capture (the r13-reference
    // convention; the median-of-5 is robust to this one ref being
    // approximate in the meantime).
    "q176_top_pc"       -> 0.477,
    "q170_ann_ivfpq"    -> 3.489,
    "q_tpch_09"         -> 1.067,
    "q_tpch_21"         -> 1.221)

  /** WALL BUDGET for the measurement loop, seconds
    * (SPARK_GRAFT_BENCH_BUDGET_SEC). The r15 driver capture died at
    * rc=124 with ZERO data: 142 queries × 3 runs + re-attempts no longer
    * fit the driver's cap on a drift-degraded host, and the structured
    * line was only emitted after a COMPLETED sweep. The budget is the
    * in-process defense: plan runs to fit it ([[planRuns]]), stop
    * re-attempts when it runs out, and flush the line incrementally so
    * even an external kill leaves totals-so-far. Default 780 s keeps the
    * full sweep + re-attempts + startup well inside the ~1200 s the r14
    * capture's 1019 s squeaked under. */
  def budgetSec: Double = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
    .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(780.0)

  /** Queries measured at TWO runs (steady-state = run 2) instead of three
    * (r15 verdict #2): bytecode-frozen operators with flat committed
    * medians across r13–r15 whose code paths this round did not touch —
    * the sweep's most expensive fixed cost (q144+q143 alone are 16% of
    * r15's wall). ONE run is not an option for these: run 1 carries
    * per-query codegen/JIT warmup (r15 measured q143 at 17.2 s run-1 vs
    * 12.5/10.2 steady — a 1.4× bias that would poison the control
    * ratios), so the reduced form still pays one warmup run and MEASURES
    * the second. The spread gate needs ≥2 steady runs and goes inert at
    * 2 total; the cal/job boundary windows still gate contamination.
    * Maintenance rule as for [[Controls]]: a round that touches one of
    * these code paths must drop it from the set for that round. */
  val StableTwoRuns: Set[String] = Set(
    // q143/q144 DROPPED for r16 per the maintenance rule below: this
    // round rebuilt SuffixIndex.build (startWidth-32 round 1) — they
    // re-earn the 2-run form once their new medians prove flat across
    // committed captures.
    "q170_ann_ivfpq", "q170b_ann_ivfpq_shuffle") // SimilaritySearch/PqKernels, frozen since r12

  /** Plan measured runs per query against the wall budget (r15 verdict
    * #1/#2). Estimates are prior-capture medians (a query without one
    * uses the median of the known estimates); stable queries start at 2
    * runs, the rest at 3; then while the projected sweep cost exceeds
    * the budget, the most expensive 3-run query is demoted to 2 (one
    * demotion buys the most seconds), and only if ALL queries are at 2
    * does the plan degrade further to 1 (warmup-biased — the flagged
    * emergency form, better than the rc=124 alternative of no data).
    * `overheadSec` models the per-query boundary probes. */
  def planRuns(order: Seq[String], est: Map[String, Double],
               stable: Set[String], budget: Double,
               overheadSec: Double = 0.25): Map[String, Int] = {
    val known = est.values.filter(_ > 0).toSeq.sorted
    val fallback = if (known.isEmpty) 1.0 else known(known.size / 2)
    def e(q: String): Double = est.get(q).filter(_ > 0).getOrElse(fallback)
    val runs = scala.collection.mutable.LinkedHashMap(
      order.map(q => q -> (if (stable(q)) 2 else 3)): _*)
    def projected: Double = order.map(q => e(q) * runs(q) + overheadSec).sum
    var floor = 2
    while (projected > budget && runs.exists(_._2 > floor)) {
      val victim = order.filter(q => runs(q) > floor).maxBy(e)
      runs(victim) = floor
      if (!runs.exists(_._2 > floor) && projected > budget && floor == 2) floor = 1
    }
    runs.toMap
  }

  val DefaultCpus = "32"

  /** The full-sweep artifact for a core count: the default count writes
    * BENCH_latest_local.json, any other BENCH_latest_local_c<N>.json, so a
    * c8 capture never overwrites the default one (and plans its budget
    * from its own prior medians). */
  def artifactPath(cpus: String): String =
    if (cpus == DefaultCpus) "BENCH_latest_local.json"
    else s"BENCH_latest_local_c$cpus.json"

  /** Per-query medians of the last committed full capture
    * (BENCH_latest_local.json's "queries" object) — [[planRuns]]'s
    * projection source. Flat "name":float pairs, so a tiny hand parser
    * suffices; absent/malformed file → empty map (the plan then
    * projects on the fallback estimate). */
  def priorMedians(path: String): Map[String, Double] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val i = s.indexOf("\"queries\":{")
      if (i < 0) Map.empty
      else {
        val body = s.substring(i + 11, s.indexOf('}', i))
        """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Exception => Map.empty }

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

  /** The job-window acceptance rule (r14 verdict #7), static so
    * BenchProbeSpec can pin it: a query's window is job-dirty only when
    * its worst boundary job probe exceeds the session median by BOTH the
    * ratio gate and the absolute excess floor. */
  def jobWindowDirty(windowMaxMs: Double, sessionMedMs: Double): Boolean =
    windowMaxMs / sessionMedMs > JobQuietRatio &&
      windowMaxMs - sessionMedMs > JobQuietExcessMs

  /** Control-set normalization (r14 verdict #2), static for the spec and
    * for offline re-analysis of committed captures: per-control
    * observed/reference ratios (controls missing from `observed` or with
    * non-positive medians are skipped) and their median — the rescale
    * factor for `control_adjusted_total_sec`. */
  def controlAdjust(observed: Map[String, Double])
      : (Double, Seq[(String, Double)]) = {
    val ratios = Controls.toSeq.sortBy(_._1).flatMap { case (n, ref) =>
      observed.get(n).filter(_ > 0).map(m => n -> m / ref)
    }
    if (ratios.isEmpty) (0.0, ratios)
    else {
      val s = ratios.map(_._2).sorted
      val med = if (s.size % 2 == 1) s(s.size / 2)
                else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      (med, ratios)
    }
  }

  /** Fixed CPU-bound microloop (xorshift64* mix): single thread, no
    * allocation, deterministic instruction count. Returns (elapsed
    * seconds, checksum) — the checksum defeats DCE. 100M steps for the
    * capture-level calibration (~0.2 s), [[ProbeSteps]] for the
    * per-query windows. */
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

  /** Per-query probe length: ~0.1 s — long enough that scheduler jitter
    * is noise on the measurement, short enough that 143 windows add
    * ~15 s to a 3-minute sweep. */
  val ProbeSteps = 50000000

  /** PARALLEL efficiency probe: nproc copies of the calibration loop run
    * concurrently; returns single-copy wall / parallel wall — 1.0 when
    * the container delivers its advertised cores, lower under host
    * co-tenancy or CPU quota. The r10 drift bisect (SCALING.md) showed
    * single-threaded calibration reading 1.0× while 32-way throughput
    * had dropped to 0.61 — invisible to every earlier capture. Reported
    * per capture so cross-ROUND comparisons can normalize shuffle-bound
    * queries; not part of the contamination flag (co-tenancy is an
    * environment property, not a dirty capture). */
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

  /** MEMORY-BANDWIDTH probe (r14): strided sum over a 64 MiB long array,
    * 3 passes — moves with DRAM/LLC bandwidth, which the pure-register
    * calibration loop never touches. The r14 drift episode motivated it:
    * two clean captures read 1.22× the r13 wall at IDENTICAL calibration
    * and parallel-efficiency numbers, with the inflation concentrated in
    * memory/scheduling-heavy queries — a drift mode both existing probes
    * are blind to. Reported as environment metadata (like PE), not a
    * contamination flag. Returns seconds; the checksum defeats DCE. */
  def memProbe(): Double = {
    val n = 8 * 1024 * 1024 // longs = 64 MiB
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    val t0 = System.nanoTime()
    var acc = 0L
    var pass = 0
    while (pass < 3) {
      // full-cycle strided walk: 137 is odd, n a power of two, so
      // (j + 137) mod n visits every element once per pass at a
      // prefetch-hostile ~1.1 KiB stride
      var j = 0
      var k = 0
      while (k < n) { acc += a(j); j = (j + 137) & (n - 1); k += 1 }
      pass += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42) System.err.println("") // defeat DCE
    dt
  }

  /** JOB-LATENCY probe (r14): median wall of `jobs` trivial 32-partition
    * Spark jobs — captures driver scheduling + task-launch latency +
    * executor-thread steal, the per-job overhead that multiplies in
    * many-job queries (iterative CC, localCheckpoint barriers, codebook
    * training) and that the r14 drift inflated while single-job scans
    * stayed flat. Milliseconds. The 20-job form is the capture-level
    * environment metadatum; the 5-job form runs at every query boundary
    * for the per-query window gate (~75 ms per boundary — the job-window
    * analog of the short CPU probe). */
  def jobProbe(spark: SparkSession, jobs: Int = 20): Double = {
    val times = (1 to jobs).map { _ =>
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(0 until 32, 32).count()
      (System.nanoTime() - t0) / 1e6
    }
    times.sorted.apply(times.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", DefaultCpus)
    val artifact = artifactPath(cpus)
    val spark = EngineContext.session(s"local[$cpus]")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // Ad-hoc session conf (diagnostic captures only — e.g. the r15 guard
    // on/off table sets graft.dedup.candidatePairBudget=0): "k=v;k=v".
    sys.env.get("SPARK_GRAFT_SESSION_CONF").foreach { kvs =>
      kvs.split(';').filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      }
    }
    // Subset runs for diagnostics (comma-separated prefixes, the
    // SPARK_GRAFT_ONLY convention); the driver's full capture leaves it
    // unset. Selects from ALL registered queries, not just the headline
    // set — diagnostic tables (e.g. the r15 guard-cost table) need the
    // forced twins (q44b/q81b) the headline deliberately excludes.
    // Controls/adjusted metrics are emitted only when present.
    val selected: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(sel) =>
        val pats = sel.split(',').map(_.trim).filter(_.nonEmpty)
        val all = headline ++
          SparkEntry.queries.keys.filterNot(headline.contains).toSeq.sorted
        all.filter(q => pats.exists(q.startsWith))
      case None => headline
    }
    // Fail fast on an empty selection (r15 advisor): the min-of-empty
    // probe/spread reductions below would otherwise throw an obscure
    // empty-collection exception instead of naming the unmatched patterns.
    if (selected.isEmpty) {
      System.err.println("[bench] SPARK_GRAFT_BENCH_ONLY matched no queries: '" +
        sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "") + "'")
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

    // Median of 3 runs per query: single-run numbers carry ±0.3-0.5 s of
    // JIT/GC/plan-cache noise at these sub-10 s scales, enough to obscure
    // real regressions round-over-round.
    def runTimes(name: String, runs: Int = 3): Seq[Double] =
      Seq.fill(runs)(runOnce(name))
    // Steady-state median: 3-run measurements keep the classic median of
    // all runs (cross-round comparability of every existing capture);
    // reduced measurements (StableTwoRuns / budget demotions) report the
    // LAST run — run 1 is the query's own codegen/JIT warmup (r15
    // measured q143 at 17.2 s run-1 vs 12.5/10.2 steady), so a 2-run
    // measurement pays one warmup and measures the second.
    def median(times: Seq[Double]): Double =
      if (times.exists(_ < 0)) -1.0
      else if (times.size >= 3) times.sorted.apply(times.size / 2)
      else times.last
    def medianD(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    // spread = slowest/fastest STEADY-STATE run of one query (run 1 is
    // dropped: codegen/JIT warmup routinely triples it). A later-run
    // SLOWDOWN >2× is contention (JIT tiering keeps improving runs
    // monotonically — measured 5.8→3.9→1.7 s on q45). A later-run
    // IMPROVEMENT up to JitImprovementCeiling is that JIT tail; beyond
    // ImprovementFlagRatio it means the EARLIER run was contended — a
    // mid-sweep load spike reads as a big "improvement" and would
    // otherwise slip through (observed: q44 runs [8.3, 29.0, 4.2] under
    // a concurrent build). A flagged excursion still leaves the median
    // intact either way. The 1 s absolute-range floor keeps sub-second
    // jitter from false-flagging — machine-load distortion of the r5
    // kind moved individual queries by 5-14 s.
    def spreadOf(ts: Seq[Double]): Double = {
      val ok = ts.drop(1).filter(_ > 0)
      if (ok.size < 2) {
        // REDUCED (2-run) measurements (r16 measurement-bug fix): with one
        // steady run the old gate was inert, so a contended LAST run became
        // the blessed median unchallenged — the r16 baseline capture
        // blessed q143 at 40.8 s off runs [12.9, 40.8] on a quiet host
        // (every boundary probe silent). Run 1 is warmup-biased (≤
        // JitImprovementCeiling faster later is expected), so an
        // IMPROVEMENT says nothing — but run 2 SLOWER than the warmup run
        // beyond the 2× trigger (and the 1 s floor) is contention by
        // construction, the same monotone-JIT argument the 3-run gate
        // uses. Flagging re-measures the query on the next attempt.
        val all = ts.filter(_ > 0)
        if (all.size < 2 || all.last - all.head <= 1.0) 1.0
        else math.max(1.0, all.last / all.head)
      }
      else if (ok.max - ok.min <= 1.0) 1.0
      else {
        val ratio = ok.max / ok.min
        val slowdown = ok.indexOf(ok.max) > ok.indexOf(ok.min)
        // normalize both signals onto the >2.0 trigger scale
        if (slowdown) ratio
        else if (ratio > ImprovementFlagRatio) ratio * 2.0 / ImprovementFlagRatio
        else 1.0
      }
    }

    /** One boundary's probe pair: the short CPU loop + the short job
      * probe. `after` is shared with the next query's `before` — one
      * probe pair per boundary. */
    final case class Probe(calSec: Double, jobMs: Double)

    /** One query's measurement: its runs plus the probe window around
      * them. */
    final case class QMeasure(runs: Seq[Double], before: Probe,
                              after: Probe, attempt: Int) {
      val med: Double = median(runs)
      val spread: Double = spreadOf(runs)
      /** Worst window CPU probe vs the session's best probe. */
      def calRatio(bestProbe: Double): Double =
        math.max(before.calSec, after.calSec) / bestProbe
      /** Worst window job probe vs the session's MEDIAN job probe. */
      def jobRatio(jobMed: Double): Double =
        math.max(before.jobMs, after.jobMs) / jobMed
      /** Both the ratio and the absolute excess must trip (the
        * JobQuietExcessMs floor keeps ms-scale jitter from dirtying). */
      def jobDirty(jobMed: Double): Boolean =
        jobWindowDirty(math.max(before.jobMs, after.jobMs), jobMed)
      /** A failed query (-1 median) is a deterministic error, not noise
        * — report it (in "failed"), don't re-measure it. */
      def clean(bestProbe: Double, jobMed: Double): Boolean =
        med < 0 || (spread <= 2.0 && calRatio(bestProbe) <= CalQuietRatio &&
          !jobDirty(jobMed))
    }

    def probe(): Probe = Probe(calibrate(ProbeSteps)._1, jobProbe(spark, jobs = 5))

    runOnce(selected.headOption.getOrElse("q01_tpch_q1")) // warmup: JIT, codegen cache, FS metadata
    val (calStart, _) = calibrate()
    // Environment metadata at SWEEP START (r15 verdict #1): a killed
    // capture never reaches end-of-sweep probes, so the incremental
    // partial lines must carry the full calibration context up front.
    // (These used to run at the END; for PE/mem/job they describe the
    // host either way, and intra-sweep drift is what the per-query
    // boundary windows are for.)
    val parEff = parallelEfficiency()
    val memSec = memProbe()
    val jobMs = jobProbe(spark)
    val budget = budgetSec
    val sweepT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - sweepT0) / 1e9
    // Run plan against the budget (reserving 20% headroom for dirty-query
    // re-attempts); the committed prior capture provides the projection.
    val estimates = priorMedians(artifact)
    val runsPlan = planRuns(selected, estimates, StableTwoRuns, budget * 0.8)
    val plannedDemotions = selected.count(q =>
      runsPlan(q) < (if (StableTwoRuns(q)) 2 else 3))
    System.err.println(f"[bench] budget $budget%.0f s; planned " +
      f"${selected.map(runsPlan).sum} runs over ${selected.size} queries" +
      (if (plannedDemotions > 0) s" ($plannedDemotions budget-demoted)" else "") +
      (if (estimates.isEmpty) " [no prior capture — fallback estimates]" else ""))

    // Per-query acceptance across attempts: attempt 1 sweeps everything,
    // later attempts re-measure ONLY the queries whose window was dirty
    // (the JVM stays hot — re-runs are pure re-measurement). ALL
    // measurements are retained; selection happens against the CURRENT
    // session stats each time (and the committed line re-selects against
    // the FINAL stats — the r14 advisor fix: nothing is discarded at an
    // interim probe floor).
    val history = scala.collection.mutable.Map[String, Vector[QMeasure]]()
      .withDefaultValue(Vector.empty)
    val allProbes = scala.collection.mutable.ArrayBuffer[Probe]()
    def bestProbe: Double = allProbes.map(_.calSec).min
    def jobMed: Double = medianD(allProbes.map(_.jobMs).toSeq)
    /** Best measurement for a query against given stats: clean beats
      * dirty; then smaller spread; then quieter CPU window; then quieter
      * job window. */
    def pick(name: String, bp: Double, jm: Double): QMeasure =
      history(name).minBy(m => (if (m.clean(bp, jm)) 0 else 1, m.spread,
        m.calRatio(bp), m.jobRatio(jm)))

    var reactiveDemotions = 0
    var attemptSoFar = 0

    // ---- INCREMENTAL artifact emission (r15 verdict #1): the whole JSON
    // line is rebuildable at any boundary from history + current session
    // stats, and full-sweep runs flush it to the repo-root file BEFORE
    // every query starts (carrying "in_progress" = that query). A capture
    // killed by the driver's wall cap — the r15 rc=124, which left ZERO
    // data — now leaves totals-so-far, per-query provenance, and the name
    // of the query it died in. Subset (diagnostic) runs still never write
    // the file, so they cannot masquerade as a full capture.
    val fullSweep = sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty
    def buildLine(partial: Boolean, inProgress: String, calEnd: Double): String = {
      val (bpF, jmF) = (bestProbe, jobMed)
      val results = selected.filter(history(_).nonEmpty)
        .map(n => n -> pick(n, bpF, jmF))
      val failed = results.filter(_._2.med < 0).map(_._1)
      val dirty = results.filter { case (_, m) => !m.clean(bpF, jmF) }
      // a PARTIAL line's unmeasured remainder is not "clean": the
      // contaminated flag only means something for the final selection
      val contaminated = dirty.nonEmpty
      val spreadMax =
        if (results.isEmpty) 1.0 else results.map(_._2.spread).max
      val calDrift =
        if (calEnd > 0) math.max(calStart, calEnd) / math.min(calStart, calEnd)
        else 0.0
      val total = results.map(_._2.med).filter(_ >= 0).sum
      // PE-NORMALIZED total: wall × parallel efficiency = the core-seconds
      // the host actually delivered. Cross-round comparisons should read
      // THIS number — the r10→r11 "regressions" were pure PE drift
      // (0.61→0.78 across captures with identical code); normalizing at
      // the source ends that forensics (VERDICT r10/r11 ask).
      val effTotal = total * parEff
      // CONTROL-SET normalization (r14 verdict #2): observed/reference per
      // pinned control, median ratio, and the rescaled total. The median is
      // robust to one control moving for REAL (which the per-control ratios
      // then expose as the outlier).
      // controlRatio 0.0 = "no controls in this (subset/partial) run" —
      // never NaN, which would break the JSON line
      val (controlRatio, controlRatios) =
        controlAdjust(results.map { case (k, m) => k -> m.med }.toMap)
      val adjTotal = if (controlRatio > 0) total / controlRatio else 0.0

      val qs = results.map { case (k, m) => "\"" + k + f"""":${m.med}%.3f""" }
        .mkString("{", ",", "}")
      val runsJson = results.map { case (k, m) =>
        "\"" + k + "\":[" + m.runs.map(t => f"$t%.3f").mkString(",") + "]"
      }.mkString("{", ",", "}")
      // Per-query provenance (r13 verdict #1's "done" shape): which attempt
      // produced the accepted median, whether it was clean, and its three
      // acceptance signals — so a reader can audit any number in "queries"
      // without re-deriving the gates.
      val provJson = results.map { case (k, m) =>
        "\"" + k + f"""":{"attempt":${m.attempt},"clean":${m.clean(bpF, jmF)},""" +
          f""""spread":${m.spread}%.2f,"cal_ratio":${m.calRatio(bpF)}%.2f,""" +
          f""""job_ratio":${m.jobRatio(jmF)}%.2f}"""
      }.mkString("{", ",", "}")
      val controlsJson = controlRatios.map { case (n, r) =>
        "\"" + n + f"""":$r%.3f""" }.mkString("{", ",", "}")
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")

      f"""{"metric":"total_full","value":$total%.3f,"effective_core_sec":$effTotal%.3f""" +
      f""","control_ratio":$controlRatio%.3f,"control_adjusted_total_sec":$adjTotal%.3f""" +
      f""","controls":$controlsJson,"failed":$failedJson,"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
      f""","partial":$partial,"measured":${results.size},"of":${selected.size}""" +
      (if (inProgress.nonEmpty) s""","in_progress":"$inProgress"""" else "") +
      f""","budget_sec":$budget%.0f,"elapsed_sec":$elapsed%.1f""" +
      f""","demoted_queries":${plannedDemotions + reactiveDemotions}""" +
      f""","runs":$runsJson,"calibration":{"start_sec":$calStart%.3f,"end_sec":$calEnd%.3f,"drift":$calDrift%.2f""" +
      f""","parallel_efficiency":$parEff%.2f,"best_probe_sec":$bpF%.3f""" +
      f""","mem_probe_sec":$memSec%.3f,"job_probe_ms":$jobMs%.1f,"job_probe_med_ms":$jmF%.1f}""" +
      f""","spread_max":$spreadMax%.2f,"contaminated":$contaminated,"attempt":$attemptSoFar""" +
      f""","provenance":$provJson}"""
    }
    def flushArtifact(inProgress: String): Unit =
      if (fullSweep)
        try java.nio.file.Files.write(
          java.nio.file.Paths.get(artifact),
          (buildLine(partial = true, inProgress, calEnd = 0.0) + "\n")
            .getBytes("UTF-8"))
        catch { case e: Exception =>
          System.err.println(s"[bench] artifact write skipped: ${e.getMessage}") }

    var pending: Seq[String] = selected
    var attempt = 0
    var budgetStop = false
    while (attempt < MaxAttempts && pending.nonEmpty && !budgetStop) {
      attempt += 1
      attemptSoFar = attempt
      var before = probe()
      allProbes += before
      val it = pending.iterator
      while (it.hasNext && !(budgetStop && attempt > 1)) {
        val name = it.next()
        // Reactive budget guard (the plan projects on PRIOR-capture
        // medians; a drift-degraded host overruns them): past 80% of the
        // budget remaining queries drop to 2 runs, past 100% to 1 — every
        // query still gets measured, re-attempts stop, and the artifact
        // keeps flushing. Attempt 1 is never aborted outright: a partial
        // sweep with no median for a query is the rc=124 outcome again.
        val planned = runsPlan(name)
        val rq =
          if (elapsed > budget) 1
          else if (elapsed > budget * 0.8) math.min(planned, 2)
          else planned
        if (attempt > 1 && elapsed > budget) budgetStop = true
        else {
          if (rq < planned) reactiveDemotions += 1
          flushArtifact(inProgress = name)
          val ts = runTimes(name, rq)
          val after = probe()
          allProbes += after
          history(name) = history(name) :+ QMeasure(ts, before, after, attempt)
          before = after
        }
      }
      // re-evaluate with the attempt's final session stats: a probe that
      // looked quiet against an inflated early baseline is re-judged
      // against the true session floor (and vice versa for job medians)
      pending = selected.filter(n => !history(n).exists(_.clean(bestProbe, jobMed)))
      if (elapsed > budget) budgetStop = true
      System.err.println(f"[bench] attempt $attempt: ${selected.size - pending.size}/${selected.size} clean, " +
        f"best_probe=$bestProbe%.3f s, job_med=$jobMed%.1f ms, elapsed=$elapsed%.0f s" +
        (if (pending.nonEmpty) s", dirty: ${pending.take(8).mkString(",")}${if (pending.size > 8) ",…" else ""}" else "") +
        (if (budgetStop && pending.nonEmpty) " [budget exhausted — stopping re-attempts]" else ""))
    }
    val (calEnd, _) = calibrate()

    val (bpF, jmF) = (bestProbe, jobMed)
    val results = selected.map(n => n -> pick(n, bpF, jmF))
    val failed = results.filter(_._2.med < 0).map(_._1)
    val dirty = results.filter { case (_, m) => !m.clean(bpF, jmF) }
    val contaminated = dirty.nonEmpty
    val line = buildLine(partial = false, inProgress = "", calEnd = calEnd)
    if (contaminated)
      System.err.println(s"[bench] CONTAMINATED: ${dirty.size} queries never produced a clean " +
        s"median (completed sweep — reported with contaminated:true, exit 0): " +
        dirty.map(_._1).mkString(","))
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED: ${failed.size} queries errored deterministically: " +
        failed.mkString(","))
    println(line)
    // COMPACT summary line, printed LAST (r16 verdict #1): the full line
    // above (~23 KB at 142 queries) outgrows the driver's 2000-char output
    // tail, so BENCH_rN.json has carried "parsed":null since r14. This
    // line keeps the totals, the control normalization, and the failure
    // state under 1 KB so the tail capture ends with one parseable JSON
    // object; the per-query map stays in the full line and in the
    // committed [[artifactPath]] artifact (named here). No
    // "queries" key on purpose — a truncated per-query subset could read
    // as dropped queries downstream, absence cannot.
    locally {
      val total = results.map(_._2.med).filter(_ >= 0).sum
      val (controlRatio, _) =
        controlAdjust(results.map { case (k, m) => k -> m.med }.toMap)
      val adjTotal = if (controlRatio > 0) total / controlRatio else 0.0
      val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      println(
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir"""" +
        f""","control_ratio":$controlRatio%.3f,"control_adjusted_total_sec":$adjTotal%.3f""" +
        f""","effective_core_sec":${total * parEff}%.3f,"parallel_efficiency":$parEff%.2f""" +
        f""","measured":${results.size},"of":${selected.size},"contaminated":$contaminated""" +
        f""","failed":$failedJson,"compact":true,"full_line":"$artifact"}""")
    }
    // The driver's BENCH_rN.json records only a 2000-char tail of this
    // process's output, which the full JSON line outgrows ("parsed":
    // null every round — r14 verdict wrinkle #4; the driver side is not
    // editable). Full-sweep runs therefore ALSO write the structured
    // line to a stable repo-root file, which the driver's end-of-round
    // commit then lands in git automatically — now INCREMENTALLY at every
    // query boundary (r15 verdict #1), with this final overwrite landing
    // "partial":false. Subset (diagnostic) runs skip the write so they
    // can never masquerade as a full capture.
    if (fullSweep)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(artifact),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] artifact write skipped: ${e.getMessage}") }
    spark.stop()
    // Exit policy (r16 verdict #1): nonzero is reserved for DETERMINISTIC
    // failures (a query that errors every run, or an empty selection —
    // rc=2 above). A completed sweep whose medians never all went quiet is
    // honest data, visibly flagged contaminated:true in both printed lines
    // and absorbed by the driver's cross-round tolerance; exiting 1 on it
    // (the old behavior) converted honesty into a third consecutive round
    // of driver-side blindness (r14 tail overflow, r15 rc=124, r16 rc=1).
    if (failed.nonEmpty) sys.exit(1)
  }
}
