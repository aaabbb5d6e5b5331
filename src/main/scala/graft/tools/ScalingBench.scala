package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length}

import graft.SparkEntry
// SPARK_GRAFT_ONLY restricts the sweep and gates every section of main
import graft.QuerySelect.selects
import graft.operators.{Dedup, NearDupProfile}

/**
 * Scaling-curve evidence for the iterative/corpus-statistics operators:
 * generates a 10× documents corpus (50k docs — sf1-equivalent; the driver
 * testdata tops out at sf0.1 = 5k docs and is read-only), runs the
 * operators whose cost model needs MEASURED curves (q44 MinHash-LSH, q45
 * SimHash, q66b forced-distributed clustering, q70/q70b token rarity) at
 * both scales, and prints per-scale medians plus the structural counters
 * the 100 TB story rests on: pair counts (should grow ~linearly with the
 * planted dup rate), connected-components round count (should stay
 * O(log n)), and the q70 vocabulary byte estimate (should stay far under
 * the broadcast budget). Results are recorded in SCALING.md.
 *
 * The generated corpus mirrors the driver generator's shape (word-salad
 * text over a small common vocabulary + per-doc rare tokens, ~300 chars
 * avg, 2% planted near-duplicates as one-token mutations of the previous
 * doc) and is PURELY deterministic from doc_id, so both scales and both
 * runs see identical bytes. Generation happens in executors via a pure
 * function of the id — no driver-side data, no RNG state.
 */
object ScalingBench {

  private val CommonVocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "vector", "scan", "fast", "query", "agg", "slow", "value", "filter",
    "customer", "stream", "table", "join", "group", "window", "shuffle",
    "merge", "hash", "range", "index", "cache", "disk", "memory", "node",
    "stage", "task", "plan", "cost", "rule", "type", "null", "string",
    "double", "long", "byte", "read", "write", "skip", "prune", "bucket",
    "skew")

  /** splitmix64-style deterministic mix. */
  private def mix(a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    x ^= x >>> 32; x *= 0xD6E8FEB86659FD93L
    x ^= x >>> 32; x *= 0xD6E8FEB86659FD93L
    x ^= x >>> 32
    x
  }

  /** Base text for a doc id: 12..75 tokens; ~1 in 7 tokens is a rare
    * per-corpus token (w<k>), the rest draw from the common vocabulary —
    * zipf-ish head + long tail, like a crawled corpus.
    *
    * `heaps = true` switches to a Heaps-law-like distribution (HALF the
    * tokens rare, rare space ∝ nDocs): the default's fixed 48-word head
    * saturates the 3-gram space at ~100× corpus (collision density then
    * grows quadratically — a property of the synthetic distribution,
    * not of any operator), so the banded dedup ops need the realistic
    * mode to be measurable at large absolute scale. */
  private def baseText(id: Long, nDocs: Long, heaps: Boolean = false): String = {
    val n = 12 + (mix(id, 0).abs % 64).toInt
    val sb = new StringBuilder
    val rareMod = if (heaps) 2 else 7
    val rareSpace = math.max(if (heaps) nDocs else nDocs / 5, 1)
    var p = 0
    while (p < n) {
      val h = mix(id, p + 1)
      if (p > 0) sb.append(' ')
      if (h.abs % rareMod == 0)
        sb.append("w").append((h.abs / rareMod) % rareSpace)
      else sb.append(CommonVocab((h.abs % CommonVocab.length).toInt))
      p += 1
    }
    sb.toString
  }

  /** 2% of docs (id % 50 == 3) are near-duplicates: the PREVIOUS doc's
    * text with its first token replaced — Jaccard ≫ 0.7 on 3-gram
    * shingles, exactly the pair shape q44/q66 must find. */
  def docText(id: Long, nDocs: Long, heaps: Boolean = false): String =
    if (id % 50 == 3 && id > 0) {
      val t = baseText(id - 1, nDocs, heaps)
      "mutated" + t.dropWhile(_ != ' ')
    } else baseText(id, nDocs, heaps)

  private def generate(spark: SparkSession, dir: String, nDocs: Long,
                       heaps: Boolean = false): Unit = {
    import spark.implicits._
    val n = nDocs
    val hp = heaps
    spark.range(n).map { id =>
      val text = docText(id, n, hp)
      val langs = Array("en", "de", "fr", "es", "zh")
      (id, text, langs((mix(id, -1).abs % langs.length).toInt),
        "src" + (id % 16), text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** 64-dim float vector, purely deterministic from vec_id; components in
    * [-1, 1). */
  private def baseVec(id: Long): Array[Float] = {
    val v = new Array[Float](64)
    var j = 0
    while (j < 64) {
      v(j) = ((mix(id, 100 + j) % 1000) / 1000.0f)
      j += 1
    }
    v
  }

  /** 2% of vectors (id % 50 == 3) are near-duplicates of the previous
    * vector (one component nudged by 0.01 — cosine ≈ 1), the pair shape
    * q85's within-cluster dedup must find. */
  def embVec(id: Long): Array[Float] =
    if (id % 50 == 3 && id > 0) {
      val v = baseVec(id - 1); v(0) = v(0) + 0.01f; v
    } else baseVec(id)

  private def generateEmb(spark: SparkSession, dir: String, nVecs: Long): Unit = {
    import spark.implicits._
    // label mirrors the driver table's int32 label column (16 groups,
    // deterministic from id) — q156 centroid cosine groups on it
    spark.range(nVecs).map(id => (id, embVec(id), (mix(id, -2).abs % 16).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** The sweep list, hoisted so QueryPackSpec can assert every name is
    * a registered SparkEntry query — a typo here crashes the driver's
    * scaling capture, not CI, unless pinned (same failure mode as
    * Bench.headline, same test). */
  val sweep: Seq[String] = Seq(
      "q44_dedup_minhash_lsh",
      "q45_dedup_simhash",
      "q66b_dedup_clusters_dist",
      "q70_token_rarity",
      "q70b_token_rarity_shuffle",
      "q72_decontaminate",
      "q72c_decontaminate_bloom",
      "q76_curation_funnel",
      "q78_dedup_canonical",
      "q85_semantic_dedup",
      "q88_source_overlap",
      "q93_dup_spans",
      "q94_span_scrub",
      "q101_kmv_source_sim",
      "q103_inverted_index",
      "q104_lm_surprisal",
      "q105_pmi_collocations",
      "q115_paragraph_dedup",
      "q117_ann_rerank",
      "q120_salted_window",
      "q121b_image_neardup",
      "q123_snapshot_diff",
      "q126_hashing_vectorize",
      "q127_byte_chunks",
      "q128_rendezvous_shard",
      "q133_dedup_keep_best",
      "q134_span_corruption",
      "q136_token_drift",
      "q137_length_batches",
      "q139_cjk_neardup",
      "q140_bpe_merges",
      "q141_bpe_tokenize",
      "q142_bigram_surprisal",
      "q143_suffix_ranks",
      "q144_lcp_repeats",
      "q145_backoff_trigram",
      "q146_phrase_scrub",
      "q147_ann_pq",
      "q147b_ann_pq256",
      "q148_gram_novelty",
      "q149_tfidf_pairs",
      "q150_multimodal_pack",
      "q151_script_mix",
      "q152_winsorize",
      "q153_classifier_kappa",
      "q154_embed_cov",
      "q155_url_dedup",
      "q156_centroid_cosine",
      "q157_trend_slope",
      "q158_robots_filter",
      "q160_mixture_weights",
      "q161_char_collision",
      "q162_margin_mining",
      "q163_gate_funnel",
      "q166_data_card",
      "q167_reliability",
      "q168_k_anonymity",
      "q169_crawl_schedule",
      "q170_ann_ivfpq",
      "q170b_ann_ivfpq_shuffle",
      "q171_k_generalize",
      // round-12 tier (documents/embeddings shapes; q188 needs lineitem,
      // which the 10× generator does not mirror — its 9-cell aggregate
      // has no scale-sensitive structure anyway)
      "q172_noised_release",
      "q173_semantic_decontam",
      "q174_leakage_safe_split",
      "q175_mmr_select",
      "q176_top_pc",
      "q177_pc_projection",
      "q178_water_fill",
      "q179_label_model",
      "q180_cluster_weights",
      "q181_vocab_growth",
      "q182_apportion_slots",
      "q183_ann_recall_report",
      "q184_cdc_chunks",
      "q185_conjunctive_search",
      "q186_canary_audit",
      "q187_distinctive_terms",
      "q189_readability",
      "q190_mean_pool",
      "q191_apportioned_sample",
      "q192_data_card_v2")
      // q194_dedup_minhash_scaled is timed by its dedicated block below
      // (pairs without the gate's orderBy, plus CC over the scaled pairs)

  /** The only bucket cap SCALING.md records for the capped scaled
    * banding (q194_capped): 500 kept 99.7 % planted recall at the tier
    * that killed uncapped char banding. */
  val MaxBucket = 500L

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session()

    // SPARK_GRAFT_SCALING_HEAPS=true: Heaps-law-like rare-token growth
    // (see baseText) — required to measure the banded dedup ops at
    // >=100x, where the default head-heavy distribution saturates the
    // gram space.
    val heapsGen = sys.env.get("SPARK_GRAFT_SCALING_HEAPS").contains("true")

    // clearCache() drops persisted relations but NOT localCheckpoint
    // (truncated-lineage) blocks — those free only when the JVM GC lets
    // the ContextCleaner reap the RDD references. A 48g heap GCs lazily,
    // so the suffix builds' level tables (~5 GB each, several builds per
    // measured query) piled up as zombie disk blocks and exhausted the
    // sandbox disk at the 500k tier. Forcing a GC between measurements
    // keeps the block manager honest; it runs OUTSIDE every timed region.
    def reclaim(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200) // let the async ContextCleaner drain
    }

    // noop sink, not count(): count() lets Catalyst prune projections
    // and even eliminate unique-key outer joins (q94's rebuild side
    // vanished entirely — 0.3 s for a query whose work is the md5
    // reassembly), under-reporting expression-heavy queries. Same
    // rationale as Bench. `df` is built inside the clock, as in Bench.
    def noopSeconds(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // median of 3 noop-sink runs (Bench.measure at sweep start)
    def median3(df: => DataFrame): Double =
      graft.Bench.measure(0.0, () => noopSeconds(df))._2

    // SPARK_GRAFT_SCALING_TIERS="/tmp/h50k=50000,/tmp/h500k=500000" is
    // the tier ladder, default the sf0.1 test data plus a generated 10×
    // (50k-doc) corpus. Each missing tier is generated with its doc
    // count (embeddings at 2n/5 vectors, the 10× ratio) under the
    // SPARK_GRAFT_SCALING_HEAPS distribution flag; an existing dir is
    // read as is. Generated tiers are how the two-decade exponent fits
    // below get SAME-DISTRIBUTION points. A tier with a doc count is this
    // generator's corpus, the only kind with planted near-duplicates;
    // `dir=0` (read-only test data) has no planted ground truth.
    val sweepDirs: Seq[(String, Boolean)] = sys.env
      .getOrElse("SPARK_GRAFT_SCALING_TIERS", "/root/testdata/sf0.1=0,/tmp/graft_scaling_10x=50000")
      .split(",").toSeq.map { kv =>
        val Array(d, n) = kv.split("=")
        val nd = n.toLong
        if (!new java.io.File(s"$d/documents.parquet").exists()) {
          require(nd > 0, s"tier $d has no documents.parquet to read and no doc count to generate")
          println(s"[scaling] generating tier $d ($nd docs, heaps=$heapsGen)")
          generate(spark, d, nd, heapsGen)
        }
        if (!new java.io.File(s"$d/embeddings.parquet").exists()) {
          println(s"[scaling] generating tier embeddings at $d (${math.max(nd * 2 / 5, 100L)} vectors)")
          generateEmb(spark, d, math.max(nd * 2 / 5, 100L))
        }
        (d, nd > 0)
      }

    // per-tier stats for the exponent fit: dir -> (nDocs, parallel
    // efficiency measured right before that tier's sweep); medians keyed
    // (query, dir). PE-normalizing each point before fitting removes
    // host co-tenancy drift from the slope (the r10 lesson).
    val tierStats = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Double)]
    val tierMedians = scala.collection.mutable.LinkedHashMap.empty[(String, String), Double]

    // PEAK per-task execution memory per measured query (max over all
    // tasks of the query's 3 runs) — the "partitions fit in executor
    // memory" claim as a number instead of a plan argument — and the
    // composed pipeline's per-stage shuffle bytes, from one listener
    // for the whole run.
    val stats = new StageStats(spark.sparkContext)

    for ((dir, hasPlanted) <- sweepDirs) {
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val pe = graft.Bench.parallelEfficiency()
      tierStats(dir) = (nDocs, pe)
      println(f"[scaling] corpus $dir: $nDocs docs, parallel_efficiency=$pe%.2f")
      def docs() = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      // the doubling rounds of this tier's suffix index (q143/q144 lines),
      // from one untimed build
      lazy val suffixRounds = {
        val t = graft.operators.SuffixIndex.build(docs(), "doc_id", "text")
        try t.rounds finally t.close()
      }
      // one tier line; `key` (empty = none) records the median for the
      // exponent fit
      def report(label: String, key: String, med: Double, tail: String): Unit = {
        if (key.nonEmpty) tierMedians((key, dir)) = med
        println(f"[scaling] $label $dir%-28s median=$med%7.2f s" +
          f" eff=${med * pe}%7.2f core-s$tail")
      }
      // a pair relation's median, found pairs and planted recall: the
      // recovered (id-1, id) mutations for id%50==3, id>0, the ground
      // truth this generator embeds (n/a on a tier it did not generate)
      def reportPairs(label: String, key: String, pairs: () => DataFrame): Unit = {
        reclaim()
        val found = pairs().persist()
        val nFound = found.count()
        val planted =
          if (!hasPlanted) "n/a"
          else s"${found.filter(col("id_b") === col("id_a") + 1 && col("id_b") % 50 === 3).count()}" +
            s"/${nDocs / 50}"
        found.unpersist(blocking = false)
        report(label, key, median3(pairs()), f" rows=$nFound%-7d planted=$planted")
      }
      // q66b-shape forced-distributed clustering over a persisted pair set
      def reportCc(label: String, pairs: () => DataFrame): Unit = {
        reclaim()
        val p = pairs().persist(); p.count()
        val med = median3(Dedup.connectedComponents(p, smallGraphMaxEdges = 0L))
        p.unpersist(blocking = false)
        report(label, label.trim, med, s" rounds=${Dedup.lastDistributedRounds}")
      }

      for (q <- sweep if selects(q)) {
        // Cached intermediates from PREVIOUS queries are dropped first —
        // accumulated storage pressure across the (growing) query list
        // slowed later queries ~2× via eviction/GC, which is measurement
        // noise, not operator cost. Row counts are read once, outside
        // timing.
        reclaim()
        val rows = SparkEntry.queries(q)(spark, dir).count()
        val extra =
          if (q.startsWith("q66b")) s" rounds=${Dedup.lastDistributedRounds}"
          else if (q.startsWith("q143") || q.startsWith("q144"))
            s" rounds=$suffixRounds"
          else ""
        stats.reset() // count() above warms plans; measure the runs
        val med = median3(SparkEntry.queries(q)(spark, dir))
        report(f"$q%-28s", q, med, f" rows=$rows%-7d" +
          f" peakTaskMem=${stats.peakTaskMemory / 1024 / 1024}MiB$extra")
      }

      // BAND-BUCKET DIAGNOSTIC (select q194_bucket_histogram): per
      // profile, the band-bucket size distribution and the EXACT implied
      // candidate volume Σ C(size, 2) — one aggregation pass over the
      // band relation, no pair join, so it is safe to run at tiers where
      // the join itself would exhaust disk. This is how the candidate
      // explosion is attributed to data (hot buckets) instead of guessed
      // from sampled-pair Jaccard models. The TOKEN-shingle row is the
      // universe-growing fix for the saturation the char-gram rows
      // measure, read off the same metric; its distinct-shingle universe
      // is printed too.
      if (selects("q194_bucket_histogram")) {
        import graft.operators.TextHashing.LshBanding
        import org.apache.spark.sql.functions.{count, explode, expr, lit, max, sum}
        val charSets = Dedup.gramSets(docs(), "doc_id", "text").persist()
        val tokenSets = Dedup.tokenShingleSets(docs(), "doc_id", "text").persist()
        try {
          for ((label, sets, b, wide) <- Seq(
              ("q194_bucket_histogram (", charSets, LshBanding.Default, false),
              ("q194_bucket_histogram (", charSets, LshBanding.Scaled, false),
              ("q199_bucket_histogram (tokens ", tokenSets, LshBanding.Scaled, true))) {
            val sizes = Dedup.bandRelation(
                Dedup.signaturesFromSets(sets, b, wide), sizeAware = false, b)
              .groupBy(col("sig")).agg(count(lit(1)).as("s"))
            val agg = sizes.agg(sum(expr("s * (s - 1) div 2")).as("cand"),
              max(col("s")).as("maxb"), count(lit(1)).as("buckets")).collect()(0)
            val top = sizes.orderBy(col("s").desc).limit(10).collect()
              .map(_.getLong(1)).mkString(",")
            val uni = if (wide)
              s" universe=${sets.select(explode(col("gs")).as("h")).distinct().count()}"
              else ""
            println(s"[scaling] $label${b.numBands}x${b.rowsPerBand}) $dir " +
              s"cand=${agg.getLong(0)} maxBucket=${agg.getLong(1)} " +
              s"buckets=${agg.getLong(2)}$uni top10=$top")
          }
        } finally {
          charSets.unpersist(blocking = false)
          tokenSets.unpersist(blocking = false)
        }
      }

      // WINNOWING pairs (select q196_winnow_neardup): the third pairing
      // family at the tiers — df-capped fingerprint equi-join, recall vs
      // the planted mutations. The fingerprint universe is token-5-gram
      // md5s (Heaps-growing like q199's shingles), so the df cap should
      // rarely bite and candidates should stay near-linear.
      // minShared sweep (r13 verdict #7): q196's 2% planted-recall misses
      // at minShared=3 are threshold semantics on the shortest docs —
      // measure what relaxing to 2 buys (recall) and costs (extra pair
      // volume = the precision trade), tier by tier, so the knob is
      // documented like the bucket cap. The gate setting (3) keeps the
      // tierMedians key for the exponent fit.
      if (selects("q196_winnow_neardup"))
        Seq(3, 2).foreach { ms =>
          reportPairs(s"q196_winnow_neardup ms=$ms  ",
            if (ms == 3) "q196_winnow_neardup" else "",
            () => Dedup.winnowPairs(docs(), "doc_id", "text",
              k = 5, w = 4, minShared = ms, dfCap = 50))
        }

      // TOKEN-shingle pairs (select q199_dedup_minhash_tokens): the
      // uncapped universe-growing profile at every tier, with recall vs
      // the same planted 2% mutations the capped block measures — the
      // head-to-head against q194's cap-mitigated char-gram banding.
      if (selects("q199_dedup_minhash_tokens"))
        reportPairs("q199_dedup_minhash_tokens", "q199_dedup_minhash_tokens",
          () => Dedup.nearDupPairs(docs(), "doc_id", "text", 0.7, NearDupProfile.Token).df)

      // CAPPED scaled banding (select q194_capped): the scaled profile
      // plus the bucket-size cap ([[MaxBucket]]) — the configuration for
      // gram-universe-saturated corpora where the bucket histogram shows
      // Ω(n²) candidates under any (b, r). Reports found pairs AND recall
      // vs the planted 2% mutations, so the cap's trade is measured per
      // tier; then clustering over the capped pairs — the q66b shape at
      // the tier where only the capped candidate stage is feasible; input
      // is the dup-tail pair graph, so this bounds the full
      // pairs→clusters dedup composition at the top tier.
      if (selects("q194_capped")) {
        def cappedPairs() = Dedup.nearDupPairs(docs(), "doc_id", "text", 0.7,
          NearDupProfile.CharScaled.copy(maxBucket = MaxBucket)).df
        reportPairs(s"q194_capped(cap=$MaxBucket)      ", "q194_capped", () => cappedPairs())
        reportCc("q66b_cc_over_capped_pairs", () => cappedPairs())
      }

      // COMPOSED end-to-end pipeline (select pipeline_composed; r13
      // verdict #5): every curve above is per-operator, but a real
      // curation job composes them — funnel (q76's lang-ID + quality
      // stages) → token-profile near-dup pairs (q199) → clusters →
      // canonicalize keep-min-id (q78) → 512-token sequence packing
      // (q77 emitChunks) as ONE job over the tier corpus. Reports wall,
      // effective core-s, total + peak-stage shuffle WRITE bytes, and
      // per-stage retention, so cross-stage surprises (lineage/persist
      // interactions, shuffle pressure stacking) are measured instead
      // of assumed. One localCheckpoint barrier after the funnel: the
      // dedup pipeline consumes the survivors three times (sets, band
      // join sides, canonical join) — without the barrier each consumer
      // would re-run the lang-ID/quality scan.
      if (selects("pipeline_composed")) {
        import graft.operators.{Packing, TextAnalysis}
        reclaim()
        def funnel() = {
          val docs = spark.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("source"), col("lang"), col("text"))
          // und-fallback: the synthetic vocabulary contains no stopwords
          // of any marker language, so the n-gram classifier abstains
          // ("und") on every doc — fall back to the declared lang
          // column when it does (the rule a real pipeline applies to
          // crawl records carrying an HTML lang tag). ~20% retention,
          // the funnel shape the composition needs; the classifier and
          // quality scans still run at full width.
          TextAnalysis.langPredicted(docs, "text",
              Seq("doc_id", "source", "lang", "text"))
            .withColumn("quality", TextAnalysis.qualityScore(length(col("text")),
              TextAnalysis.punctRatio(col("text")), TextAnalysis.meanWordLen(col("text"))))
            .filter((col("predicted") === "en" ||
              (col("predicted") === "und" && col("lang") === "en")) &&
              col("quality") >= 0.5)
            .select(col("doc_id"), col("source"), col("text"))
            .localCheckpoint()
        }
        // r14 verdict #5: the measured path IS the product path — the
        // dedup stage goes through nearDupPairsAutoManaged (probe → dispatch),
        // not a hand-picked profile; the probe's recommendation is
        // printed per tier so SCALING.md can record whether it matches
        // the hand-pick (token, uncapped) that r13/r14 measured.
        def canonical(survivors: DataFrame, pairs: DataFrame) = {
          val clusters = Dedup.connectedComponents(pairs)
            .withColumnRenamed("doc_id", "_cid")
          survivors.join(clusters, survivors("doc_id") === col("_cid"), "left")
            .filter(col("rep_id").isNull || col("rep_id") === survivors("doc_id"))
            .drop("_cid", "rep_id")
        }
        def pack(canon: DataFrame) =
          Packing.emitChunks(canon, col("source"), col("doc_id"), col("text"), 512)
        // instrumented pass: per-stage retention (one extra count per
        // boundary; the timed runs below carry none of these actions)
        val s0 = funnel()
        val n1 = s0.count()
        val pairs0 = Dedup.nearDupPairsAutoManaged(s0, "doc_id", "text", 0.7).df.persist()
        val rec = Dedup.lastRecommendation.get
        println(f"[scaling] pipeline_composed probe $dir: profile=${rec.profile} " +
          f"maxBucket=${rec.maxBucket} newGramRate=${rec.newGramRate}%.4f " +
          f"nonAsciiRate=${rec.nonAsciiRate}%.4f estPairsPerDoc=${rec.estPairsPerDoc}%.2f " +
          f"(hand-pick was token/uncapped; match=${rec.profile == "token" && rec.maxBucket == 0L})")
        val nPairs = pairs0.count()
        val canon0 = canonical(s0, pairs0).persist()
        val n2 = canon0.count()
        val n3 = pack(canon0).count()
        pairs0.unpersist(blocking = false)
        canon0.unpersist(blocking = false)
        println(f"[scaling] pipeline_composed retention $dir: docs=$nDocs -> " +
          f"funnel=$n1 -> pairs=$nPairs -> canonical=$n2 -> chunks=$n3")
        // timed end-to-end runs (scan through packed emission)
        val mib = 1048576.0
        val (_, pmed) = graft.Bench.measure(0.0, () => {
          reclaim()
          stats.reset()
          val dt = noopSeconds {
            val survivors = funnel()
            pack(canonical(survivors,
              Dedup.nearDupPairsAutoManaged(survivors, "doc_id", "text", 0.7).df))
          }
          val shuffleWrites = stats.stages.map(_.shuffleWriteBytes)
          println(f"[scaling] pipeline_composed run: $dt%7.2f s " +
            f"shuffle_write=${shuffleWrites.sum / mib}%9.1f MiB " +
            f"peak_stage=${shuffleWrites.maxOption.getOrElse(0L) / mib}%9.1f MiB")
          dt
        })
        report("pipeline_composed        ", "pipeline_composed", pmed, "")
      }

      // The SCALED banding profile (q194 shape) + clustering over its
      // pairs — the dedup configuration that runs at the top tier, where
      // the default (4,4) banding is candidate-bound (SCALING.md). Pairs
      // and the q66b-shape forced-distributed CC are timed separately so
      // the exponent fit attributes cost to the right stage.
      if (selects("q194_dedup_minhash_scaled")) {
        reclaim()
        def scaledPairs() = Dedup.nearDupPairs(docs(), "doc_id", "text", 0.7,
          NearDupProfile.CharScaled).df
        val pairRows = scaledPairs().count()
        report("q194_dedup_minhash_scaled ", "q194_dedup_minhash_scaled",
          median3(scaledPairs()), f" rows=$pairRows%-7d")
        reportCc("q66b_cc_over_scaled_pairs ", () => scaledPairs())
      }

      // THE incremental claim (q81 shape): a FIXED batch against a
      // precomputed index of a 10×-growing corpus — per-batch cost must
      // stay ~flat, because the probe join ships only colliding bands and
      // existing×existing candidates are structurally impossible. The
      // batch is the same 500 docs (10x generator text, ids < 500) at both
      // scales; the index is each scale's corpus restricted to id ≥ 500
      // (id uniqueness across index and batch is the operator contract).
      // Index build/persist happens OUTSIDE the timed region — that is the
      // point: at 100 TB you index once and pay per-batch forever after.
      if (selects("q81_incremental_fixedbatch")) {
        import spark.implicits._
        val batch = spark.range(500L).map(id => (id, docText(id, 50000L)))
          .toDF("doc_id", "text")
        val existing = docs().filter(col("doc_id") >= 500L)
        reclaim()
        val index = Dedup.dedupIndex(existing, "doc_id", "text")
        val bands = index.bands.persist(); bands.count()
        val sets = index.sets.persist(); sets.count()
        val idx = Dedup.DedupIndex(bands, sets)
        val rows = Dedup.incrementalPairs(idx, batch, "doc_id", "text", 0.7).count()
        val med = median3(Dedup.incrementalPairs(idx, batch, "doc_id", "text", 0.7))
        bands.unpersist(blocking = false); sets.unpersist(blocking = false)
        report("q81_incremental_fixedbatch", "q81_incremental_fixedbatch", med,
          f" rows=$rows%-7d")
      }
    }

    // FITTED GROWTH EXPONENT per query over the measured tiers:
    // least-squares slope of log(PE-normalized median) vs log(nDocs).
    // alpha ≈ 1 is corpus-linear, < 1 sub-linear (fixed overhead still
    // amortizing), > 1 super-linear (the thing the 100 TB story must
    // either fix or floor-document). Needs >= 2 tiers; PE-normalization
    // keeps host co-tenancy drift between tiers out of the slope.
    if (tierStats.size >= 2) {
      val measured = tierMedians.keys.map(_._1).toSeq.distinct
      for (q <- measured) {
        val pts = tierStats.toSeq.flatMap { case (d, (n, pe)) =>
          tierMedians.get((q, d)).map(t => (math.log(n.toDouble), math.log(t * pe)))
        }
        if (pts.size >= 2) {
          val k = pts.size
          val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
          val sxx = pts.map(p => p._1 * p._1).sum
          val sxy = pts.map(p => p._1 * p._2).sum
          val alpha = (k * sxy - sx * sy) / (k * sxx - sx * sx)
          println(f"[scaling] exponent $q%-30s alpha=$alpha%5.2f over $k tiers" +
            f" (${tierStats.head._2._1} -> ${tierStats.last._2._1} docs, PE-normalized)")
        }
      }
    }

    // PageRank (q114) scales over the REAL event tables (10k → 100k
    // events, sf0.01 → sf0.1): the structural claim is that per-round
    // cost is EDGE-bound, and the transition edge set saturates at
    // |V|² long before events stop growing — so the only events-linear
    // stage is the one window pass that builds the edges. Edge count is
    // printed to pin the saturation.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
         if selects("q114_pagerank")) {
      reclaim()
      val nEv = spark.read.parquet(s"$dir/events.parquet").count()
      val edges = {
        import graft.operators.GraphRank
        val ev = graft.Tables.load(spark, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            org.apache.spark.sql.functions.regexp_extract(
              col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("item"))
        GraphRank.transitionEdges(ev, "item", "user_id", Seq("ts", "event_id")).count()
      }
      val med = median3(SparkEntry.queries("q114_pagerank")(spark, dir))
      println(f"[scaling] q114_pagerank $dir%-28s median=$med%7.2f s" +
        f" events=$nEv%-8d edges=$edges%-7d")
    }

    // As-of join: the union+window REWRITE (q90 shape) vs the NATIVE
    // merge-walk operator (q90b shape) on the same synthetic event
    // stream at 100k / 1M / 10M events. Both are timed AND measured for
    // peak per-task execution memory (StageStats, max over tasks):
    // the claim the native operator exists for is that its probe side
    // buffers ONE row per key behind the sort, where the rewrite's
    // union must co-sort both streams and carry the window state —
    // a memory difference, not only a time one. Events are pure
    // xxhash64 functions of the row id: identical across runs/scales.
    if (selects("q90_asof_scaling")) {
      import graft.operators.Temporal
      import org.apache.spark.sql.functions.{lit, pmod, when, xxhash64, timestamp_seconds}
      def synthEvents(n: Long): DataFrame =
        spark.range(n).select(
          col("id").as("event_id"),
          pmod(xxhash64(col("id"), lit(7)), lit(n / 100)).as("user_id"),
          timestamp_seconds(lit(1600000000L) +
            pmod(xxhash64(col("id"), lit(11)), lit(86400L * 30))).as("ts"),
          (pmod(xxhash64(col("id"), lit(13)), lit(1000)).cast("double") / 10.0)
            .as("value"),
          when(pmod(xxhash64(col("id"), lit(17)), lit(4)) === 0, "purchase")
            .otherwise("view").as("event_type"))
      for (n <- Seq(100000L, 1000000L, 10000000L)) {
        val ev = synthEvents(n).persist(); ev.count()
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        def rewrite() = Temporal.asOfJoin(
          purchases,
          ev.filter(col("event_type") === "view")
            .select(col("event_id"), col("user_id"), col("ts"), col("value")),
          leftKey = col("user_id"), rightKey = col("user_id"),
          leftTime = col("ts"), rightTime = col("ts"),
          payload = Seq("v_event_id" -> col("event_id"), "v_value" -> col("value")),
          tieBreak = col("event_id"))
        def native() = Temporal.asOfJoinNative(
          purchases,
          ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("ts"), col("event_id"),
              col("event_id").as("v_event_id"), col("value").as("v_value")),
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "ts",
          payload = Seq("v_event_id", "v_value"), tieBreak = "event_id")
        for ((label, mk) <- Seq("q90_asof_rewrite" -> (() => rewrite()),
                                "q90b_asof_native" -> (() => native()))) {
          reclaim(); ev.persist(); ev.count()
          stats.reset()
          val med = median3(mk())
          println(f"[scaling] $label%-18s events=$n%-9d median=$med%7.2f s" +
            f" peakTaskMem=${stats.peakTaskMemory / 1024 / 1024} MiB")
        }
        ev.unpersist(blocking = false)
      }
    }

    // Triangles (q118) + label propagation (q124) on a SKEWED synthetic
    // graph — one celebrity vertex adjacent to 30% of ALL vertices. The
    // claim under measurement is the Latapy degree-ordered orientation
    // bound: max ORIENTED out-degree stays O(√m) even though the raw
    // degree distribution has a 0.3·|V| whale, so the wedge stage — the
    // term a naive neighbor join explodes on — is bounded. Counters
    // (wedges Σ C(outdeg, 2), max outdeg) come from one census aggregate
    // over GraphRank.orientedEdges, outside the timed triangle runs.
    // Edges are pure xxhash64 functions of the edge index — both scales
    // and both runs see identical graphs, generated in executors.
    if (selects("q118_triangles") || selects("q124_label_prop")) {
      import graft.operators.GraphRank
      import org.apache.spark.sql.functions.{count, expr, lit, pmod, xxhash64}
      // SPARK_GRAFT_SCALING_GRAPH100X=true adds the third decade
      // (2M vertices, 10M edges + a 600k-degree celebrity) — the 100×
      // point for the Latapy bound and LPA's edge-linear rounds.
      val graphTiers = Seq((20000L, 100000L), (200000L, 1000000L)) ++
        (if (sys.env.get("SPARK_GRAFT_SCALING_GRAPH100X").contains("true"))
           Seq((2000000L, 10000000L)) else Nil)
      for ((nV, nE) <- graphTiers) {
        val rand = spark.range(nE).select(
          pmod(xxhash64(col("id"), lit(1)), lit(nV)).as("src"),
          pmod(xxhash64(col("id"), lit(2)), lit(nV)).as("dst"),
          lit(1L).as("w"))
        val celeb = spark.range(nV)
          .filter(pmod(col("id"), lit(10)) < 3 && col("id") =!= 0L)
          .select(lit(0L).as("src"), col("id").as("dst"), lit(1L).as("w"))
        val edges = rand.union(celeb)
        val m = edges.count()
        reclaim()
        val triMed = median3(GraphRank.triangleCounts(edges))
        val census = GraphRank.orientedEdges(edges)
          .groupBy(col("a")).agg(count(lit(1)).as("od"))
          .agg(expr("coalesce(CAST(sum((od * (od - 1)) DIV 2) AS BIGINT), 0)"),
            expr("coalesce(max(od), 0)"))
          .collect()(0)
        println(f"[scaling] q118_triangles_skew |V|=$nV%-7d m=$m%-8d" +
          f" median=$triMed%7.2f s wedges=${census.getLong(0)}" +
          f" maxOutDeg=${census.getLong(1)}" +
          f" sqrtM=${math.sqrt(m.toDouble).toLong}")
        reclaim()
        val lpaMed = median3(GraphRank.labelPropagation(edges, 4))
        println(f"[scaling] q124_label_prop_skew |V|=$nV%-7d m=$m%-8d" +
          f" median=$lpaMed%7.2f s rounds=4")
      }
    }
    stats.close()
    spark.stop()
  }
}
