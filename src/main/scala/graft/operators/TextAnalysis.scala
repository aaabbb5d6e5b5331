package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables.r6

/**
 * Text-analysis columns for corpus curation: token counting, quality
 * scoring, n-gram-heuristic language ID, and content fingerprinting. All
 * pure Column expressions (whole-stage-codegen friendly, no UDFs) and all
 * reproducible in portable SQL for the oracle.
 */
object TextAnalysis {

  /** Whitespace token count: spaces + 1 from the one-pass byte-count
    * kernel, the integer `size(split(text, " "))` gives; null text reads
    * -1, the non-ANSI `size(null)` the engine's sessions run with. */
  def wsTokenCount(text: Column): Column =
    coalesce(call_function("graft_ws_token_count", text), lit(-1))

  /** BPE-ish token count: runs of letters, runs of digits, or single other
    * non-space chars — the shape of a byte-pair pre-tokenizer split. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))

  /** Count non-overlapping occurrences of `needle` (regex-metachar-free)
    * via length difference — identical left-to-right non-overlapping
    * semantics as the oracle's literal replace(). */
  def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(regexp_replace(text, needle, "")))
      / needle.length).cast("int")

  /** Stopword-hit score for a language: total hits of its marker words
    * (space-padded match so word boundaries are respected). The
    * COMPOSABLE reference form — |words| regexp_replace scans, each
    * materializing a rewritten doc-sized string; langPredicted uses the
    * one-pass graft_lang_scores kernel instead (LangScoresSpec pins the
    * equivalence), keeping this as the semantics documentation and the
    * spec oracle, the hashedLinearScoreComposable pattern. */
  def stopwordScore(text: Column, words: Seq[String]): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    words.map(w => occurrences(padded, s" $w ")).reduce(_ + _)
  }

  /** Marker stopwords per language (tiny n-gram-heuristic language ID). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "los", "las", "es", "y", "una"))

  /** Predicted language = argmax of the score columns (first-listed wins
    * ties); "und" (undetermined) when no marker hits at all. Takes
    * already-materialized score COLUMNS — inlining the score expressions
    * into the argmax would replicate each regexp ~10× in the plan (one per
    * CASE branch), which kills codegen at scale; compute scores in a
    * projection first (see langPredicted). */
  def langFromScores(scores: Seq[(String, Column)]): Column = {
    val total = scores.map(_._2).reduce(_ + _)
    // lang i wins iff its score strictly exceeds every earlier lang's
    // (ties → first listed). Folding 1..n wraps later langs outermost, so
    // the CASE checks the last lang's win condition first — required, since
    // an inner "de > en" branch would otherwise shadow an "es beats all" win.
    val pred = scores.indices.drop(1)
      .foldLeft(lit(scores.head._1): Column) { (els, i) =>
        val (lang, sc) = scores(i)
        val prevBest =
          if (i == 1) scores.head._2 else greatest(scores.take(i).map(_._2): _*)
        when(sc > prevBest, lang).otherwise(els)
      }
    when(total === 0, "und").otherwise(pred)
  }

  /** documents → (scores computed once) → predicted column. The panel
    * is ONE kernel call (graft_lang_scores, all langs in one pass), made
    * the output of a one-element Generate, `explode(array(kernel(text)))`.
    * A projection is no barrier: a caller's filter on `predicted` or
    * `s_*` is pushed below it with the aliases substituted, and the
    * funnel's filter then ran the kernel 17 times per row (once per score
    * reference in the argmax CASE). Predicate pushdown cannot move a
    * condition on a generated column below its Generate, so the filter
    * reads the scores; the Generate stays inside whole-stage codegen and
    * yields exactly one row per input row. LangScoresSpec and
    * PlanAuditSpec pin one evaluation under a filter. */
  def langPredicted(df: org.apache.spark.sql.DataFrame, textCol: String, keep: Seq[String])
    : org.apache.spark.sql.DataFrame = {
    val scored = df
      .select(keep.map(col) :+
        explode(array(call_function("graft_lang_scores", col(textCol)))).as("_ls"): _*)
      .select(keep.map(col) ++
        LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
          element_at(col("_ls"), i + 1).as(s"s_$lang") }: _*)
    scored.withColumn("predicted",
      langFromScores(LangMarkers.map { case (lang, _) => lang -> col(s"s_$lang") }))
  }

  /** Heuristic quality score in [0,1]: rewards mid-length docs and normal
    * word lengths, penalizes punctuation soup. Deterministic arithmetic
    * only — the exact formula matters less than it being cheap, monotone,
    * and identical in the oracle. */
  def qualityScore(textLen: Column, punctRatio: Column, meanWordLen: Column): Column = {
    val lenScore = least(textLen.cast("double") / 400.0, lit(1.0))
    val wordScore = when(meanWordLen.between(3.0, 9.0), 1.0).otherwise(0.5)
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio * 5.0)
    r6((lenScore * 0.4 + wordScore * 0.3 + punctScore * 0.3))
  }

  /** fastText-architecture linear text classifier via the hashing trick
    * (Joulin et al. 2016 "Bag of Tricks for Efficient Text
    * Classification" / Weinberger et al. 2009 feature hashing): each
    * token is hashed straight to a weight — no vocabulary table, no
    * lookup join, which is the property that makes the architecture the
    * standard quality-classifier pass over a 100 TB corpus (model
    * application is one row-local fold; the weight "table" costs zero
    * bytes of broadcast). Expressed as pure Column HOFs
    * (transform+aggregate over the token array), so it stays inside
    * whole-stage codegen and never shuffles.
    *
    * The weights here are a deterministic surrogate (md5-48 % 17 − 8 ∈
    * [−8, 8]) because no pretrained model ships in-sandbox — the
    * ARCHITECTURE (hash → weight → sum → threshold) is the real,
    * oracle-checked part; swapping in trained weights means replacing
    * one pure function of the hash. Integer-only arithmetic end to end,
    * so DuckDB rebuilds every score bit-for-bit (no sigmoid: the gate
    * compares the raw margin to 0, which is the same decision). */
  def hashedLinearScore(text: Column): Column =
    call_function("graft_hashed_margin", text)

  /** Feature-hashing vectorizer (Weinberger et al. 2009; the
    * HashingVectorizer shape): sparse token-count vectors with NO
    * vocabulary table — bucket = md5₄₈(token) mod dims, so featurization
    * is one row-local projection plus one map-side-combinable
    * (doc, bucket) count. That no-vocab property is what makes this THE
    * featurizer for a 100 TB corpus pass (the q113 classifier argument,
    * vectorized): nothing is broadcast, nothing is looked up, adding a
    * billion documents changes no plan. Emitted in sparse relational
    * form (id, bucket, cnt) — the join-friendly layout for downstream
    * dot products and classifier training. */
  def hashingVectorize(docs: org.apache.spark.sql.DataFrame, id: String,
                       text: String, dims: Int): org.apache.spark.sql.DataFrame = {
    require(dims >= 2, "hashingVectorize needs dims >= 2")
    docs.select(col(id).as("pid"), explode(split(col(text), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("pid"), (md5Hash48(col("t")) % dims).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The composable-HOF formulation of hashedLinearScore — kept as the
    * semantics documentation and the equivalence oracle for the kernel
    * (HashedMarginSpec): interpreted lambdas re-evaluate `md5(t)` once
    * per hex48 polynomial term (12×/token), which is why the kernel
    * exists. Bit-identical output. */
  def hashedLinearScoreComposable(text: Column): Column =
    aggregate(
      transform(split(text, " "), t => (md5Hash48(t) % 17) - 8),
      lit(0L),
      (acc, x) => acc + x)

  /** Punctuation ratio: non-alphanumeric-non-space chars / total, the
    * count from the one-pass byte-count kernel. */
  def punctRatio(text: Column): Column =
    punctRatioOf(text, call_function("graft_punct_count", text))

  /** Mean word length over whitespace tokens. */
  def meanWordLen(text: Column): Column = meanWordLenOf(text, wsTokenCount(text))

  private def punctRatioOf(text: Column, punct: Column): Column =
    r6(punct.cast("double") / greatest(length(text), lit(1)))
  private def meanWordLenOf(text: Column, tokens: Column): Column =
    r6((length(text) - (tokens - 1)).cast("double") / greatest(tokens, lit(1)))

  /** The composable forms of wsTokenCount, punctRatio and meanWordLen — a
    * regexp rewrite or a split of the document per count — kept as the
    * semantics documentation and the spec oracle of the byte-count
    * kernel (QualityCountsSpec), the stopwordScore pattern. */
  private[graft] def wsTokenCountComposable(text: Column): Column = size(split(text, " "))
  private[graft] def punctRatioComposable(text: Column): Column =
    punctRatioOf(text, length(regexp_replace(text, "[a-zA-Z0-9 ]", "")))
  private[graft] def meanWordLenComposable(text: Column): Column =
    meanWordLenOf(text, wsTokenCountComposable(text))

  /** Content fingerprint: md5 of whitespace-normalized lowercase text. The
    * positional rolling-hash variant lives in TextHashing (gramHash) and
    * feeds MinHash; this one is the content-equality key. */
  def contentFingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  // --- Repetition metrics (Gopher-style quality rules, Rae et al. 2021
  // §A1.1: "fraction of duplicate n-grams" family, re-expressed over
  // whitespace tokens since the corpus is single-line text) ---

  /** Fraction of tokens that are repeats of an earlier token:
    * (n - n_distinct) / n. Pure array arithmetic — no shuffle. */
  def dupTokenFraction(toks: Column): Column =
    r6((size(toks) - size(array_distinct(toks))).cast("double") /
      greatest(size(toks), lit(1)))

  /** Adjacent word-bigram strings of a token array (empty below 2 tokens).
    * Kept as an array column so callers choose explode-site and grouping —
    * the count of the MOST frequent bigram needs a per-doc aggregation,
    * which the caller runs after explode (see PipelineQueries q68). */
  def wordBigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))

  /** Fraction of tokens covered by the most frequent bigram (2 tokens per
    * occurrence, capped at 1.0); null top-count (under-2-token docs) → 0. */
  def topBigramFraction(topCnt: Column, nTokens: Column): Column =
    r6(least(lit(1.0),
      coalesce(topCnt * 2.0 / nTokens, lit(0.0))))

  // --- PII patterns (portable regex subset: identical semantics in Java
  // regex and RE2, so the DuckDB oracle replays the scrub exactly) ---

  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}"
  val UrlRe = "https?://[a-zA-Z0-9./_-]+"

  /** Non-overlapping match count of a regex pattern. */
  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Redact emails then URLs with typed placeholder tags — email first so
    * an address is never half-eaten by a URL match. Order is part of the
    * contract (the oracle mirrors it). */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), UrlRe, "<URL>")

  /** Corpus-statistics quality scoring: mean token RARITY per document,
    * rarity(t) = r6(N / count(t)) with N = total corpus tokens — the
    * deterministic stand-in for unigram surprisal (-log p would hang the
    * oracle on last-ulp `ln` library differences; the monotone N/cnt
    * carries the same filtering signal). Docs of common words score low,
    * rare-token soup scores high.
    *
    * Two-pass shape no other text op has: (1) one groupBy builds the
    * vocabulary — at 100 TB a hash shuffle on the token key; (2) the
    * scores join back to the exploded tokens. The vocabulary is usually
    * zipf-bounded (≪ corpus) — but a web-scale corpus's distinct-token set
    * (URLs, hashes, typos riding in text) can exceed any broadcast budget,
    * so the broadcast is BYTE-GATED like every other potentially-unbounded
    * small side in the library (Dedup's verify map, the CC driver pull):
    * estimated vocab bytes under `broadcastBudgetBytes` → broadcast join
    * (corpus side shuffle-free); over budget → SHUFFLE_HASH join on the
    * token key (no sort on either side; the corpus was shuffling on that
    * key for the vocabulary aggregate anyway). Same decision rule as the
    * reference's scatter-vs-shuffle estimate
    * (engine/src/execution_kernels/BatchJoinProcessing.cpp:672-830). Both
    * physical plans share one oracle (q70/q70b) — the gate cannot change
    * answers. Per-doc mean uses an exact DECIMAL sum: IEEE double
    * summation is partition-order dependent and would break the oracle
    * hash-compare. */
  def tokenRarity(docs: org.apache.spark.sql.DataFrame, id: String, text: String,
                  broadcastBudgetBytes: Long = 256L * 1024 * 1024)
    : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(id).as("rid"), explode(split(col(text), " ")).as("t"))
      .filter(length(col("t")) > 0)
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    // ONE 1-row driver agg over the token scan yields N *and* the sizing
    // stats — NOT an agg over vocab, which would execute the corpus-wide
    // vocabulary shuffle a second time just for sizing (the join below
    // runs it again). approx_count_distinct is a single-pass HLL partial
    // agg; it only steers the physical strategy, never the answer, so its
    // ±2% error is harmless. Empty corpus → total 0 → join is empty (no
    // NPE path).
    val sizing = toks.agg(count(lit(1)),
      approx_count_distinct(col("t")), avg(length(col("t")))).collect()(0)
    val total = sizing.getLong(0)
    val nVocab = sizing.getLong(1)
    val avgLen = if (sizing.isNullAt(2)) 0.0 else sizing.getDouble(2)
    // UTF-16 payload + per-entry hash-relation overhead (key ref, count
    // cell, load-factor slack) — the same bytes-not-rows rule as Dedup.
    val estBytes = (nVocab * (avgLen * 2.0 + 48.0)).toLong
    val scored =
      if (estBytes <= broadcastBudgetBytes) toks.join(broadcast(vocab), "t")
      else toks.join(vocab.hint("SHUFFLE_HASH"), "t")
    scored
      .withColumn("rarity", r6(lit(total.toDouble) / col("cnt")))
      .groupBy(col("rid"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("rarity").cast("decimal(28,6)")).as("s"))
      .select(col("rid").as(id), col("n_tokens"),
        r6(col("s").cast("double") / col("n_tokens")).as("mean_rarity"))
  }

  /** BM25 relevance of every document against a fixed bag of query terms —
    * the retrieval-based data-selection scorer (rank a 100 TB corpus
    * against a seed query / domain description, keep the head). Robertson-
    * Walker BM25 with one deliberate change: the idf keeps its RATIONAL
    * core (N − df + 0.5)/(df + 0.5) and drops the outer ln — ln is not an
    * exactly-rounded IEEE op, so Spark's libm vs DuckDB's libm can differ
    * in the last ulp and break the oracle's exact compare (same reasoning
    * as tokenRarity's N/cnt). The rational idf is exp(idf_BM25): strictly
    * monotone in it, so ranking and filtering behavior is unchanged. All
    * remaining arithmetic is +,−,×,÷ on doubles — exactly rounded, bit-
    * identical across engines when the expression tree matches, which the
    * oracle's SQL mirrors parenthesis-for-parenthesis.
    *
    * Scale shape: term stats need no vocabulary pass — tokens are
    * filtered to the (tiny, constant) query bag BEFORE any shuffle, so
    * the only aggregations run on ~|terms|·|matching docs| rows. The df
    * table is ≤|terms| rows and broadcast unconditionally (bounded by the
    * literal query, not the data). Corpus length stats (N, Σdl) are one
    * 1-row driver aggregate. Per-doc term-score sums go through exact
    * DECIMAL (3-term IEEE sums are still partition-order dependent). */
  def bm25Scores(docs: org.apache.spark.sql.DataFrame, id: String, text: String,
                 queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
    : org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scores needs at least one query term")
    val stats = docs
      .agg(count(lit(1)), sum(size(split(col(text), " ")))).collect()(0)
    val nDocs = stats.getLong(0)
    val avgdl = if (nDocs == 0) 1.0 else stats.getLong(1).toDouble / nDocs
    val hits = docs
      .select(col(id).as("bid"), size(split(col(text), " ")).as("dl"),
        explode(split(col(text), " ")).as("t"))
      .filter(col("t").isInCollection(queryTerms))
    val tf = hits.groupBy(col("bid"), col("t"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfT = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val idf = (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val sat = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl))))
    tf.join(broadcast(dfT), "t")
      .withColumn("term_score", r6(idf * sat))
      .groupBy(col("bid"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("term_score").cast("decimal(28,6)")).as("s"))
      .select(col("bid").as(id), col("n_terms_hit"),
        col("s").cast("double").as("bm25"))
  }

  /** Sparse TF-IDF document-pair cosine over df-BANDED posting lists —
    * the exact sparse-retrieval "more-like-this" engine that complements
    * MinHash (q44 approximates set Jaccard; this scores WEIGHTED cosine
    * exactly, seeing tf and term specificity that set-hashing discards).
    * Query-side BM25 (q92) ranks docs against a query; this ranks doc
    * PAIRS against each other — the corpus-scale join form.
    *
    * The df band [minDf, maxDf] is simultaneously the IR signal filter
    * (hapax noise out, stopwords out) and THE skew guard: the pair
    * fan-out of the posting join is ≤ maxDf per token BY CONSTRUCTION
    * (the q103 doctrine — no stopword can explode the join, because its
    * postings never exist). Band first, join second: df is a plain count
    * (8-byte map-side-combinable cells).
    *
    * Exactness (the bm25Scores doctrine): idf = (N−df+0.5)/(df+0.5) is
    * one exactly-rounded divide; w = tf·idf one multiply; every
    * pair/norm product is r6-rounded then summed as DECIMAL(28,6) —
    * order-independent, so both engines sum identically — and cast back
    * once. Norms are over the BANDED vector (the vector being scored).
    *
    * Returns (id_a, id_b, shared_terms, cosine) for pairs with rounded
    * cosine ≥ `threshold`. */
  def tfidfSimilarPairs(docs: org.apache.spark.sql.DataFrame, id: String,
                        text: String, minDf: Int = 2, maxDf: Int = 100,
                        threshold: Double = 0.5)
    : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{sum => fsum}
    val nDocs = docs.count()  // 1-row sizing pull (the bm25 pattern)
    val tf = docs
      .select(col(id).as("bid"), explode(split(col(text), " ")).as("t"))
      .groupBy(col("bid"), col("t")).agg(count(lit(1)).as("tf"))
    val banded = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, maxDf))
    val idf = (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    // consumed three times (norms + both pair sides): materialize once
    val wtf = Dedup.truncateLineage(
      tf.join(banded, "t")
        .select(col("bid"), col("t"), (col("tf").cast("double") * idf).as("w")))
    val norms = wtf.groupBy(col("bid"))
      .agg(sqrt(fsum(r6(col("w") * col("w")).cast("decimal(28,6)"))
        .cast("double")).as("nrm"))
    val a = wtf.select(col("t"), col("bid").as("id_a"), col("w").as("wa"))
    val b = wtf.select(col("t"), col("bid").as("id_b"), col("w").as("wb"))
    a.join(b, "t").filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_terms"),
        fsum(r6(col("wa") * col("wb")).cast("decimal(28,6)"))
          .cast("double").as("dot"))
      .join(norms.select(col("bid").as("id_a"), col("nrm").as("na")), "id_a")
      .join(norms.select(col("bid").as("id_b"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared_terms"),
        r6(col("dot") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Sentence segmentation on the literal ". " separator — the standard
    * cheap splitter for boilerplate work (CCNet splits on lines; web text
    * without layout needs the sentence fallback). The trailing sentence
    * keeps its final "." (no separator follows it); reassembly with the
    * same ". " separator is the inverse wherever no sentence was removed. */
  def sentenceSplit(text: Column): Column = split(text, "\\. ")

  /** Sentences occurring in at least `minDocs` DISTINCT documents — the
    * cross-document repetition signal for boilerplate ("subscribe to our
    * newsletter", cookie banners, license footers). Per-doc repetition is
    * deliberately not counted (that's q68's repetition filter); a sentence
    * pasted 50× in one doc is not site boilerplate. One explode + one
    * (sentence → distinct-doc-count) aggregate, both map-side-combined. */
  def boilerplateSentences(docs: org.apache.spark.sql.DataFrame, id: String,
                           text: String, minDocs: Long)
    : org.apache.spark.sql.DataFrame =
    docs.select(col(id).as("bid"), explode(sentenceSplit(col(text))).as("sent"))
      .filter(length(col("sent")) > 0)
      .groupBy(col("sent")).agg(count_distinct(col("bid")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Remove cross-document boilerplate sentences from every document,
    * preserving the order of what remains (reassembled with ". ", the
    * split's inverse). A document whose every sentence is boilerplate
    * keeps an EMPTY text rather than disappearing — row counts are
    * stable, so the operator composes with downstream stages that join
    * on the id.
    *
    * Scale shape: one sentence explode, a left-anti join against the
    * boilerplate set (output of an aggregate whose size AQE observes at
    * runtime — broadcast when small, which the ≥minDocs filter makes the
    * overwhelmingly common case, shuffle when a pathological corpus
    * inflates it; either way answers are identical), one per-doc
    * reassembly aggregate, and one id-equi join back to the full rows.
    * Within a doc the sentence order is recovered by position, unique by
    * construction — the reassembled string (and its md5) is total-order
    * deterministic. */
  def stripBoilerplate(docs: org.apache.spark.sql.DataFrame, id: String,
                       text: String, minDocs: Long)
    : org.apache.spark.sql.DataFrame = {
    val pieces = docs
      .select(col(id).as("_sid"),
        posexplode(sentenceSplit(col(text))).as(Seq("_pos", "_sent")))
      .filter(length(col("_sent")) > 0)
    val boiler = boilerplateSentences(docs, id, text, minDocs)
      .select(col("sent").as("_bs"))
    val kept = pieces
      .join(boiler, pieces("_sent") === col("_bs"), "left_anti")
      .groupBy(col("_sid"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("_pos").as("o"), col("_sent").as("p")))),
          s => s.getField("p")),
        ". ").as("_clean"))
    docs.join(kept, docs(id) === col("_sid"), "left")
      .withColumn(text, coalesce(col("_clean"), lit("")))
      .drop("_sid", "_clean")
  }

  // --------------------------------------------------------------------
  // HyperLogLog distinct-token sketch (Flajolet et al. 2007) — the
  // 100 TB answer to per-group COUNT(DISTINCT token): an exact distinct
  // shuffles every (group, token) pair; the sketch reduces each group to
  // 256 max-registers via map-side partial aggregation, so the exchange
  // carries ≤ 256 narrow rows per group no matter the corpus size.
  //
  // Spark's approx_count_distinct is the production form but its HLL++
  // registers are engine-private — unverifiable against an oracle. This
  // implementation keeps the whole sketch in PORTABLE column arithmetic
  // (md5 → hex-digit ascii polynomial → integer div/mod → max/sum), the
  // TextHashing doctrine: DuckDB rebuilds the registers bit-for-bit and
  // the estimate to the last double, so the DISTRIBUTED MECHANICS are
  // hash-gate verified; accuracy (±1.04/√256 ≈ 6.5%) is the documented
  // HLL property, visible in the output next to the exact count. The raw
  // estimator is used deliberately — no small-range linear-counting
  // branch (it needs a transcendental ln whose last bits differ across
  // engines); callers below the ~2.5·m regime use exact counting anyway.

  /** Number of HLL buckets (2^8). */
  val HllBuckets = 256

  /** Value of one hex digit of an md5 string: '0'-'9' → 0-9,
    * 'a'-'f' → 10-15, via ascii arithmetic both engines share. */
  private def hexVal(c: Column): Column =
    ascii(c) - 48 - when(ascii(c) >= 97, 39).otherwise(0)
  private def hexValSql(c: String): String =
    s"(ascii($c) - 48 - CASE WHEN ascii($c) >= 97 THEN 39 ELSE 0 END)"

  /** 48-bit integer from the first 12 hex digits of an ALREADY-hex
    * string (e.g. an md5 fingerprint column) — the parse half of
    * md5Hash48, for callers whose input is hex to begin with (one md5
    * instead of two). */
  def hex48(h: Column): Column = hexParse(h, 1, 12)
  def hex48Sql(h: String): String = hexParseSql(h, 1, 12)

  /** Integer from `digits` hex chars of `h` starting at 1-based `start`
    * (≤ 15 digits so the polynomial stays inside a signed 64-bit long) —
    * the generalized form of hex48, for callers that need SEVERAL
    * independent hashes from one md5 (e.g. the Count-Min rows: an md5 is
    * 32 hex chars = four disjoint 8-char slices, each a 32-bit hash). */
  def hexParse(h: Column, start: Int, digits: Int): Column = {
    require(digits >= 1 && digits <= 15, "hexParse supports 1..15 digits")
    call_function("graft_hex_long", h, lit(start), lit(digits))
  }

  /** The per-digit polynomial formulation of hexParse — kept as the
    * semantics documentation mirrored by hexParseSql, and as the
    * equivalence oracle for the graft_hex_long kernel (HexLongSpec).
    * The kernel exists because this expands to `digits`
    * substring+ascii+CASE terms per value (32/token in q111's CMS). */
  def hexParsePolynomial(h: Column, start: Int, digits: Int): Column = {
    require(digits >= 1 && digits <= 15, "hexParse supports 1..15 digits")
    (0 until digits).map(i =>
      hexVal(substring(h, start + i, 1)) * lit(1L << (4 * (digits - 1 - i))))
      .reduce(_ + _).cast("long")
  }
  def hexParseSql(h: String, start: Int, digits: Int): String = {
    require(digits >= 1 && digits <= 15, "hexParseSql supports 1..15 digits")
    (0 until digits).map(i =>
      s"${hexValSql(s"substr($h,${start + i},1)")} * CAST(${1L << (4 * (digits - 1 - i))} AS BIGINT)")
      .mkString("(", " + ", ")")
  }

  /** 48-bit integer from the first 12 hex digits of md5(token) — md5 is
    * the strong mixer; the polynomial is just a portable hex parse. */
  def md5Hash48(t: Column): Column = hex48(md5(t))
  def md5Hash48Sql(t: String): String = hex48Sql(s"md5($t)")

  /** Rank of the first set bit of the 40-bit value `w` (1 = highest bit
    * set, 41 = w is zero) — the HLL register update, as an exact integer
    * comparison chain (no float log2, whose boundary rounding could
    * disagree cross-engine). */
  def hllRho(w: Column): Column =
    (1 to 40).foldRight(lit(41): Column) { (r, rest) =>
      when(w >= lit(1L << (40 - r)), lit(r)).otherwise(rest)
    }
  def hllRhoSql(w: String): String =
    "(CASE " + (1 to 40).map(r =>
      s"WHEN $w >= ${1L << (40 - r)} THEN $r").mkString(" ") + " ELSE 41 END)"

  /** The raw-estimator numerator alpha_256 · m² · 2^41 as ONE double
    * constant (estimate = this / S, where S = Σ_b 2^(41 − M_b) is EXACT
    * long arithmetic — register M_b ≤ 41, absent buckets contribute
    * 2^41). Folding the constant in Scala and embedding the same 17-digit
    * literal in both spellings sidesteps engine literal-typing rules
    * (both Spark and DuckDB would parse `0.7213` as DECIMAL and apply
    * different scale arithmetic); the only runtime float op left is one
    * division of two exactly-parsed doubles. */
  val HllNumerator: Double =
    0.7213 / (1.0 + 1.079 / HllBuckets) * (HllBuckets.toLong * HllBuckets) *
      (1L << 41).toDouble
  /** The literal both engines parse to the identical double. */
  val HllNumeratorSql: String = f"$HllNumerator%.17e"

  /** Per-group HLL distinct estimate over a token column, next to the
    * exact distinct-hash count (the accuracy evidence; md5-48 collisions
    * are ~n²/2^49 — negligible, and the oracle computes the identical
    * quantity). The ESTIMATE branch is the scale path: its (group,
    * bucket) partial max is the map-side combine that bounds the shuffle
    * at 256 rows per group regardless of corpus size. The exact branch
    * is the one that stops scaling — it ships every distinct (group,
    * hash) pair — and rides along here as report evidence only. */
  def hllDistinctTokens(df: org.apache.spark.sql.DataFrame, group: Column,
                        token: Column): org.apache.spark.sql.DataFrame = {
    val hashed = df.select(group.as("g"), md5Hash48(token).as("h"))
    val regs = hashed
      .withColumn("bucket", col("h") % HllBuckets)
      .withColumn("rho", hllRho(expr(s"h div $HllBuckets")))
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rho")).as("m"))
    val est = regs.groupBy(col("g"))
      .agg((sum(expr("shiftleft(cast(1 as bigint), 41 - m)")) +
        (lit(HllBuckets.toLong) - count(lit(1))) * lit(1L << 41)).as("s"))
      .select(col("g"),
        graft.Tables.r6(lit(HllNumerator) / col("s").cast("double"))
          .as("hll_estimate"))
    val exact = hashed.groupBy(col("g"))
      .agg(countDistinct(col("h")).as("n_exact"))
    est.join(exact, Seq("g"))
      .select(col("g").as("group_key"), col("n_exact"), col("hll_estimate"))
  }

  // --------------------------------------------------------------------
  // Retrieval-infrastructure and LM-statistics operators
  // --------------------------------------------------------------------

  /** Exact integer floor(log2 x) for x ≥ 1, as a comparison chain (the
    * hllRho doctrine: no float log2, whose boundary rounding can disagree
    * cross-engine). x ≤ 2^maxBits+1; x < 1 yields 0. */
  def floorLog2(x: Column, maxBits: Int = 48): Column =
    (0 to maxBits).foldLeft(lit(0): Column) { (acc, p) =>
      when(x >= lit(1L << p), p).otherwise(acc)
    }
  def floorLog2Sql(x: String, maxBits: Int = 48): String =
    "(CASE " + (maxBits to 0 by -1).map(p =>
      s"WHEN $x >= ${1L << p} THEN $p").mkString(" ") + " ELSE 0 END)"

  /** Quantized unigram surprisal per document: mean over the doc's tokens
    * of floor(log2 N) − floor(log2 cnt(t)) — log2(N/cnt(t)) to within one
    * bit, in EXACT integer arithmetic. This is the LM-filtering signal
    * proper (CCNet/KenLM rank documents by mean token log-probability);
    * tokenRarity's N/cnt carries the same ordering only per-token —
    * averaged over a document the linear form is dominated by its rarest
    * token, while the log form (this one) is the additive code-length a
    * real LM perplexity filter uses. The quantization is what makes it
    * oracle-exact: per-token bits are integers, the per-doc sum is an
    * integer (no DECIMAL workaround needed), and the only float op is the
    * final mean division.
    *
    * Scale shape = tokenRarity exactly: one vocabulary groupBy, byte-gated
    * broadcast (under budget) or SHUFFLE_HASH (over) back onto the token
    * stream, one per-doc aggregation. */
  def unigramSurprisal(docs: org.apache.spark.sql.DataFrame, id: String,
                       text: String,
                       broadcastBudgetBytes: Long = 256L * 1024 * 1024)
    : org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col(id).as("uid"), explode(split(col(text), " ")).as("t"))
      .filter(length(col("t")) > 0)
    val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    // one 1-row agg: N for the score AND the byte-gate sizing (the
    // tokenRarity pattern — sanctioned driver pull)
    val sizing = toks.agg(count(lit(1)),
      approx_count_distinct(col("t")), avg(length(col("t")))).collect()(0)
    val total = sizing.getLong(0)
    val nVocab = sizing.getLong(1)
    val avgLen = if (sizing.isNullAt(2)) 0.0 else sizing.getDouble(2)
    val estBytes = (nVocab * (avgLen * 2.0 + 48.0)).toLong
    val nBits = if (total < 1) 0 else 63 - java.lang.Long.numberOfLeadingZeros(total)
    val scored =
      if (estBytes <= broadcastBudgetBytes) toks.join(broadcast(vocab), "t")
      else toks.join(vocab.hint("SHUFFLE_HASH"), "t")
    scored
      .withColumn("bits", lit(nBits) - floorLog2(col("cnt")))
      .groupBy(col("uid"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
      .select(col("uid").as(id), col("n_tokens"),
        r6(col("sum_bits").cast("double") / col("n_tokens").cast("double"))
          .as("mean_surprisal_bits"))
  }

  /** Quantized BIGRAM conditional surprisal per document: mean over the
    * doc's adjacent token pairs of floor(log2 cnt(prev,*)) − floor(log2
    * cnt(prev,cur)) — the conditional code length −log2 P(cur|prev) to
    * within one bit, in exact integer arithmetic. unigramSurprisal one
    * modeling order up: a document of individually-common tokens in
    * IMPROBABLE order (shuffled text, word salad, template spam) scores
    * high here while the unigram filter cannot see it. cnt(prev,*) is the
    * count of `prev` as a bigram HEAD (the proper conditional
    * denominator), not its corpus unigram count — last tokens of docs
    * never head a bigram.
    *
    * Scale shape: one bigram-vocabulary groupBy and one head-count
    * groupBy (both map-side combinable), joined back onto the doc's
    * bigram stream. The bigram vocabulary is NOT force-broadcast (it can
    * approach vocab² — the q70 rule; AQE picks broadcast when it fits).
    * Per-pair bits are integers, the per-doc sum is an integer, and the
    * only float op is the final mean — the oracle-exactness doctrine. */
  def bigramSurprisal(docs: org.apache.spark.sql.DataFrame, id: String,
                      text: String): org.apache.spark.sql.DataFrame = {
    // split ONCE behind a projection barrier: passing split(text) directly
    // into wordBigrams inlines it into the transform lambda, where the
    // interpreted HOF re-splits the whole text for EVERY element (no CSE
    // inside lambdas — the q113 lesson) — quadratic per document
    val bi = docs
      .select(col(id).as("bid"), split(col(text), " ").as("ts"))
      .select(col("bid"), explode(wordBigrams(col("ts"))).as("bg"))
    val biCnt = bi.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    // head counts derive FROM the bigram vocabulary (sum of cb per head —
    // map-side combinable, no second corpus pass), and the 49-term
    // floor-log2 comparison chains evaluate per DISTINCT bigram —
    // vocabulary-sized work; the corpus stream pays exactly one join
    // against the scored vocabulary. No window: a stopword head can head
    // millions of distinct bigrams at corpus scale, and a window
    // partition would serialize it where the aggregate+join stays
    // AQE-skew-splittable (the q120/q132 doctrine).
    val withHead = biCnt.withColumn("pv", split(col("bg"), " ").getItem(0))
    val headCnt = withHead.groupBy(col("pv")).agg(sum(col("cb")).as("cp"))
    val scored = withHead.join(headCnt, "pv")
      .select(col("bg"), (floorLog2(col("cp")) - floorLog2(col("cb"))).as("bits"))
    bi.join(scored, "bg")
      .groupBy(col("bid"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
      .select(col("bid").as(id), col("n_bigrams"),
        r6(col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_cond_bits"))
  }

  /** Quantized STUPID BACKOFF trigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" §4): per trigram (w1 w2 w3),
    * S(w3|w1w2) = c(w1w2w3)/c(w1w2·) when the trigram survives pruning,
    * backing off to α·c(w2w3)/c(w2·) then α²·c(w3)/N — the industrial
    * n-gram LM filter whose pruned backoff a self-scored corpus never
    * exercises without `prune3`/`prune2` (every observed trigram has
    * count ≥ 1; pruning models the SHIPPED LM, which drops rare n-grams).
    * Completes the code-length ladder: unigramSurprisal (order 0),
    * bigramSurprisal (order 1), this (order 2 with real backoff).
    *
    * Quantization keeps it oracle-exact end-to-end: path bits are
    * floor-log2 integer chains — trigram flog2(c(w1w2·))−flog2(c(w1w2w3)),
    * bigram + `penaltyBits`, unigram + 2·`penaltyBits` — where
    * `penaltyBits`=1 is the 1-bit quantization of −log2 α for Brants'
    * α=0.4 (1.32 bits; the per-path constant keeps ordering). Denominators
    * are HEAD counts (c(w1w2·) = the bigram's occurrences as a trigram
    * head), the proper conditional mass — doc-final bigrams never head a
    * trigram, exactly as bigramSurprisal's cnt(prev,*).
    *
    * Scale shape (the bigramSurprisal doctrine, one order up): three
    * map-side-combinable vocabulary aggregates (trigram / bigram / token),
    * head counts derived FROM those vocabularies (no second corpus pass),
    * floor-log2 chains evaluated per DISTINCT n-gram — vocabulary-sized
    * work — and the corpus trigram stream pays exactly three left joins
    * against the scored vocabularies. Nothing is force-broadcast (trigram
    * vocabulary ~ corpus-sized; AQE broadcasts the sides that fit). */
  def backoffTrigramBits(docs: org.apache.spark.sql.DataFrame, id: String,
                         text: String, prune3: Int = 3, prune2: Int = 2,
                         penaltyBits: Int = 1): org.apache.spark.sql.DataFrame =
    scoreWithBackoffLm(docs, id, text,
      trainBackoffLm(docs, text, prune3, prune2, penaltyBits))

  /** The trained, pruned LM [[backoffTrigramBits]] scores against: three
    * SCORED vocabularies (n-gram → integer path bits). Train once on a
    * reference corpus, score any batch OR stream against it
    * ([[scoreWithBackoffLm]] is stream-compatible — the train side is
    * where all the corpus aggregation lives). */
  final case class BackoffLm(triScored: org.apache.spark.sql.DataFrame,
                             biScored: org.apache.spark.sql.DataFrame,
                             uniScored: org.apache.spark.sql.DataFrame)

  def trainBackoffLm(reference: org.apache.spark.sql.DataFrame, text: String,
                     prune3: Int = 3, prune2: Int = 2,
                     penaltyBits: Int = 1): BackoffLm = {
    // projection barrier: split once, HOFs index the materialized array
    // (the q142 lesson — expressions passed into lambdas re-evaluate per
    // element)
    val arr = reference.select(split(col(text), " ").as("ts"))
    val tri = arr
      .select(explode(wordTrigramKeys(col("ts"))).as("k"))
      .select(col("k.tg"), col("k.h2"))
    val bi = arr
      .select(explode(wordBigrams(col("ts"))).as("bg"))
    // no empty-token filter: the trigram stream is unfiltered, and the
    // unigram floor must cover every w3 the backoff cascade can reach
    val uni = arr.select(explode(col("ts")).as("w"))
    // vocabulary aggregates; head counts derive from them (map-side
    // combinable sums over the already-bounded vocab)
    val c3 = tri.groupBy(col("tg"), col("h2")).agg(count(lit(1)).as("n3"))
    val h2c = c3.groupBy(col("h2")).agg(sum(col("n3")).as("n2h"))
    val c2 = bi.groupBy(col("bg")).agg(count(lit(1)).as("nb"))
      .withColumn("hw", split(col("bg"), " ").getItem(0))
    val h1c = c2.groupBy(col("hw")).agg(sum(col("nb")).as("n1h"))
    val c1 = uni.groupBy(col("w")).agg(count(lit(1)).as("nu"))
    val nTotal = uni.agg(count(lit(1)).as("nt"))
    BackoffLm(
      c3.filter(col("n3") >= prune3).join(h2c, "h2")
        .select(col("tg"), (floorLog2(col("n2h")) - floorLog2(col("n3"))).as("bits3")),
      c2.filter(col("nb") >= prune2).join(h1c, "hw")
        .select(col("bg").as("b2"),
          (floorLog2(col("n1h")) - floorLog2(col("nb")) + penaltyBits).as("bits2")),
      c1.crossJoin(broadcast(nTotal))
        .select(col("w").as("w3"),
          (floorLog2(col("nt")) - floorLog2(col("nu")) + 2 * penaltyBits).as("bits1")))
  }

  /** Score `docs` (batch or STREAMING — every step is a row-local
    * projection, three stream-static left joins, and one per-doc
    * aggregation) against a trained [[BackoffLm]]. A w3 outside the LM's
    * unigram floor (never possible self-scored, possible for a stream
    * scoring AGAINST a reference LM) pays the out-of-vocabulary ceiling:
    * flog2-chain bits for count 1 + 2·penalty — the code length of a
    * hapax, the standard OOV convention. */
  def scoreWithBackoffLm(docs: org.apache.spark.sql.DataFrame, id: String,
                         text: String, lm: BackoffLm)
    : org.apache.spark.sql.DataFrame = {
    val arr = docs.select(col(id).as("bid"), split(col(text), " ").as("ts"))
    val tri = arr
      .select(col("bid"), explode(wordTrigramKeys(col("ts"))).as("k"))
      .select(col("bid"), col("k.tg"), col("k.b2"), col("k.w3"))
    // OOV ceiling: a w3 outside the LM's unigram floor takes the bits of
    // a hapax — flog2(N) − flog2(1) + 2·penalty = the LM's MAX unigram
    // bits (a 1-row static-side aggregate, broadcast; never fires
    // self-scored, so q145's oracle is unaffected)
    val oov = lm.uniScored.agg(max(col("bits1")).as("bits_oov"))
    tri
      .join(lm.triScored, Seq("tg"), "left")
      .join(lm.biScored, Seq("b2"), "left")
      .join(lm.uniScored, Seq("w3"), "left")
      .crossJoin(broadcast(oov))
      .withColumn("bits",
        coalesce(col("bits3"), col("bits2"), col("bits1"), col("bits_oov")))
      .groupBy(col("bid"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("bits3").isNotNull.cast("long")).as("n_tri_hits"),
        sum((col("bits3").isNull && col("bits2").isNotNull).cast("long")).as("n_bi_hits"),
        sum((col("bits3").isNull && col("bits2").isNull).cast("long")).as("n_uni_hits"),
        sum(col("bits")).as("sum_bits"))
      .select(col("bid").as(id), col("n_trigrams"), col("n_tri_hits"),
        col("n_bi_hits"), col("n_uni_hits"), col("sum_bits"),
        r6(col("sum_bits").cast("double") / col("n_trigrams").cast("double"))
          .as("mean_backoff_bits"))
  }

  /** Adjacent trigram keys of a token array (empty below 3 tokens), each a
    * struct of the full trigram, its head bigram (w1 w2), backoff bigram
    * (w2 w3), and w3 — emitted together so the scoring joins and head
    * aggregates need no re-splitting (split-free also keeps empty-string
    * tokens from corrupting key derivation). */
  private def wordTrigramKeys(toks: Column): Column =
    when(size(toks) < 3,
        array().cast("array<struct<tg:string,h2:string,b2:string,w3:string>>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 2), i =>
        struct(
          concat(element_at(toks, i), lit(" "), element_at(toks, i + 1),
            lit(" "), element_at(toks, i + 2)).as("tg"),
          concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)).as("h2"),
          concat(element_at(toks, i + 1), lit(" "), element_at(toks, i + 2)).as("b2"),
          element_at(toks, i + 2).as("w3"))))

  /** Multi-length STOP-PHRASE dictionary scrub: derive a phrase blocklist
    * from the corpus itself — the `topBi` most frequent word bigrams and
    * `topTri` most frequent trigrams (count DESC, phrase ASC tie-break: a
    * deterministic, cross-engine total order) — then remove every token
    * covered by ANY occurrence of a blocklisted phrase and return the
    * byte-pinned rewrite. The phrase-dictionary analog of
    * [[stripBoilerplate]] (which keys on whole lines) and the PII scrub
    * (which keys on regex shapes): template spam and navigation
    * boilerplate live at the PHRASE level, below the line and above the
    * token. An externally-supplied blocklist plugs into the same
    * machinery ([[phraseScrub]]); the corpus-derived default is what the
    * oracle can replay exactly.
    *
    * Scale shape: phrase mining is two map-side-combinable vocabulary
    * aggregates + a bounded top-k (no window over the corpus); matching
    * emits positional L-grams ONLY for the (few, driver-known-bounded)
    * distinct phrase lengths in the dictionary and equi-joins each
    * against the broadcast-small dictionary — hot phrases die map-side
    * under the broadcast. Coverage explodes matched occurrences only
    * (L rows each — matched volume, not corpus volume); the rebuild is
    * the removeDuplicatedSpans per-document reassembly, cell-bounded by
    * doc length (§8.12 audit class). */
  def stopPhraseScrub(docs: org.apache.spark.sql.DataFrame, id: String,
                      text: String, topBi: Int = 8, topTri: Int = 4)
    : org.apache.spark.sql.DataFrame = {
    val arr = docs.select(col(id).as("sid"), split(col(text), " ").as("ts"))
    val bi = arr.select(explode(wordBigrams(col("ts"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p")).limit(topBi)
      .select(col("p"), lit(2).as("plen"))
    val tri = arr.select(explode(wordTrigramKeys(col("ts"))).as("k"))
      .select(col("k.tg").as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p")).limit(topTri)
      .select(col("p"), lit(3).as("plen"))
    phraseScrub(docs, id, text, bi.unionAll(tri))
  }

  /** [[stopPhraseScrub]]'s matching+rewrite half over a caller-supplied
    * dictionary (`phrase`, token-length) frame. Output: one row per input
    * doc — (id, n_before, n_after, clean_md5), where clean_md5 pins the
    * BYTES of the space-rejoined kept tokens (empty-string md5 when every
    * token is covered). */
  def phraseScrub(docs: org.apache.spark.sql.DataFrame, id: String,
                  text: String, dict: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
    val first = dict.columns(0)
    val second = dict.columns(1)
    // int-normalize the length column so an external dictionary with a
    // BIGINT length (the natural type of a SQL count) plugs in unchanged
    val d = dict.select(col(first).as("g"), col(second).cast("int").as("plen"))
    // distinct phrase lengths: dictionary-bounded driver pull (the
    // dictionary is broadcast-small by contract; its length SET is
    // smaller still)
    val lens = d.select(col("plen")).distinct().collect()
      .map(_.getInt(0)).sorted
    val arr = docs.select(col(id).as("sid"), split(col(text), " ").as("ts"))
    val tokens = arr
      .select(col("sid"), size(col("ts")).as("n_before"),
        posexplode_outer(col("ts")).as(Seq("p0", "t")))
      .filter(col("t").isNotNull)
      .select(col("sid"), col("n_before"), (col("p0") + 1).as("tp"), col("t"))
    val matched = lens.map { l =>
      arr.select(col("sid"), posexplode_outer(
          when(size(col("ts")) < l, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(col("ts")) - (l - 1)),
              i => concat_ws(" ", slice(col("ts"), i, lit(l)))))).as(Seq("q0", "g")))
        .filter(col("g").isNotNull)
        .select(col("sid"), (col("q0") + 1).as("mp"), col("g"), lit(l).as("plen"))
        .join(broadcast(d.filter(col("plen") === l).select(col("g"))), "g")
    }.reduce(_ unionAll _)
    val covered = matched
      .select(col("sid"),
        explode(sequence(col("mp"), col("mp") + col("plen") - 1)).as("tp"))
      .distinct()
    val kept = tokens.join(covered, Seq("sid", "tp"), "left_anti")
    val rebuilt = kept
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_after"),
        array_join(transform(
          array_sort(collect_list(struct(col("tp").as("o"), col("t").as("w")))),
          s => s.getField("w")), " ").as("clean"))
    docs.select(col(id).as("sid"), size(split(col(text), " ")).as("n_before"))
      .join(rebuilt, Seq("sid"), "left")
      .select(col("sid").as(id), col("n_before").cast("long").as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"))
  }

  /** Inverted index (token → document posting list) with a document-
    * frequency band as BOTH the signal filter and the skew guard: tokens
    * below `minDf` are hapax noise, tokens above `maxDf` are stopwords —
    * and at 100 TB a stopword's posting list is the unboundedly-skewed
    * key that would hot-spot the shuffle and produce a useless
    * gigabyte-long row. The band is enforced BEFORE any posting state
    * exists (two-pass, see invertedIndexTerms), so both the output AND
    * every intermediate aggregation cell are ≤ maxDf entries.
    * Postings are doc-ids sorted ascending, comma-joined — the
    * deterministic serialized form both engines produce identically. */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame, id: String,
                    text: String, minDf: Int = 2, maxDf: Int = 100)
    : org.apache.spark.sql.DataFrame =
    invertedIndexTerms(docs, id, split(col(text), " "), minDf, maxDf)

  /** invertedIndex over a caller-supplied term array (e.g. wordBigrams
    * for a phrase index, tokenGramFingerprints for a shingle index). */
  def invertedIndexTerms(docs: org.apache.spark.sql.DataFrame, id: String,
                         terms: Column, minDf: Int = 2, maxDf: Int = 100)
    : org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col(id).as("pid"), explode(terms).as("t"))
      .filter(length(col("t")) > 0)
    // TWO passes, because the one-shuffle collect_set-then-band form is a
    // state bomb: a stopword-grade term ("of the" in nearly every doc)
    // would accumulate a corpus-sized posting set in ONE aggregation cell
    // before the band filter ever saw it — invisible at 50k docs, an
    // executor OOM on exactly the skewed task at 10B.
    //
    // Pass 1 — df with NO posting state: dedup (term, doc) on the PAIR
    // key (a hot term's occurrences spread across reducers; per-cell
    // state is one row), then count per term — a map-side-combinable
    // 8-byte long no matter how hot the term. Lineage-truncated so the
    // pair relation computes once for its two consumers (df + join).
    val pairs = Dedup.truncateLineage(toks.distinct())
    val banded = pairs.groupBy(col("t"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, maxDf))
    // Pass 2 — postings ONLY for in-band terms: the join discards
    // out-of-band (hot) rows BEFORE the set aggregation, so every
    // collect_list cell holds ≤ maxDf entries BY CONSTRUCTION. The
    // banded-terms side is vocabulary-bounded and df-narrowed; AQE
    // broadcasts it when it fits, in which case hot-term rows die
    // map-side and never reach an exchange.
    pairs.join(banded, "t")
      .groupBy(col("t"), col("df"))
      .agg(sort_array(collect_list(col("pid"))).as("ps"))
      .select(col("t").as("token"), col("df"),
        array_join(transform(col("ps"), _.cast("string")), ",").as("postings"))
  }

  /** PMI collocations over adjacent word bigrams, scored as LIFT —
    * c_xy · N_uni² / (N_bi · c_x · c_y), the exponential of PMI. Keeping
    * the score in its rational form is the bm25Scores/tokenRarity
    * doctrine: one exactly-rounded divide of two exactly-converted
    * integer products instead of a cross-engine `ln`, with the identical
    * ranking (exp is monotone). `minCount` kills one-off pairings (PMI's
    * known low-count pathology) and bounds the output; integer products
    * stay under 2^63 for corpora to ~10¹² tokens (beyond that the score
    * moves to log space and becomes a ranking, not an oracle-exact
    * value — documented limit). */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame, text: String,
                      minCount: Int = 5): org.apache.spark.sql.DataFrame = {
    val toksArr = docs.select(split(col(text), " ").as("ts"))
    val uni = toksArr.select(explode(col("ts")).as("t"))
      .filter(length(col("t")) > 0)
    val uniCnt = uni.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val bi = toksArr.select(explode(wordBigrams(col("ts"))).as("bg"))
    // totals in ONE 1-row aggregate each side; joined in as broadcast
    // 1-row cross products — no driver pull on the answer path
    val nUni = uni.agg(count(lit(1)).as("n_uni"))
    val nBi = bi.agg(count(lit(1)).as("n_bi"))
    val biCnt = bi.groupBy(col("bg")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .withColumn("tok_x", split(col("bg"), " ").getItem(0))
      .withColumn("tok_y", split(col("bg"), " ").getItem(1))
    // uniCnt is vocabulary-sized — potentially unbounded, so NOT force-
    // broadcast (the q70 rule); AQE picks broadcast when it fits, else
    // both sides hash-shuffle on the token key they were grouped by.
    biCnt
      .join(uniCnt.select(col("t"), col("c").as("c_x")),
        col("tok_x") === col("t")).drop("t")
      .join(uniCnt.select(col("t"), col("c").as("c_y")),
        col("tok_y") === col("t")).drop("t")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBi))
      .select(col("tok_x"), col("tok_y"), col("c_xy"), col("c_x"), col("c_y"),
        r6((col("c_xy") * col("n_uni") * col("n_uni")).cast("double") /
          (col("n_bi") * col("c_x") * col("c_y")).cast("double")).as("lift"))
  }

  /** Cross-source token-distribution DRIFT: for every source pair, the
    * L1 distance between their relative frequencies over the corpus's
    * global top-`topK` tokens — the "did source X's language shift away
    * from Y" monitor a corpus-refresh pipeline runs per crawl. Kept in
    * INTEGER form: Σ_t |n_a(t)·N_b − n_b(t)·N_a| (the L1 scaled by
    * N_a·N_b — same ranking, exact cross-engine; the rational `drift`
    * column divides it back once, r6-rounded). EXACTNESS BOUND: the
    * n·N products must stay under 2^63, i.e. per-source token totals to
    * ~3·10⁹; beyond that move the pair stage onto DECIMAL images (the
    * Tables.dsum doctrine) — with ANSI off a silent 64-bit wrap would
    * otherwise diverge from the oracle.
    *
    * Scale shape: one (source, token) count aggregate (map-side
    * combinable), a global top-K token vocabulary from a bounded
    * aggregate, pair expansion only over |sources|²·topK cells — the
    * corpus is read once and never pair-joined. */
  def tokenDrift(docs: org.apache.spark.sql.DataFrame, source: String,
                 text: String, topK: Int = 100): org.apache.spark.sql.DataFrame = {
    require(topK >= 1, "tokenDrift needs topK >= 1")
    val toks = docs.select(col(source).as("src"),
        explode(split(col(text), " ")).as("t"))
      .filter(length(col("t")) > 0)
    // eager lineage truncation (the labelPropagation doctrine), NOT
    // persist+finally-unpersist: this function returns a LAZY plan, so a
    // finally-unpersist would evict the cache before the caller ever
    // executes — the heaviest aggregate would then recompute for each of
    // its three consumers (top / totals / cells)
    val bySrcTok: org.apache.spark.sql.DataFrame = Dedup.truncateLineage(
      toks.groupBy(col("src"), col("t")).agg(count(lit(1)).as("n")))
    val top = bySrcTok.groupBy(col("t"))
      .agg(sum(col("n")).as("nt"))
      .orderBy(col("nt").desc, col("t")).limit(topK)
      .select(col("t"))
    val totals = bySrcTok.groupBy(col("src")).agg(sum(col("n")).as("nn"))
    // RUNTIME overflow guard for the documented 2^63 bound: the pair
    // stage's products are n_a·N_b ≤ maxN², so maxN must stay ≤
    // floor(√(2^63−1)) ≈ 3.037e9 tokens per source. With ANSI off a
    // larger corpus would silently wrap and diverge from the oracle —
    // fail loudly and name the DECIMAL migration instead. The 1-row agg
    // reads the lineage-truncated bySrcTok, not the corpus.
    val maxNRow = totals.agg(max(col("nn"))).collect()(0)
    val maxN = if (maxNRow.isNullAt(0)) 0L else maxNRow.getLong(0)
    require(maxN <= 3037000499L,
      s"tokenDrift: per-source token total $maxN exceeds the 2^63 integer" +
        " product bound (~3.04e9 tokens/source); recompute the pair stage" +
        " on DECIMAL images (Tables.dsum doctrine) for corpora this large")
    // densified: a source that never uses a top token is an n=0 cell —
    // it still contributes |0·N_b − n_b·N_a| to the distance. The
    // dense grid is topK × |sources| rows, bounded by construction.
    val cells = broadcast(top).crossJoin(totals)
      .join(bySrcTok, Seq("t", "src"), "left")
      .select(col("t"), col("src"), coalesce(col("n"), lit(0L)).as("n"),
        col("nn"))
    val a = cells.select(col("t"), col("src").as("src_a"),
      col("n").as("na"), col("nn").as("fa"))
    val b = cells.select(col("t"), col("src").as("src_b"),
      col("n").as("nb"), col("nn").as("fb"))
    a.join(b, Seq("t")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(abs(col("na") * col("fb") - col("nb") * col("fa")))
        .as("l1_scaled"),
        max(col("fa")).as("n_a"), max(col("fb")).as("n_b"))
      .select(col("src_a"), col("src_b"), col("l1_scaled"),
        graft.Tables.r6(col("l1_scaled").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("drift"))
  }

  // --------------------------------------------------------------------
  // Unicode script profiling
  // --------------------------------------------------------------------

  /** Per-class codepoint counts for one Unicode script class: characters
    * IN the class = total length minus the length after stripping them.
    * Spark's string `length` counts CODEPOINTS (UTF8String.numChars walks
    * UTF-8 lead bytes), exactly like DuckDB's `length` — so the
    * difference is a codepoint count on both engines even for astral
    * text, which neither BMP class matches and which therefore lands in
    * `n_other` identically (spec-pinned on an emoji fixture). */
  private def classCount(text: Column, clazz: String): Column =
    (length(text) - length(regexp_replace(text, clazz, ""))).cast("long")


  /** Script classes as (name, Java-regex class, DuckDB/RE2 class). Java
    * accepts \uXXXX escapes in the class; RE2 wants \x{XXXX}. Same
    * codepoint ranges on both sides. */
  val ScriptClasses: Seq[(String, String, String)] = Seq(
    ("latin", "[A-Za-z]", "[A-Za-z]"),
    ("digit", "[0-9]", "[0-9]"),
    ("cjk", "[一-鿿]", "[\\x{4E00}-\\x{9FFF}]"),
    ("cyrillic", "[Ѐ-ӿ]", "[\\x{0400}-\\x{04FF}]"),
    ("greek", "[Ͱ-Ͽ]", "[\\x{0370}-\\x{03FF}]"))

  /** Unicode SCRIPT MIX per document: codepoint counts per script class
    * (Latin / digit / CJK / Cyrillic / Greek / other), the dominant
    * script, and a mixed-script flag — the homoglyph-spam and
    * mislabeled-language signal a multilingual curation pipeline gates on
    * (a "lang=en" doc that is 40% Cyrillic is either spam or mistagged;
    * CCNet keeps fastText lang-ID honest with exactly this histogram).
    *
    * Purely row-local Column expressions (whole-stage codegen, zero
    * shuffle at any scale): each class count is one regexp_replace
    * length-difference; `dominant` is a fixed-priority argmax (first
    * class in ScriptClasses order holding the max — deterministic under
    * ties cross-engine); `mixed` = at least two non-digit script classes
    * present. Space chars count in no class and not in n_chars. */
  def scriptMix(text: Column): Seq[Column] = {
    val noSpace = regexp_replace(text, " ", "")
    // length() here is CODEPOINT parity with DuckDB, astral text
    // included: Spark's string length walks UTF-8 lead bytes
    // (UTF8String.numChars — a 4-byte emoji counts ONCE, not as two
    // UTF-16 units), same as DuckDB's codepoint length. Measured, not
    // assumed: the CurationSpec astral fixture pins n_chars_nospace = 3
    // and n_other = 1 for "a<U+1F600>1".
    val total = length(noSpace).cast("long")
    val counts = ScriptClasses.map { case (n, j, _) =>
      n -> classCount(noSpace, j)
    }
    val known = counts.map(_._2).reduce(_ + _)
    val other = (total - known).as("n_other")
    val scriptCols = counts.map { case (n, c) => c.as(s"n_$n") }
    val maxCnt = counts.map(_._2).foldLeft(other.cast("long"))(
      (a, b) => greatest(a, b))
    // first class in declaration order that attains the max (same CASE
    // chain the oracle writes) — ties resolve in declaration order, so
    // the WHEN chain is built left-to-right:
    val dominantOrdered = counts.foldLeft(Option.empty[Column]) {
      case (None, (n, c)) => Some(when(c === maxCnt && c > 0, n))
      case (Some(acc), (n, c)) => Some(acc.when(c === maxCnt && c > 0, n))
    }.map(_.otherwise("other")).getOrElse(lit("other"))
    val scriptPresent = counts.filter(_._1 != "digit")
      .map { case (_, c) => when(c > 0, 1).otherwise(0) }
      .reduce(_ + _) + when(other > lit(0L), 1).otherwise(0)
    Seq(total.as("n_chars_nospace")) ++ scriptCols ++ Seq(other,
      dominantOrdered.as("dominant"),
      (scriptPresent >= 2).cast("int").as("mixed"))
  }

  /** Per-string codepoint frequency moments [n, Σcnt², n_distinct] via the
    * native one-pass kernel (functions.CharStats) — codegen'd, row-local,
    * zero shuffle. */
  def charStats(text: Column): Column = call_function("graft_char_stats", text)

  /** Character COLLISION (Simpson) index per document: Σ_c cnt(c)² / n² —
    * the probability two random character draws from the doc coincide.
    * The gibberish / repetition gate one alphabet below Gopher's token
    * rules: keyboard mash, "aaaa…" padding, and single-char ASCII art
    * score near 1, natural language near its unigram collision rate
    * (~0.06 English); works on text too short or too alien for token
    * rules. Chosen over character ENTROPY deliberately: entropy is a sum
    * of irrational p·log p terms whose float order differs cross-engine
    * (the priority-sampling A-ES argument), while the collision index is
    * integer moments and ONE correctly-rounded divide — oracle-exact by
    * construction. Codepoint counts (not UTF-16 units), matching DuckDB's
    * string_split(text, '') — the scriptMix parity rule.
    *
    * Scale: a pure projection over the scan — the histogram never leaves
    * the row (the TopBigramCount argument, one alphabet down). n² in
    * DECIMAL: a 10M-codepoint doc squares past 2^63. */
  def charCollisionIndex(docs: org.apache.spark.sql.DataFrame, id: String,
                         text: String): org.apache.spark.sql.DataFrame = {
    val dec = "decimal(38,0)"
    docs
      .select(col(id), charStats(col(text)).as("cs"))
      .select(col(id),
        element_at(col("cs"), 1).as("n_chars"),
        element_at(col("cs"), 3).as("n_distinct_chars"),
        graft.Tables.r6(element_at(col("cs"), 2).cast("double") /
          (element_at(col("cs"), 1).cast(dec) * element_at(col("cs"), 1))
            .cast("double")).as("collision"))
      .filter(col("n_chars") > 0)
  }

  /** READABILITY metrics per document — Flesch reading ease from fully
    * deterministic counts: words (non-empty whitespace tokens),
    * sentences (non-blank [.!?]+ segments, min 1), syllables (vowel
    * GROUPS across the text — the standard approximation, and exactly
    * replayable unlike dictionary syllabification). The score feeds
    * grade-level curriculum buckets and the low-quality tail filter
    * (navigation/boilerplate pages score absurdly high or low).
    *
    * Row-local: three regex/array counts and one arithmetic projection —
    * fused into the scan, no shuffle. The Flesch constants are exact
    * literals; ratios are single divides of exact longs, r6. */
  def readability(docs: org.apache.spark.sql.DataFrame, id: String,
                  text: String): org.apache.spark.sql.DataFrame = {
    val words = size(filter(split(col(text), " "), t => t =!= ""))
    val sentences = greatest(
      size(filter(split(col(text), "[.!?]+"), s => trim(s) =!= "")), lit(1))
    val syllables = size(
      regexp_extract_all(col(text), lit("[aeiouyAEIOUY]+"), lit(0)))
    docs.select(col(id), words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch", r6(lit(206.835) -
        lit(1.015) * (col("n_words").cast("double") /
          col("n_sentences").cast("double")) -
        lit(84.6) * (col("n_syllables").cast("double") /
          col("n_words").cast("double"))))
  }

  /** DISTINCTIVE TERMS per group — the log-free c-TF-IDF (BERTopic-style
    * cluster labeling): a term's score in group g is the lift
    * (tf_g / tokens_g) / (tf / tokens) — how over-represented the term
    * is in the group vs the corpus — and each group reports its top-k
    * by (lift DESC, term). The per-source keyword panel a data card
    * shows; pointwise like PMI (q105) but group-vs-corpus instead of
    * term-vs-term, and with NO logarithm (the no-ln doctrine): the lift
    * is (tf_g·tokens)/(tokens_g·tf) evaluated as IEEE products of
    * exactly-representable longs, r6-rounded — bit-equal cross-engine.
    *
    * Shape: one (group, term) count + one term count + one group count,
    * all map-side combinable 8-byte cells; the rank windows per group
    * over minCount-filtered terms. `minCount` keeps hapax noise out of
    * the lift tail (a frequency-1 term in a small group otherwise tops
    * every list). */
  def distinctiveTerms(docs: org.apache.spark.sql.DataFrame, group: Column,
                       text: String, topK: Int, minCount: Long = 5L)
    : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(group.as("g"),
        explode(split(col(text), " ")).as("term"))
      .filter(col("term") =!= "")
    val gt = toks.groupBy(col("g"), col("term")).agg(count(lit(1)).as("tfg"))
    val t = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val gsz = toks.groupBy(col("g")).agg(count(lit(1)).as("tokg"))
    val total = toks.agg(count(lit(1))).collect()(0).getLong(0) // 1-row sizing agg
    val lift = r6((col("tfg").cast("double") * lit(total.toDouble)) /
      (col("tokg").cast("double") * col("tf").cast("double")))
    val w = Window.partitionBy(col("g"))
      .orderBy(col("lift").desc, col("term"))
    gt.filter(col("tfg") >= minCount)
      .join(t, "term").join(gsz, "g")
      .withColumn("lift", lift)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("g").as("group_key"), col("rank"), col("term"),
        col("tfg"), col("lift"))
  }

  /** PATTERN-EXTRACTION audit: every match of `pattern` across the
    * corpus, rolled up per distinct matched string — the canary-string
    * audit a memorization review runs after training-set assembly
    * (planted canaries must appear exactly where they were planted and
    * nowhere else), and the same op inventories PII-shaped residue
    * (emails, keys) after scrubbing. Output per matched string: how
    * many docs carry it, total occurrences, and the smallest carrying
    * doc id (the review queue's entry point).
    *
    * Shape: regexp_extract_all is row-local and fused into the scan;
    * non-matching docs contribute nothing to the explode; the rollup
    * keys on the matched string (match-cardinality-bounded, tiny for
    * canary audits). The pattern travels as a `lit` through the typed
    * function API — no SQL-literal round trip, so quotes and backslash
    * classes (\d, \b — typical for PII audits) reach the regex engine
    * exactly as the caller wrote them. */
  def patternExtractReport(docs: org.apache.spark.sql.DataFrame, id: String,
                           text: String, pattern: String)
    : org.apache.spark.sql.DataFrame = {
    docs.select(col(id).as("pid"),
        explode(regexp_extract_all(col(text), lit(pattern), lit(0)))
          .as("matched"))
      .groupBy(col("matched"))
      .agg(countDistinct(col("pid")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("pid")).as("first_id"))
  }

  /** CONJUNCTIVE (boolean-AND) search with BM25 ranking — the classic
    * retrieval query over the q92/q103 machinery: documents containing
    * EVERY query term, ranked by their BM25 sum, top-k. The AND filter
    * is `n_terms_hit = |distinct terms|` on [[bm25Scores]]' output — a
    * posting-intersection by counting, never a |terms|-way self-join.
    *
    * Scale: the corpus stage is q92's (explode filtered to the
    * broadcast term list — non-query terms die at the scan); the
    * conjunctive filter then bounds the rank input to docs containing
    * ALL terms (rare by construction for discriminative queries), and
    * top-k is TakeOrdered — the final rank window sees ≤ k rows. Ranks
    * are deterministic: r6 per-term scores summed as exact DECIMAL,
    * ties → smaller id. */
  def conjunctiveSearch(docs: org.apache.spark.sql.DataFrame, id: String,
                        text: String, queryTerms: Seq[String], topK: Int)
    : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = queryTerms.distinct
    val top = bm25Scores(docs, id, text, terms)
      .filter(col("n_terms_hit") === terms.size)
      .select(col(id), col("bm25"))
      .orderBy(col("bm25").desc, col(id))
      .limit(topK)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("bm25").desc, col(id))))
  }

  /** VOCABULARY GROWTH curve (the empirical Heaps'-law measurement):
    * cumulative distinct types and tokens as the corpus accumulates in
    * `bucket` order, plus per-bucket NEW types and how many of those are
    * corpus-wide hapax legomena (frequency-1 terms). A flattening curve
    * with a thin hapax tail marks template/duplicated text; a hapax
    * spike marks OCR noise or vocabulary drift — either way the curve is
    * the first artifact a corpus-quality review reads.
    *
    * Shape: each term aggregates to (first bucket, corpus frequency) —
    * one map-side-combinable groupBy(term) over the exploded tokens (an
    * 8-byte min + count per cell, heat-proof like q103's df) — then the
    * per-bucket rollup and prefix sums window over the ≤|buckets|-row
    * relation (the q56 bounded-relation class). A term counts as NEW in
    * the bucket where it FIRST appears; ties inside a bucket are one
    * first-appearance by construction (min). */
  def vocabularyGrowth(docs: org.apache.spark.sql.DataFrame, bucket: Column,
                       text: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(bucket.cast("int").as("b"),
        explode(split(col(text), " ")).as("term"))
      .filter(col("term") =!= "")
    val perTerm = toks.groupBy(col("term"))
      .agg(min(col("b")).as("fb"), count(lit(1)).as("freq"))
    val newTypes = perTerm.groupBy(col("fb").as("b"))
      .agg(count(lit(1)).as("new_types"),
        count(when(col("freq") === 1, 1)).as("new_hapax"))
    val tokCounts = toks.groupBy(col("b")).agg(count(lit(1)).as("n_tokens"))
    val w = Window.partitionBy(lit(1)).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokCounts.join(newTypes, Seq("b"), "left")
      .select(col("b"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        coalesce(col("new_hapax"), lit(0L)).as("new_hapax"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .withColumnRenamed("b", "bucket")
  }

  /** C4 cleaning filter (Raffel et al. 2020 §2.2 — the pass behind the
    * C4 corpus, still the canonical web-curation recipe), at the paper's
    * two levels. LINE rules — keep a line only if it (1) ends in a
    * terminal punctuation mark, (2) has ≥ `minWordsPerLine` words,
    * (3) doesn't contain "javascript" (the enable-JS boilerplate rule).
    * PAGE rules — drop the WHOLE doc when the text contains '{' (the
    * "no code" rule) or "lorem ipsum" (both page-level removals in the
    * paper, not line removals — a page with placeholder text or curly
    * braces anywhere is discarded entirely), or when fewer than
    * `minLinesPerDoc` lines survive the line rules. Distinct from the
    * Gopher filters (q68: doc-level repetition/ratio thresholds) — C4's
    * unit is the LINE, and the doc is rebuilt from kept lines.
    *
    * Scale shape: the entire filter is ONE row-local array projection
    * (split → filter lambda → array_join; the page rules are plain
    * substring predicates on the full text) — no explode, no shuffle, no
    * state; at 100 TB it pipelines inside whole-stage codegen on the
    * scan. Output: id, n_lines, n_kept (line-rule survivors, reported
    * even for page-dropped docs so the two levels stay independently
    * observable), kept_doc, and clean_md5 (md5 of the newline-rejoined
    * kept lines; NULL for dropped docs so the byte pin can't mask the
    * doc-level rules). */
  def c4LineFilter(docs: org.apache.spark.sql.DataFrame, id: String,
                   text: String, minWordsPerLine: Int = 5,
                   minLinesPerDoc: Int = 3): org.apache.spark.sql.DataFrame = {
    require(minWordsPerLine >= 1 && minLinesPerDoc >= 1,
      "c4LineFilter thresholds must be >= 1")
    val lines = split(col(text), "\n")
    val kept = filter(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(split(l, " ")) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    // Page-level per the paper: '{' and "lorem ipsum" anywhere in the
    // text discard the page. Checked on the full text (equivalent to
    // any-line: neither pattern can span a '\n' boundary).
    val pageClean = !col(text).contains("{") &&
      !lower(col(text)).contains("lorem ipsum")
    docs.select(col(id), size(lines).as("n_lines"), kept.as("_kept"),
        pageClean.as("_page_ok"))
      .select(col(id), col("n_lines"), size(col("_kept")).as("n_kept"),
        (col("_page_ok") && size(col("_kept")) >= minLinesPerDoc)
          .as("kept_doc"),
        when(col("_page_ok") && size(col("_kept")) >= minLinesPerDoc,
          md5(array_join(col("_kept"), "\n"))).as("clean_md5"))
  }
}
