package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Column-level corpus profiler — the `ANALYZE`/data-quality report every
 * ingestion pipeline runs before training on a new dump (null rates,
 * cardinalities, value ranges per column; the Deequ/profiler pattern).
 * The reference exposes table metadata (context.py describe_table) but no
 * computed statistics; this is the data-quality superset the curation
 * stack needs.
 *
 * One aggregation pass over the table produces every metric for every
 * requested column (Catalyst plans the multi-DISTINCT agg with one
 * Expand — a single scan, map-side partials for the non-distinct
 * metrics), then one `stack` pivots the 1-row result into the per-column
 * report. No shuffle carries table-sized data: the exchange moves
 * partial aggregate states only.
 *
 * Exact-count contract: n_distinct is EXACT (count_distinct) by default
 * because the report is an oracle-checked artifact — but exact
 * multi-DISTINCT costs one Expand, which multiplies the scan's row
 * volume by C+1 at C profiled columns. WIDTH WARNING: at a 200-column
 * table the Expand alone is a 200× row blowup; for wide tables pass
 * `approxDistinct = true`, which swaps count_distinct →
 * approx_count_distinct (single-pass HLL partials, NO Expand — every
 * metric is then a plain map-side-combinable aggregate) and leaves every
 * other column of the report bit-identical (spec-pinned). The portable
 * cross-engine sketch alternative is TextAnalysis.hllDistinctTokens
 * (q100). min/max are computed on the NATIVE type (numeric min, not
 * lexicographic) and cast to string afterwards, so the report schema is
 * uniform across heterogeneous columns.
 */
object Profile {

  def columnProfile(df: DataFrame, cols: Seq[String],
                    approxDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    // the stack() pivot below interpolates the names into SQL text; a
    // quote/backtick would break the parse or mislabel rows, so reject
    // rather than emit a wrong report (profiled tables come from parquet
    // /JDBC schemas where such names are illegal anyway)
    cols.foreach { c =>
      require(!c.exists(ch => ch == '`' || ch == '\'' || ch == '\\'),
        s"columnProfile: unsupported character in column name: $c")
    }
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        (if (approxDistinct) approx_count_distinct(col(c))
         else count_distinct(col(c))).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__mn"),
        max(col(c)).cast("string").as(s"${c}__mx"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = cols.map { c =>
      s"'$c', __n, `${c}__nn`, `${c}__nd`, `${c}__mn`, `${c}__mx`"
    }.mkString(", ")
    one
      .select(expr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_rows, n_nonnull, n_distinct, min_str, max_str)"))
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_null"),
        col("n_distinct"), col("min_str"), col("max_str"))
  }

  /** Per-group row numbers by value WITHOUT a per-group window sort: a
    * `row_number().over(partitionBy(g).orderBy(v))` serializes each
    * group onto ONE task (per-group parallelism = 1 — at 100 TB with ~20
    * sources that is corpus/20 through a single external sort). Instead
    * the engine's one range rank, [[SuffixIndex.rangeRank]], in its
    * row_number form over (g, v): every partition holds a contiguous slice
    * of the (g, v) order and offsets come per (partition, group). Returns
    * `sel` plus `rn` and the group's row count `n`; the caller releases the
    * rank pin with [[Dedup.releaseTruncated]]. Tied values get arbitrary
    * rank ORDER but the value AT a rank is still the r-th smallest — all
    * any percentile interpolation reads.
    *
    * `sel` is pinned for the call: the range sampler and the exchange
    * both read it, and unpinned each would replay its scan. */
  private def groupRowNumbers(sel: DataFrame): DataFrame = {
    val in = Dedup.truncateLineage(sel)
    try SuffixIndex.rangeRank(in, Seq("g"), Seq("v"), "rn", dense = false)._1
    finally Dedup.releaseTruncated(in)
  }

  /** Per-group WINSORIZED statistics: clamp `value` to its group's
    * [pLo, pHi] exact interpolated percentiles and report the before/
    * after means plus clip counts — the outlier-robust score
    * normalization a curation pipeline applies before mixing quality
    * scores across sources (a source whose scorer saturates high would
    * otherwise dominate a mixture weighted on raw means).
    *
    * Exactness: percentile rule is the same (1-g)·lo + g·hi linear
    * interpolation as q58 / DuckDB quantile_cont. But NOT via the
    * `percentile` aggregate — that buffers every group value in ONE
    * aggregation cell (the q103-class state bomb: a 10B-row source is a
    * multi-GB cell). And NOT via a per-group window sort — that
    * serializes each group onto one task (per-group parallelism 1, the
    * fixed-parallelism scale killer). [[groupRowNumbers]] ranks
    * WITHIN groups in parallel; both percentiles' ≤8 bracketing rows per
    * group come out of ONE filter pass; the |groups|-sized threshold
    * relation joins back under AQE's own broadcast sizing (no forced
    * hint — the q120 rule).
    *
    * Means are DECIMAL-image exact ([[graft.Tables.davg]]): avg(double)
    * is run-order dependent in the last bits, a latent oracle flake the
    * repo's own dsum doctrine exists to prevent. */
  def winsorizedStats(df: DataFrame, group: String, value: String,
                      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val sel = df.select(col(group).as("g"), col(value).cast("double").as("v"))
    val withN = groupRowNumbers(sel)
    // pos is 1-based: 1 + p*(n-1); keep floor and ceil ranks only
    def pos(p: Double) = lit(1.0) + lit(p) * (col("n") - 1).cast("double")
    def interp(p: Double) = {
      val g = pos(p) - floor(pos(p))
      // threshold rounded to 6dp BEFORE clamping: the two engines'
      // interpolation float-op orders differ by ~1 ulp ((1-g)·lo + g·hi
      // vs lo + g·(hi-lo)); clamping against the rounded value makes the
      // comparison identical cross-engine (the r6 doctrine applied to an
      // INTERMEDIATE, because it feeds comparisons, not just output)
      graft.Tables.r6((lit(1.0) - max(g)) *
          max(when(col("rn") === floor(pos(p)).cast("long"), col("v"))) +
        max(g) *
          max(when(col("rn") === ceil(pos(p)).cast("long"), col("v"))))
    }
    def isBracket(p: Double) =
      col("rn") === floor(pos(p)).cast("long") ||
        col("rn") === ceil(pos(p)).cast("long")
    val thresholds0 = withN.filter(isBracket(pLo) || isBracket(pHi))
      .groupBy(col("g"))
      .agg(interp(pLo).as("t_lo"), interp(pHi).as("t_hi"))
    // the per-group threshold relation is the ONLY thing downstream
    // reads from the ranked pass: pin it (eager, |groups| rows — the
    // same cardinality class as the rank's offsets pull) and release the
    // corpus-sized rank pin NOW, instead of leaking it for the session
    // lifetime (the r10 storage-accumulation finding). The returned plan
    // reads sel + this small pin; the ContextCleaner reclaims its blocks
    // once the caller drops the DataFrame.
    val thresholds = Dedup.truncateLineage(thresholds0)
    Dedup.releaseTruncated(withN)
    val clipped = sel
      .join(thresholds, "g")
      .withColumn("w", least(greatest(col("v"), col("t_lo")), col("t_hi")))
    clipped.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") < col("t_lo"), 1).otherwise(0)).as("n_clip_lo"),
        sum(when(col("v") > col("t_hi"), 1).otherwise(0)).as("n_clip_hi"),
        graft.Tables.drnd(max(col("t_lo")), 4).as("p_lo"),
        graft.Tables.drnd(max(col("t_hi")), 4).as("p_hi"),
        graft.Tables.r6(graft.Tables.davg(col("v"))).as("mean_raw"),
        graft.Tables.r6(graft.Tables.davg(col("w"))).as("mean_wins"))
      .withColumnRenamed("g", group)
  }

  /** Cohen's kappa agreement between two binary classifiers, per group —
    * the "do my cheap rule filter and my learned classifier agree beyond
    * chance" eval every filter-stack change runs before shipping. Pure
    * integer confusion counts; kappa in RATIONAL form with one final
    * rounded divide (the bm25/tokenRarity doctrine): with marginal
    * products Pe·n² = (n00+n01)(n00+n10) + (n10+n11)(n01+n11),
    * kappa = (n·(n00+n11) − Pe·n²) / (n² − Pe·n²). One map-side-combinable
    * aggregation pass; group cells are 4 longs. */
  def agreementKappa(df: DataFrame, group: String, a: Column, b: Column)
    : DataFrame = {
    val ai = a.cast("boolean").cast("int")
    val bi = b.cast("boolean").cast("int")
    df.groupBy(col(group))
      .agg(
        sum(when(ai === 0 && bi === 0, 1).otherwise(0)).as("n00"),
        sum(when(ai === 0 && bi === 1, 1).otherwise(0)).as("n01"),
        sum(when(ai === 1 && bi === 0, 1).otherwise(0)).as("n10"),
        sum(when(ai === 1 && bi === 1, 1).otherwise(0)).as("n11"))
      .select(col(group), col("n00"), col("n01"), col("n10"), col("n11"),
        {
          // marginal products in DECIMAL (cast one factor first): LONG
          // n·n wraps past 2^63 for >3e9-row groups with ANSI off — the
          // trendSlope overflow class, closed the same way
          val dec = "decimal(38,0)"
          val n = col("n00") + col("n01") + col("n10") + col("n11")
          val pe2 = (col("n00") + col("n01")).cast(dec) * (col("n00") + col("n10")) +
            (col("n10") + col("n11")).cast(dec) * (col("n01") + col("n11"))
          val num = n.cast(dec) * (col("n00") + col("n11")) - pe2
          val den = n.cast(dec) * n - pe2
          graft.Tables.r6(when(den === 0, lit(1.0))
            .otherwise(num.cast("double") / den.cast("double"))).as("kappa")
        })
  }

  /** Gate-funnel attrition report: per group, how many rows survive each
    * PREFIX of an ordered gate chain — the "where did my corpus go"
    * table every curation pipeline publishes next to its final mix
    * (raw → length gate → lang gate → quality gate → …). Cumulative
    * conjunctions, not per-gate counts: n_after_k counts rows passing
    * gates 1..k TOGETHER, so each column minus the next is exactly the
    * attrition attributable to that gate given everything before it —
    * the ordering a pipeline actually executes.
    *
    * ONE map-side-combinable aggregate pass (|gates|+1 long cells per
    * group); the gate predicates evaluate row-local inside the scan
    * projection. Adding a gate never adds a pass. NULL predicate results
    * count as NOT passing (a gate that cannot evaluate must not wave a
    * row through). */
  def gateFunnel(df: DataFrame, group: Column, gates: Seq[(String, Column)])
    : DataFrame = {
    require(gates.nonEmpty, "gateFunnel needs at least one gate")
    val prefixes = gates.scanLeft(lit(true)) { case (acc, (_, g)) =>
      acc && coalesce(g, lit(false))
    }.tail
    val aggs = count(lit(1)).as("n_total") +:
      gates.zip(prefixes).map { case ((name, _), pred) =>
        sum(pred.cast("long")).as(s"n_after_$name")
      }
    df.groupBy(group.as("g")).agg(aggs.head, aggs.tail: _*)
  }

  /** RELIABILITY (calibration) curve of a score against a binary
    * reference: corpus-wide score quantile buckets × positive rate —
    * the diagram read next to [[agreementKappa]] when deciding a
    * classifier's quality-gate threshold (kappa says WHETHER the two
    * agree; this says WHERE on the score axis the agreement lives, and
    * whether the score is monotone against the reference at all).
    *
    * Bucketing needs a corpus-wide rank. NOT a window (`row_number()
    * OVER (ORDER BY …)` is a single-task global sort — the q152 lesson,
    * corpus-wide this time): [[groupRowNumbers]] under a constant
    * group ranks in parallel, ordered by (score, id) — a TOTAL order, so
    * tied scores with different labels land deterministically and the
    * oracle replays bucket membership exactly. bucket = (rn−1)·k div n
    * — exact integer division on both engines. Per bucket: exact count/
    * score-sum/positive-count longs, two r6 rationals.
    *
    * Scale: one range exchange (the rank), then |buckets| aggregation
    * cells. The score itself is whatever integer-exact Column the caller
    * passes (the q113 hashed margin here — integer end to end). */
  def reliabilityCurve(df: DataFrame, id: Column, score: Column,
                       label: Column, buckets: Int): DataFrame = {
    require(buckets >= 2, "need at least two buckets")
    val sel = df.select(lit(0).as("g"), struct(score, id).as("v"),
      score.cast("long").as("s"), label.cast("int").as("y"))
    val ranked = groupRowNumbers(sel)
    val out0 = ranked
      .withColumn("bucket", expr(s"((rn - 1) * $buckets) div n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("s")).as("sum_score"),
        sum(col("y")).as("n_pos"))
      .select(col("bucket"), col("n_docs"), col("sum_score"), col("n_pos"),
        graft.Tables.r6(col("sum_score").cast("double") /
          col("n_docs").cast("double")).as("mean_score"),
        graft.Tables.r6(col("n_pos").cast("double") /
          col("n_docs").cast("double")).as("pos_rate"))
    // the report is ≤ `buckets` rows: pin it eagerly and release the
    // corpus-sized rank pin here, instead of leaking it until the session
    // dies (the r10 storage-accumulation finding). Eagerness is native to
    // this operator — the rank pass already ran jobs.
    val out = Dedup.truncateLineage(out0)
    Dedup.releaseTruncated(ranked)
    out
  }

  /** K-ANONYMITY annotation over quasi-identifier columns — the release
    * governance gate beyond regex PII scrubbing: a row whose
    * quasi-identifier combination (lang × length bucket × …) is shared
    * by fewer than k rows re-identifies its subject by JOINING public
    * side tables, even with every direct identifier scrubbed (Sweeney
    * 2002 — 87% of the US population is unique under
    * {zip, birthdate, sex}). Annotates each row with its equivalence-
    * class size and a `suppressed` flag (size < k); the caller filters
    * or generalizes — returning the annotation rather than the filtered
    * relation keeps the suppressed MASS reportable (a release note must
    * say what was withheld).
    *
    * Scale: one map-side-combinable groupBy over the quasi tuple + one
    * equi-join back on it (AQE sizes the |classes| relation — usually a
    * broadcast). NOT a count window over the quasi key: same
    * fixed-parallelism class as every other window-vs-join call in this
    * repo. NULL quasi values form their own class (SQL groupBy
    * semantics) — correct for anonymity: all-NULL rows are
    * indistinguishable from each other, not from everyone. */
  def kAnonymityAnnotate(df: DataFrame, quasi: Seq[Column], k: Int)
    : DataFrame = {
    require(k >= 2, s"k-anonymity needs k >= 2, got $k")
    val qs = quasi.zipWithIndex.map { case (c, i) => c.as(s"qa_$i") }
    val sizes = df.groupBy(qs: _*).agg(count(lit(1)).as("qa_class_n"))
      .select((qs.indices.map(i => col(s"qa_$i").as(s"qb_$i")) :+
        col("qa_class_n")): _*)
    // null-SAFE equi keys: a plain equi-join drops NULL quasi values,
    // silently exempting all-NULL rows from suppression
    val cond = qs.indices.map(i => col(s"qa_$i") <=> col(s"qb_$i"))
      .reduce(_ && _)
    df.select(col("*") +: qs: _*)
      .join(sizes, cond)
      .withColumn("suppressed", (col("qa_class_n") < k).cast("int"))
      .drop((qs.indices.map(i => s"qa_$i") ++
        qs.indices.map(i => s"qb_$i")): _*)
  }

  /** k-anonymity with a GENERALIZATION ladder (the Mondrian practice,
    * fixed-hierarchy form): instead of suppressing every small class,
    * each row is released at the FINEST level of a caller-supplied
    * coarsening ladder whose equivalence class reaches k — e.g.
    * (lang, 100-char bucket) → (lang, 1000-char bucket) → (lang) —
    * and only rows failing even the coarsest level are suppressed.
    * Utility-preserving where [[kAnonymityAnnotate]] is all-or-nothing.
    *
    * CONSISTENCY requirement (documented contract): each coarser
    * level's tuple must be a FUNCTION of the finer one (drop a column,
    * widen a bucket). Then all rows of a finest-level class share every
    * coarser class too, so they release at the same level — a
    * generalization, never a per-row patchwork.
    *
    * Scale: one map-side-combinable groupBy + one null-safe join back
    * PER LEVEL (levels are 2–4 by construction — the ladder is a policy,
    * not data). Adding a level never rescans more than once. */
  def kAnonymityGeneralize(df: DataFrame, levels: Seq[Seq[Column]], k: Int)
    : DataFrame = {
    require(levels.nonEmpty, "need at least one level")
    require(k >= 2, s"k-anonymity needs k >= 2, got $k")
    var out = df
    levels.zipWithIndex.foreach { case (quasi, li) =>
      val qs = quasi.zipWithIndex.map { case (c, i) => c.as(s"qa${li}_$i") }
      val sizes = df.groupBy(qs: _*).agg(count(lit(1)).as(s"qn_$li"))
        .select((qs.indices.map(i => col(s"qa${li}_$i").as(s"qb${li}_$i")) :+
          col(s"qn_$li")): _*)
      val cond = qs.indices.map(i => col(s"qa${li}_$i") <=> col(s"qb${li}_$i"))
        .reduce(_ && _)
      out = out.select(col("*") +: qs: _*)
        .join(sizes, cond)
        .drop((qs.indices.map(i => s"qa${li}_$i") ++
          qs.indices.map(i => s"qb${li}_$i")): _*)
    }
    val level = levels.indices.foldRight(lit(-1)) { (li, acc) =>
      when(col(s"qn_$li") >= k, lit(li)).otherwise(acc)
    }
    out.withColumn("qa_level", level)
      .withColumn("suppressed", (col("qa_level") === -1).cast("int"))
      .drop(levels.indices.map(i => s"qn_$i"): _*)
  }

  /** Per-source DATA CARD: the one-table summary published next to a
    * released corpus (the Datasheets/Dolma practice) — volume, token
    * count, language share, exact-duplicate fraction, and the mean
    * char-collision (gibberish) score, one row per source. A composition
    * showcase: every signal reuses an audited kernel (wsTokenCount,
    * graft_char_stats, the q42 md5 dup grouping) in ONE doc-level
    * projection + one count-over-md5 exchange + one final aggregate.
    *
    * Exactness: counts and token sums are longs; mean_chars and shares
    * are single divides of exact longs; mean_collision averages the
    * per-doc MICRO-UNIT collision (round(Σcnt²/n²·10⁶) as long — the
    * drnd numerator), so the mean is Σmicro/(n·10⁶): exact integer
    * sums, one divide — never an order-dependent double sum (the
    * winsorize lesson). All outputs nonnegative.
    *
    * Scale: the dup count is count(*) OVER (PARTITION BY md5) — md5 is
    * a maximal-cardinality key, so the window's per-group serialization
    * (the reason this repo usually prefers joins) is groups of dup
    * multiplicity ≈ 1-2 rows: full parallelism, ONE text scan and ONE
    * exchange on the hash. (The pre-r12 form md5-scanned `docs` twice —
    * once for a group-count relation, once for the projection that
    * joined it — while the scaladoc claimed one projection + one join.)
    * Everything else is map-side combinable per source. */
  def dataCard(docs: DataFrame, source: String, lang: String,
               nChars: String, text: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cs = TextAnalysis.charStats(col(text))
    val n = element_at(cs, 1)
    val perDoc = docs.select(col(source).as("g"), col(lang).as("l"),
        col(nChars).cast("long").as("nc"),
        TextAnalysis.wsTokenCount(col(text)).cast("long").as("tok"),
        md5(col(text)).as("h"),
        when(n > 0, round(element_at(cs, 2).cast("double") /
          (n.cast(dec) * n).cast("double") * 1000000.0).cast("long"))
          .as("cmicro"))
      .withColumn("hc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    perDoc.groupBy(col("g").as(source))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        graft.Tables.r6(sum(col("nc")).cast("double") /
          count(lit(1)).cast("double")).as("mean_chars"),
        graft.Tables.r6(sum(when(col("l") === "en", 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("pct_en"),
        graft.Tables.r6(sum(when(col("hc") > 1, 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("dup_frac"),
        graft.Tables.r6(sum(col("cmicro")).cast("double") /
          (count(lit(1)) * 1000000L).cast("double")).as("mean_collision"))
  }

  /** BINOMIAL-MECHANISM noised count release — the privacy tier after
    * [[kAnonymityAnnotate]]'s suppression: small classes are withheld
    * (n < k → released NULL), surviving counts carry centered
    * Binomial(64, 1/2) noise (σ = 4), the integer-valued mechanism that
    * approximates Gaussian noise for differentially-private releases
    * (Dwork et al. 2006's binomial construction — release noise must be
    * sampled, yet this engine's gates demand replayability, so the draw
    * is PSEUDO-random from the group key + a caller seed: publish a new
    * seed per release or this is a fixed perturbation, not fresh noise;
    * the determinism is the oracle contract, the seed discipline is the
    * caller's).
    *
    * The draw is exactly replayable cross-engine with NO float math and
    * no ln (the repo's no-ln doctrine — libm log differs in the last ulp
    * between engines): md5(group_key:seed) is byte-identical in both
    * engines (the q42 doctrine), `translate` maps each of its first 16
    * hex chars to that nibble's popcount digit, and the 16-digit sum is
    * the Binomial(64, 1/2) draw; noise = draw − 32, released =
    * max(n + noise, 0). One map-side-combinable count aggregate; the
    * noise is a row-local projection over the |groups| relation. */
  def noisedRelease(df: DataFrame, group: Column, k: Int, seed: String)
    : DataFrame = {
    require(k >= 1, s"suppression threshold k must be >= 1, got $k")
    val pops = translate(
      substring(md5(concat(col("group_key").cast("string"), lit(":" + seed))), 1, 16),
      "0123456789abcdef", "0112122312232334")
    val noise = (1 to 16).map(i => substring(pops, i, 1).cast("int"))
      .reduce(_ + _) - lit(32)
    df.groupBy(group.as("group_key"))
      .agg(count(lit(1)).as("n"))
      .select(col("group_key"),
        when(col("n") < k, lit(null).cast("long"))
          .otherwise(greatest(col("n") + noise, lit(0L))).as("released"),
        (col("n") < k).cast("int").as("suppressed"))
  }

  /** BENFORD first-digit audit over a positive integer column — the
    * classic screen for fabricated or synthetically-generated numeric
    * data (real multi-decade magnitudes follow log10(1+1/d); generators
    * and copy-paste fraud usually don't). Reports, per leading digit,
    * the observed share, the Benford expectation, and |obs − exp|; the
    * caller reads Σ dev (total-variation distance) against their alarm
    * threshold.
    *
    * No-ln doctrine: the nine Benford expectations are r6 LITERALS
    * (log10(1+1/d) precomputed), not runtime logs; the leading digit is
    * the first [1-9] of the integer's decimal string (identical in both
    * engines — no floor(log10) magnitude walk); shares are single
    * exact-input double divides, r6. One map-side-combinable count per
    * digit — a 9-cell aggregate at any scale. */
  def benfordReport(df: DataFrame, value: Column): DataFrame = {
    val expected = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val v = abs(value.cast("long"))
    val digit = regexp_extract(v.cast("string"), "[1-9]", 0)
    val expCase = expected.zipWithIndex.foldLeft(lit(0.0)) {
      case (acc, (e, i)) => when(col("digit") === (i + 1), e).otherwise(acc)
    }
    df.filter(v > 0)
      .select(digit.cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("_total",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))))
      .select(col("digit"), col("n"),
        graft.Tables.r6(col("n").cast("double") / col("_total").cast("double"))
          .as("observed"),
        expCase.as("expected"))
      .withColumn("deviation",
        graft.Tables.r6(abs(col("observed") - col("expected"))))
  }

  /** WEAK-SUPERVISION majority vote: combine noisy labeling functions
    * (Snorkel-style LFs — cheap heuristics that label or ABSTAIN via
    * NULL) into one label per row with a confidence margin. The
    * aggregation is over each row's OWN ≤|lfs| votes, so the whole
    * operator is a row-local codegen'd projection — no shuffle, no
    * state, scales as one narrow corpus pass regardless of LF count.
    *
    * Winner = most votes, ties → lexicographically smallest label (the
    * deterministic tiebreak both engines replay); margin = top count −
    * runner-up count (0 on a tie, = top count when only one label got
    * votes); all-abstain rows keep label NULL with n_votes = 0 — they
    * go to the unlabeled pool, not to a default class. */
  def labelModelVote(df: DataFrame, id: Column, lfs: Seq[Column])
    : DataFrame = {
    require(lfs.nonEmpty, "labelModelVote needs at least one labeling function")
    val votes = filter(array(lfs: _*), v => v.isNotNull)
    // (−count, label) sorted ascending: head = max count, min label
    val ranked = array_sort(transform(array_distinct(votes), v =>
      struct((-size(filter(votes, x => x === v))).as("negc"), v.as("lbl"))))
    df.select(id.as("id"), votes.as("v"), ranked.as("r"))
      .select(col("id"),
        size(col("v")).as("n_votes"),
        when(size(col("r")) > 0, col("r").getItem(0).getField("lbl"))
          .as("label"),
        when(size(col("r")) === 0, lit(0))
          .when(size(col("r")) === 1, -col("r").getItem(0).getField("negc"))
          .otherwise(col("r").getItem(1).getField("negc") -
            col("r").getItem(0).getField("negc")).cast("int").as("margin"))
  }
}
