package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed BPE merge learning (Sennrich et al. 2016) — the tokenizer-
 * induction step of an LLM data pipeline: learn the top `rounds` byte-
 * pair merges of a corpus, most-frequent adjacent symbol pair first.
 *
 * Scale shape — the reason this is 100 TB-credible:
 * - The corpus is read ONCE, collapsed to (word, count) — a map-side-
 *   combinable aggregate whose output is the Heaps-bounded vocabulary
 *   (≪ corpus). Every subsequent round runs on that vocabulary only.
 * - Per round: one vocabulary-sized pair-count aggregate (weighted by
 *   word count, map-side combinable) whose 1-row argmax is COLLECTED
 *   (a bounded driver pull of one row — the codebook-pull class the
 *   collect audit sanctions) and inlined into the row-local array
 *   rewrite as literals. That is 2 driver-visible jobs per round: the
 *   pair-count shuffle and the argmax pull. The rewrite's lineage
 *   barrier is lazy, so the next round's pair-count shuffle fills its
 *   blocks and the barrier costs no job of its own (an eager barrier
 *   would be a third job per round; the last round's rewrite is never
 *   computed for [[bpeMerges]]). No round touches corpus-sized data;
 *   the learned merge list itself is driver-side and costs zero jobs
 *   to emit.
 * - Lineage is truncated per round (the labelPropagation doctrine), so
 *   plan depth stays O(1) per round instead of O(rounds), and each
 *   iterate's blocks are dropped once the iterate after it has filled.
 *
 * Determinism contract (what lets DuckDB replay it): the winning pair is
 * argmax by (count DESC, sym_a ASC, sym_b ASC) — a total order; the
 * rewrite is GREEDY LEFTMOST NON-OVERLAPPING (the reference BPE rule:
 * "aaa" + merge (a,a) → [aa, a]), implemented as a single left fold over
 * the symbol array (`aggregate` HOF: merge iff the accumulator's last
 * symbol is sym_a, the current is sym_b, and the last was not itself
 * produced by this round's merge). The oracle reproduces the identical
 * greedy selection positionally: consecutive match runs keep every other
 * position (parity rule) — the two formulations coincide because within
 * a run of overlapping matches greedy takes exactly the even offsets.
 *
 * Returns one row per learned merge: (round, sym_a, sym_b, pair_count).
 */
object Bpe {

  /** The learned state: (round, sym_a, sym_b, pair_count) per winning
    * merge — driver-side values, the 1-row-per-round argmax collects —
    * plus the vocabulary rewritten through all of them. */
  private case class Learned(bests: Seq[(Int, String, String, Long)],
                             vocab: DataFrame,
                             /** The iterate `vocab` is computed from:
                               * its blocks live until `vocab` is read. */
                             vocabSource: DataFrame)

  private def learn(docs: DataFrame, text: String, rounds: Int): Learned = {
    require(rounds >= 1, "need at least one merge round")
    val words = docs
      .select(explode(split(col(text), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // initial symbol inventory: one character per symbol. Every barrier
    // is LAZY: the next round's pair count is the action that fills its
    // blocks, so a round pays the pair count and nothing else.
    var syms = Dedup.truncateLineageLazy(
      words.select(col("w"), col("c"), split(col("w"), "").as("syms")))
    // the iterate the current `syms` is computed from: its blocks are
    // read until the pair count below has filled `syms`
    var prev: DataFrame = null
    val merges = (1 to rounds).map { r =>
      val pairs = syms.select(col("c"), explode(expr(
        """transform(slice(syms, 1, size(syms) - 1),
          |  (s, i) -> named_struct('sa', s, 'sb', element_at(syms, i + 2)))"""
          .stripMargin)).as("pr"))
      // the 1-row argmax is pulled to the driver (bounded, codebook-pull
      // class) and the winning pair enters the rewrite as LITERALS: the
      // pair-count shuffle (which fills `syms`) and this pull are the
      // round's only jobs
      val bestRow = pairs
        .groupBy(col("pr.sa").as("sa"), col("pr.sb").as("sb"))
        .agg(sum(col("c")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("sa"), col("sb"))
        .limit(1).collect()(0)
      if (prev != null) Dedup.releaseTruncated(prev)
      val (sa, sb) = (bestRow.getString(0), bestRow.getString(1))
      val saL = lit(sa)
      val sbL = lit(sb)
      val rewrite = aggregate(col("syms"),
        struct(array().cast("array<string>").as("out"), lit(false).as("just")),
        (acc, s) => when(!acc.getField("just") && size(acc.getField("out")) > 0 &&
            element_at(acc.getField("out"), -1) === saL && s === sbL,
          struct(
            concat(slice(acc.getField("out"), lit(1),
                size(acc.getField("out")) - 1),
              array(concat(saL, sbL))).as("out"),
            lit(true).as("just")))
          .otherwise(struct(
            concat(acc.getField("out"), array(s)).as("out"),
            lit(false).as("just"))),
        acc => acc.getField("out"))
      prev = syms
      syms = Dedup.truncateLineageLazy(
        syms.select(col("w"), col("c"), rewrite.as("syms")))
      (r, sa, sb, bestRow.getLong(2))
    }
    Learned(merges, syms, prev)
  }

  def bpeMerges(docs: DataFrame, text: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // driver-side values → a local relation: emitting the learned table
    // costs zero jobs, and the last rewrite is never computed
    val learned = learn(docs, text, rounds)
    Dedup.releaseTruncated(learned.vocab)
    Dedup.releaseTruncated(learned.vocabSource)
    learned.bests.toDF("round", "sym_a", "sym_b", "pair_count")
  }

  /** Tokenize the corpus under the learned merges — per doc, the BPE
    * token and word counts. The scale insight: no document is ever
    * re-walked per round; the vocabulary (already rewritten during
    * learning) carries each word's final segmentation, and tokenization
    * is ONE equi join of the corpus word stream against that bounded
    * relation (AQE broadcasts it when it fits). This is how a 100 TB
    * corpus gets BPE-tokenized without per-row iteration. */
  def bpeTokenize(docs: DataFrame, id: String, text: String,
                  rounds: Int): DataFrame = {
    val vocab = learn(docs, text, rounds).vocab
      .select(col("w"), size(col("syms")).cast("long").as("nsym"))
    docs.select(col(id).as("did"), explode(split(col(text), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy(col("did"))
      .agg(sum(col("nsym")).as("n_bpe_tokens"), count(lit(1)).as("n_words"))
      .select(col("did").as(id), col("n_bpe_tokens"), col("n_words"))
  }

  /** Tokenizer FERTILITY per group (BPE pieces per whitespace word) under
    * the learned merges — the tokenizer-efficiency dashboard number a
    * multilingual pretraining run watches per language: a vocabulary
    * trained on English spends ~1.1 pieces/word there and 2–4× on
    * underrepresented scripts, silently shrinking their effective token
    * budget (the "tokenizer tax"). Same scale shape as [[bpeTokenize]]
    * (vocabulary join, never a per-doc walk); fertility is the exact
    * rational Σnsym/Σwords per group — two map-side-combinable longs and
    * ONE correctly-rounded divide (nonnegative, no signed-zero
    * exposure). */
  def bpeFertility(docs: DataFrame, group: String, text: String,
                   rounds: Int): DataFrame = {
    val vocab = learn(docs, text, rounds).vocab
      .select(col("w"), size(col("syms")).cast("long").as("nsym"))
    docs.select(col(group).as("g"), explode(split(col(text), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy(col("g"))
      .agg(sum(col("nsym")).as("n_bpe_tokens"), count(lit(1)).as("n_words"))
      .select(col("g").as(group), col("n_bpe_tokens"), col("n_words"),
        graft.Tables.r6(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double")).as("fertility"))
  }
}
