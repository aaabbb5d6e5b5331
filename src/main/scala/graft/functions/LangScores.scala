package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * All language stopword-panel scores in ONE row-local pass: returns
 * array<long> with one score per `TextAnalysis.LangMarkers` language,
 * score = Σ over the language's marker words of the non-overlapping
 * left-to-right occurrence count of " word " in the space-padded text.
 *
 * Exactly the semantics of the composable form
 * (`TextAnalysis.stopwordScore`: length-difference over
 * `regexp_replace(padded, " w ", "")` per word — marker words are
 * regex-metachar-free, and regexp_replace's all-occurrence scan resumes
 * AFTER each match, which is precisely an indexOf loop stepping by the
 * pattern length), so the q49/q76 DuckDB oracles are untouched.
 * LangScoresSpec pins the equivalence including the consecutive-
 * stopword edge (" the the " counts ONE — the shared space is consumed
 * by the first match).
 *
 * Why a kernel: the composable form is |langs|·|words| = 24 independent
 * regexp_replace calls, each a full scan that MATERIALIZES a rewritten
 * copy of the document — ~24 allocations of doc-sized strings per row —
 * and the resulting expression tree is what pushed the round-14
 * composed-funnel stage past janino's 64 KB generated-method limit into
 * interpreted fallback (SCALING.md round 14). The kernel is 24
 * allocation-free indexOf scans behind one call site, the same
 * one-pass-kernel pattern as graft_minhash_sig / graft_char_stats.
 */
object LangScores {

  /** Padded marker patterns per language, frozen from LangMarkers at
    * class-load — the panel definition lives in ONE place
    * (TextAnalysis); this is just its compiled form. */
  private val patterns: Array[Array[String]] =
    graft.operators.TextAnalysis.LangMarkers
      .map { case (_, ws) => ws.map(w => s" $w ").toArray }.toArray

  def compute(s: UTF8String): ArrayData = {
    val t = " " + s.toString + " "
    val out = new Array[Any](patterns.length)
    var li = 0
    while (li < patterns.length) {
      var score = 0L
      val ps = patterns(li)
      var wi = 0
      while (wi < ps.length) {
        val pat = ps(wi)
        var idx = t.indexOf(pat)
        while (idx >= 0) {
          score += 1
          // resume AFTER the match — regexp_replace's non-overlapping
          // scan, so " the the " counts one (shared space consumed)
          idx = t.indexOf(pat, idx + pat.length)
        }
        wi += 1
      }
      out(li) = score
      li += 1
    }
    new GenericArrayData(out)
  }
}
