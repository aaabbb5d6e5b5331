package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Occurrence count of the MOST frequent adjacent word bigram within one
 * token array — the per-document statistic behind the Gopher-style
 * "fraction of tokens in the top 2-gram" repetition rule.
 *
 * Like SimHash, this is a function of a single row's tokens: the
 * explode → groupBy(doc, bigram) → groupBy(doc) max formulation shuffles
 * every bigram of the corpus twice to compute a row-local value. This
 * kernel counts within the row (one hash map over ~|tokens| entries) and
 * the repetition stage becomes a pure projection (TopBigramSpec pins
 * value parity with the aggregate shape and the Exchange-free plan).
 * Returns 0 when the doc has fewer than 2 tokens (no bigrams).
 */
object TopBigramCount {

  /** Row-local top-bigram kernel. Bigram identity is the space-joined
    * string — exactly TextAnalysis.wordBigrams' concat(left, ' ', right)
    * and the oracle's `toks[i] || ' ' || toks[i+1]`, so all three agree
    * (tokens from split(text, ' ') cannot contain the separator). Null
    * slots are skipped; intended input is split() output, which has
    * none. */
  def compute(a: ArrayData): Int = {
    val n = a.numElements()
    if (n < 2) return 0
    val counts = new java.util.HashMap[String, Int]()
    var best = 0
    var i = 0
    while (i < n - 1) {
      if (!a.isNullAt(i) && !a.isNullAt(i + 1)) {
        val key = a.getUTF8String(i).toString + " " + a.getUTF8String(i + 1).toString
        val c = counts.merge(key, 1, Integer.sum)
        if (c > best) best = c
      }
      i += 1
    }
    best
  }
}
