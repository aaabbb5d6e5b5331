package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-string CODEPOINT frequency moments in one row-local pass:
 * returns array<long> [n, sum(cnt_c^2), n_distinct] where cnt_c is the
 * occurrence count of codepoint c in the string.
 *
 * These three integers are the exact sufficient statistics for the
 * Simpson / collision index sum(cnt^2)/n^2 — the character-repetition
 * gibberish signal (keyboard mash, "aaaa…" padding, single-char art
 * score near 1; natural text near the language's unigram collision rate)
 * — without ever materializing a histogram relation: the
 * explode-codepoints → groupBy(doc, char) → groupBy(doc) formulation
 * shuffles every CHARACTER of the corpus twice for a row-local value
 * (the TopBigramCount argument, one alphabet down). Codepoints, not
 * UTF-16 units, so supplementary-plane text lands identically to
 * DuckDB's string_split(text, '') oracle (the scriptMix parity rule).
 *
 * Exactness doctrine: all three outputs are integers; the only float op
 * (the index division) happens downstream under r6 from exact operands.
 */
object CharStats {

  /** One pass over the string's codepoints; HashMap<Int codepoint, long
    * count>; sum of squares accumulated from the final counts. */
  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Long]()
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1L, java.lang.Long.sum)
      n += 1
      i += Character.charCount(cp)
    }
    var sumSq = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      sumSq += c * c
    }
    new GenericArrayData(Array[Any](n, sumSq, counts.size.toLong))
  }
}
