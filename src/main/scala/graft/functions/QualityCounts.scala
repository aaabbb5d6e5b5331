package graft.functions

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * The quality signals' integer counts in one pass over the UTF-8 bytes,
 * no copy of the document:
 *
 *  - `punct = true`: codepoints outside `[a-zA-Z0-9 ]` — the integer
 *    `length(regexp_replace(s, '[a-zA-Z0-9 ]', ''))` gives (every byte
 *    that starts a codepoint and is not an ASCII letter, digit or space;
 *    a multi-byte codepoint's lead byte is never one, its continuation
 *    bytes `10xxxxxx` start none);
 *  - `punct = false`: spaces + 1 — the integer `size(split(s, ' '))`
 *    gives (split keeps leading, trailing and adjacent empty tokens, and
 *    0x20 never occurs inside a multi-byte codepoint).
 *
 * Why a kernel: the composable forms (`TextAnalysis.punctRatioComposable`
 * and friends, kept as the spec oracle) rewrite every document with a
 * regex and split it into token strings per signal, about 24× the CPU of
 * this pass over the same texts. QualityCountsSpec pins the integers and
 * the r6 doubles built on them.
 */
object QualityCounts {

  def compute(s: UTF8String, punct: Boolean): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var count = 0
    var i = 0
    if (punct) {
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        if ((b & 0xC0) != 0x80 && !(b == ' ' || (b >= '0' && b <= '9') ||
            (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z'))) count += 1
        i += 1
      }
    } else {
      count = 1
      while (i < n) {
        if (Platform.getByte(base, off + i) == ' ') count += 1
        i += 1
      }
    }
    count
  }
}
