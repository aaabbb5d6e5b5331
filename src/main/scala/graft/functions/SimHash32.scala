package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/**
 * 32-bit SimHash fingerprint of a document in ONE row-local pass: tokenize
 * on single spaces, hash each non-empty token (TextHashing.tokenHash's
 * ascii polynomial), accumulate ±1 per bit, emit the sign bits.
 *
 * A document's SimHash depends only on its OWN tokens, so the
 * explode→groupBy(doc) formulation (operators.Dedup
 * .simHashFingerprintsAggregate) ships |corpus tokens| rows through a
 * shuffle to compute what is really a projection. This kernel removes
 * that shuffle entirely — at 100 TB the fingerprint stage becomes pure
 * map-side work fused into the scan. Values are bit-identical to the
 * aggregate form (SimHashSigSpec pins corpus + degenerate/unicode inputs);
 * the DuckDB oracle is unchanged (same polynomial from SQL, tokenHashSql).
 *
 * Null/empty contract: a doc with no non-empty token produces NO row in
 * the aggregate form (its tokens are all filtered), so this kernel
 * returns null there and callers filter nulls — same visible set.
 */
object SimHash32 {

  /** Row-local SimHash kernel. Mirrors the composable chain
    * split(text,' ') → filter(length>0) → tokenHash → 32 ±1 counters →
    * sign bits: code-point semantics for ascii/substr/length, Java long
    * arithmetic, counter>0 sets the bit (ties → 0).
    * Returns null (boxed) when no non-empty token exists. */
  def compute(s: UTF8String): java.lang.Long = {
    val cps = s.toString.codePoints().toArray
    val counters = new Array[Int](32)
    var sawToken = false
    var start = 0
    val n = cps.length
    var i = 0
    while (i <= n) {
      if (i == n || cps(i) == ' ') {
        val len = i - start
        if (len > 0) {
          sawToken = true
          val c1 = cps(start).toLong
          val c2 = if (len > 1) cps(start + 1).toLong else 0L
          val c3 = if (len > 2) cps(start + 2).toLong else 0L
          val c4 = if (len > 3) cps(start + 3).toLong else 0L
          val h = c1 * 29791L + c2 * 961L + c3 * 31L + c4 + len * 131L
          var b = 0
          while (b < 32) {
            if (((h >> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    if (!sawToken) return null
    var fp = 0L
    var b = 0
    while (b < 32) {
      if (counters(b) > 0) fp |= 1L << b
      b += 1
    }
    java.lang.Long.valueOf(fp)
  }
}
