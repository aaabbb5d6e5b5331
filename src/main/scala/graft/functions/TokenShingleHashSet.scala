package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Sorted distinct md5-48 hash set of the TOKEN k-shingles of an
 * array<string> of tokens in ONE pass: shingle i is md5 of the UTF-8
 * bytes of tokens [i, i+k) joined by " ", keeping the digest's first 6
 * bytes big-endian (== hex48(md5(..)), TextAnalysis.md5Hash48). An array
 * with fewer than k tokens yields its one whole-array shingle. Feeds the
 * token-profile MinHash and its verify stage (operators.Dedup
 * .tokenShingleSets).
 *
 * Semantically identical to the composable form
 *   sort_array(array_distinct(transform(sequence(1, greatest(size(ts)-k+1, 1)),
 *     i => md5Hash48(concat_ws(" ", slice(ts, i, k))))))
 * (TextHashing.tokenShingleHashes; null tokens are skipped the way
 * concat_ws skips them) — except that a null token array gives null,
 * where the composable form hashes the empty string, so null text drops
 * out of the set relation like every other set builder. Why a kernel:
 * `transform` is CodegenFallback, so the composable form runs its lambda
 * interpreted once per shingle (slice + concat_ws + md5 + a 12-digit hex
 * parse), which was the largest share of the token-profile dedup pass.
 * This walks the tokens once, feeds the digest without building the
 * joined string, and stays inside whole-stage codegen. TokenShingleSpec
 * pins kernel ≡ composable form; the DuckDB oracle keeps the SQL form.
 */
object TokenShingleHashSet {

  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** One-pass shingle-hash-set kernel (k >= 1, checked at registration). */
  def compute(ts: ArrayData, k: Int): ArrayData = {
    val n = ts.numElements()
    val g = math.max(n - k + 1, 1)
    val md = md5.get()
    val hs = new Array[Long](g)
    var i = 0
    while (i < g) {
      var first = true
      var t = i
      val end = math.min(i + k, n)
      while (t < end) {
        if (!ts.isNullAt(t)) {
          if (!first) md.update(' '.toByte)
          md.update(ts.getUTF8String(t).getByteBuffer)
          first = false
        }
        t += 1
      }
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      hs(i) = h
      i += 1
    }
    GramHashSet.sortedDistinct(hs)
  }
}
