package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import graft.operators.TextHashing

/**
 * All `k` MinHash signature values of a gram-hash set in ONE pass over the
 * array: element j = min over the set of the j-th universal hash
 * (h*a_j + b_j) % P, with k = the banding profile's numHashes (16 for the
 * default profile, 30 for the scaled one); hash j is the same function
 * under every k because MinHashParamsScaled extends MinHashParams.
 * `wide = true` reduces h % P before the affine map — the form for WIDE
 * (md5-48 token or base-2^21 codepoint) hashes, where h*a would overflow
 * 64 bits. Registered once per (k, wide) under [[MinHashSignature.name]].
 *
 * Semantically identical to the composable forms
 *   array_min(transform(gs, h => (h*a_j + b_j) % P))            (narrow)
 *   array_min(transform(gs, h => ((h % P)*a_j + b_j) % P))      (wide)
 * for each j (TextHashing.minHashJ / minHashJWide) — same Java long
 * arithmetic (wrap on overflow, remainder sign follows the dividend),
 * same empty/null behavior. Why a kernel: `transform` is
 * CodegenFallback, so the composable form walks the set k times through
 * the interpreted lambda path and materializes k transformed arrays per
 * row; this walks it once (and reduces each wide h once, not k times),
 * keeping the signature projection inside whole-stage codegen
 * (MinHashSigSpec pins the equivalence). The DuckDB oracle is unchanged:
 * it recomputes the same polynomials from SQL (minHashJSql /
 * minHashJWideSql).
 */
object MinHashSignature {

  private val A: Array[Long] = TextHashing.MinHashParamsScaled.map(_._1).toArray
  private val B: Array[Long] = TextHashing.MinHashParamsScaled.map(_._2).toArray
  val MaxK: Int = A.length
  private val P: Long = TextHashing.P

  /** Registered SQL name of the (k, wide) kernel: graft_minhash_sig for
    * the default 16 narrow hashes, graft_minhash_sig<k> for other k, and
    * a `_wide` suffix for wide mode (graft_minhash_sig30_wide). */
  def name(k: Int, wide: Boolean): String =
    "graft_minhash_sig" + (if (k == 16) "" else k.toString) +
      (if (wide) "_wide" else "")

  /** One-pass k-min kernel. Plain JVM long
    * arithmetic == Spark's non-ANSI `*`/`+`/`%` on BIGINT, so the values
    * match the composable formulation bit-for-bit even where h*a+b would
    * wrap. Null elements are skipped and a set with no non-null element
    * gives null (array_min semantics). */
  def compute(gs: ArrayData, k: Int, wide: Boolean): ArrayData = {
    val n = gs.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!gs.isNullAt(i)) {
        seen = true
        val h = if (wide) gs.getLong(i) % P else gs.getLong(i)
        var j = 0
        while (j < k) {
          val v = (h * A(j) + B(j)) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (seen) new GenericArrayData(mins) else null
  }
}
