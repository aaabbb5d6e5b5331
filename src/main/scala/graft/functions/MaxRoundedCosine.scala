package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * max over the rows s of `right` (an array<array<float>> literal — the
 * MMR selected set) of r6(cosine(left, s)) — ONE kernel call replacing
 * the composable `greatest(r6(cos(e, s1)), …, r6(cos(e, sk)))` chain,
 * whose expression tree grows O(k) and whose plan compile time grows
 * ~O(k²) (the r12 verdict's mmrSelect future-proofing item; beyond
 * k ≈ 100 the chain dominates each selection round's cost).
 *
 * Bit-exact with the composable form it replaces (MaxCosineKernelSpec
 * pins it): per row, the same double accumulation as graft_cosine
 * (CosineSimilarity), then the same r6 — Spark's Round on DoubleType is
 * BigDecimal.valueOf(x*1e6).setScale(0, HALF_UP) with NaN/Infinity
 * passed through, mirrored verbatim here — then java.lang.Math.max,
 * which is `greatest`'s NaN-and-null-free ordering on the values this
 * produces. Null left or null right → null (the composable chain
 * null-propagates identically); an EMPTY selected set → null (callers
 * switch to the pure-relevance score on round 1, as mmrSelect does).
 */
object MaxRoundedCosine {

  /** Spark's Round(x, 0) on DoubleType: BigDecimal HALF_UP, NaN/∞ pass
    * through — the exact r6 the composable chain computes (and the PQ
    * kernels' distance rounding, Tables.drnd(c, 6)). */
  private[functions] def r6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e6

  /** Null (not -∞) for an empty selected set. */
  def compute(e: ArrayData, m: ArrayData): java.lang.Double = {
    val k = m.numElements()
    if (k == 0) return null
    var best = Double.NegativeInfinity
    var r = 0
    while (r < k) {
      best = math.max(best, r6(CosineSimilarity.compute(e, m.getArray(r))))
      r += 1
    }
    java.lang.Double.valueOf(best)
  }
}
