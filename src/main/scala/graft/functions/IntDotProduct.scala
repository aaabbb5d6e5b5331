package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Exact integer dot product over two Array[Int] quantized-code columns —
 * the integer-dot analog of [[CosineSimilarity]] for the int8-quantized
 * ANN path (SimilaritySearch.quantizedTopK): the composable
 * `aggregate(zip_with(a,b,*), 0L, +)` form evaluates interpreted
 * higher-order lambdas per candidate pair, the last interpreted HOF in a
 * pair loop; this kernel runs the same arithmetic as one loop called
 * from whole-stage codegen.
 *
 * Semantics match the composable form exactly (IntDotEquivalenceSpec pins
 * it property-based):
 *  - products and the accumulator are LONG (no overflow for int8 codes at
 *    any realistic dimensionality; same widening as the HOF's cast);
 *  - `zip_with` pads the SHORTER array with nulls, a null product nullifies
 *    the running sum, and `null + x` stays null — so unequal lengths or any
 *    null element in the compared prefix yield NULL, not a partial sum;
 *  - accumulation is left-to-right in array order (integer addition is
 *    associative, but keeping the order makes the equivalence exact by
 *    construction, not just by value).
 */
object IntDotProduct {

  /** Null on unequal lengths or a null element in either array. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getInt(i).toLong * b.getInt(i).toLong
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}
