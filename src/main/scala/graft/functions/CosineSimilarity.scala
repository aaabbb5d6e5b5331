package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Native cosine similarity over two Array[Float] columns (graft_cosine).
 *
 * A kernel for the ANN operators beyond the reference (SURVEY §7.3 found
 * none needed for reference parity). The composable form
 * `aggregate(zip_with(a,b,*), 0d, +)` is evaluated through interpreted
 * higher-order lambdas per row; on the brute-force ANN path that's the
 * inner loop over |Q|·|C| pairs. This one loop is called from
 * whole-stage codegen (GraftExtensions), keeping the hot path inside
 * Tungsten.
 *
 * Semantics match the composable form bit-for-bit: elements are widened
 * float→double and accumulated left-to-right in array order;
 * cosine = dot / (sqrt(Σa²) · sqrt(Σb²)).
 */
object CosineSimilarity {

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
