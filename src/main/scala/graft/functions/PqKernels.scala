package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/**
 * Native product-quantization kernels (graft_pq_sub_dists,
 * graft_pq_argmin). The composable forms (a zip_with+aggregate
 * squared-L2 inside an aggregate argmin fold, per subspace, per cell)
 * are evaluated through interpreted higher-order lambdas; at production
 * codebook geometry (m=8, k=256) encoding ONE vector costs m·k = 2048
 * interpreted lambda folds — measured at 17+ s
 * for a 6k-vector corpus where the arithmetic itself (m·k·w ≈ 16k
 * multiplies/vector) is sub-second native work. Same argument as
 * CosineSimilarity: each is one loop called from whole-stage codegen.
 *
 * Exactness: per-cell distances accumulate left-to-right in double
 * (the zip_with order) and are rounded through the SAME decimal path as
 * Tables.r6 / Spark's Round(DoubleType) (MaxRoundedCosine.r6:
 * BigDecimal.valueOf(d·10⁶).setScale(0, HALF_UP) / 10⁶) —
 * PqEquivalenceSpec pins bit-parity with the composable form on random
 * vectors, so the DuckDB oracles gate the native path unchanged.
 *
 * Sub-vector element type: both kernels accept array<float> (raw
 * embedding slices — the q147 path) AND array<double> (residual slices,
 * r = x − coarse centroid, the IVFADC path — residuals are exact double
 * differences and must not round-trip through float). The codebook side
 * is always array<double> (DECIMAL-mean centroids).
 *
 * Malformed-codebook contract: a centroid whose length differs from the
 * sub-vector's yields a NULL distance — exactly what the composable
 * zip_with+aggregate form produces (zip_with pads the shorter array
 * with nulls; the aggregate sum null-propagates). The pre-r12 kernel
 * truncated to min-length and silently scored a prefix distance, so
 * native and composable forms DISAGREED on malformed codebooks; now a
 * null distance skips the cell in argmin (the composable when(d < acc)
 * fold keeps acc on a null comparison) and stays null in the LUT.
 */
object PqSubDists {

  /** Squared L2 between a sub-vector (float or double elements, per
    * `svIsDouble`) and a double centroid, left-to-right (the zip_with
    * order), r6'd. Null on length mismatch — the composable
    * zip_with+aggregate null-propagation, NOT a silent prefix score. */
  private[functions] def dist2R6(sv: ArrayData, cent: ArrayData, svIsDouble: Boolean): java.lang.Double = {
    val n = sv.numElements()
    if (cent.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (svIsDouble) sv.getDouble(i) else sv.getFloat(i).toDouble
      val d = x - cent.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(MaxRoundedCosine.r6(acc))
  }

  /** One query's dense ADC LUT row for one subspace: r6'd distance per
    * centroid slot, null slots stay null (empty sign buckets — no corpus
    * code references them); length-mismatched centroids also yield null
    * (see the doc above). */
  def compute(sv: ArrayData, cents: ArrayData, svIsDouble: Boolean): ArrayData = {
    val n = cents.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (cents.isNullAt(i)) null
               else dist2R6(sv, cents.getArray(i), svIsDouble)
      i += 1
    }
    new GenericArrayData(out)
  }
}

object PqArgmin {

  /** codes cell: the nearest-centroid cid for one subspace's slice over
    * its cid-sorted (cid, centroid) struct cells — first strict minimum
    * in array (= cid-ascending) order; -1 on an empty cell array, the
    * contract of the composable fold it replaces. Null-distance cells
    * (length-mismatched centroids) are skipped, matching the composable
    * when(d < acc.d) fold's null-comparison keep-acc behavior. */
  def compute(sv: ArrayData, cells: ArrayData, svIsDouble: Boolean): Long = {
    var bestCid = -1L
    var bestD = Double.MaxValue
    var i = 0
    val n = cells.numElements()
    while (i < n) {
      val cell = cells.getStruct(i, 2)
      val d = PqSubDists.dist2R6(sv, cell.getArray(1), svIsDouble)
      if (d != null && d.doubleValue() < bestD) {
        bestD = d.doubleValue(); bestCid = cell.getLong(0)
      }
      i += 1
    }
    bestCid
  }
}
