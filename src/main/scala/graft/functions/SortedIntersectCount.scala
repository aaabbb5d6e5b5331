package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * |A ∩ B| for two SORTED, DISTINCT array<bigint> columns via a linear merge
 * walk — primitive long compares, no per-row hash set, codegen'd. The
 * generic array_intersect builds a hash relation per call per row; on the
 * MinHash-LSH verify step (millions of candidate pairs × ~350-element gram
 * sets) that generic path dominated the operator's runtime.
 *
 * Caller contract: inputs must be sorted ascending with no duplicates
 * (use sort_array(array_distinct(...))); the count is then exactly
 * cardinality(array_intersect(a, b)).
 */
object SortedIntersectCount {

  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val va = a.getLong(i); val vb = b.getLong(j)
      if (va == vb) { n += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    n
  }
}
