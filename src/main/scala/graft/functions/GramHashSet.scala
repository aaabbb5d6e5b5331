package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Sorted distinct 3-gram hash set of a text column in ONE pass over the
 * string: the array<bigint> that feeds both the MinHash signature and the
 * LSH verify stage (operators.Dedup.gramSets).
 *
 * Semantically identical to the composable form
 *   sort_array(array_distinct(transform(shingles3(text), g => gramHash(g))))
 * (TextHashing.scala) — same base-256 code-point polynomial, same
 * short-text edge cases — but without materializing ~|text| intermediate
 * 3-char UTF8Strings per row and without the interpreted higher-order
 * `transform` lambda. On the sf0.1 dedup corpus the composable chain was
 * the single hottest projection in q44; this kernel keeps the whole
 * scan inside whole-stage codegen. The DuckDB oracle is unchanged: it
 * already recomputes the same polynomial from SQL (gramHashSql).
 *
 * `wide = true` (registered as graft_gram_hash_set_cp) switches to a
 * base-2^21 CODEPOINT polynomial — injective over the full Unicode range
 * (max codepoint 0x10FFFF < 2^21; 3·21 = 63 bits), where the base-256
 * form collides on any codepoint > 255 (a CJK char bleeds into its
 * neighbor's byte slot). The hash-set Jaccard the dedup family computes
 * is then exactly gram-set Jaccard on CJK-heavy corpora too (the SURVEY
 * §8.5 scope note). Mirrored by TextHashing.cpGramHashSql.
 */
object GramHashSet {

  /** One-pass gram-hash-set kernel. Code-point semantics mirror Spark's
    * substr/ascii (both count code points), so the result matches the
    * composable formulation on any input, not just the ASCII corpus.
    * `wide` selects the base-2^21 codepoint polynomial. */
  def compute(s: UTF8String, wide: Boolean): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    val g = math.max(n - 2, 1)
    val hs = new Array[Long](g)
    var i = 0
    while (i < g) {
      val c1 = if (i < n) cps(i) else 0
      val c2 = if (i + 1 < n) cps(i + 1) else 0
      val c3 = if (i + 2 < n) cps(i + 2) else 0
      hs(i) =
        if (wide) c1 * 4398046511104L + c2 * 2097152L + c3
        else c1 * 65536L + c2 * 256L + c3
      i += 1
    }
    sortedDistinct(hs)
  }

  /** `hs` sorted and deduped in place, as an array value — the set form
    * every gram-hash-set kernel returns. */
  private[functions] def sortedDistinct(hs: Array[Long]): ArrayData = {
    java.util.Arrays.sort(hs)
    var w = 0
    var i = 0
    while (i < hs.length) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w))
  }
}
