package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Shared hashing primitives for the dedup/text-analysis operators.
 *
 * Everything here is expressible in portable SQL (pure arithmetic over
 * ascii()/substr()), which is what lets the DuckDB oracle reproduce MinHash
 * and SimHash bit-for-bit. A Murmur-based Spark `hash()` would be faster but
 * unverifiable cross-engine; at cluster scale either is a narrow codegen'd
 * projection, so portability wins. All constants are arbitrary fixed odd
 * multipliers (standard universal-hash construction h' = (a*h + b) mod p).
 */
object TextHashing {

  /** Mersenne prime 2^31-1, the classic universal-hash modulus. */
  val P: Long = 2147483647L

  /** (a, b) parameter pairs for the MinHash signature family (the
    * default 16-hash profile). */
  val MinHashParams: Seq[(Long, Long)] = Seq(
    (387810361L, 900157577L), (972596951L, 135623063L),
    (529316621L, 733157407L), (186153317L, 447879239L),
    (641159971L, 270295453L), (853052431L, 591182689L),
    (297640813L, 863023007L), (718557301L, 324081341L),
    (465195583L, 152028737L), (936217927L, 678342559L),
    (123985391L, 809455813L), (574830641L, 236914987L),
    (810374137L, 495310021L), (362159509L, 948271783L),
    (689143687L, 417096911L), (250317689L, 562938341L))

  /** The scaled-profile superset: the 16 default pairs (identical, so
    * j < 16 hashes agree across profiles) plus 14 more for the 30-hash
    * signature. Fixed odd multipliers like the first 16. */
  val MinHashParamsScaled: Seq[(Long, Long)] = MinHashParams ++ Seq(
    (541727813L, 382190947L), (863519429L, 740216561L),
    (194853277L, 618409871L), (927364517L, 283751909L),
    (375208631L, 851694473L), (608941759L, 127385621L),
    (742583171L, 964027337L), (289176449L, 506839217L),
    (956402833L, 341758067L), (417290561L, 789523411L),
    (683947237L, 215086559L), (150638921L, 637412783L),
    (824075693L, 472951031L), (561839047L, 908364179L))

  /** Number of 4-row bands over the 16-hash signature (LSH banding). */
  val NumBands = 4
  val RowsPerBand = 4

  /** An LSH banding profile: `numBands` bands of `rowsPerBand` hashes
    * each over a `numHashes = numBands·rowsPerBand`-hash signature.
    *
    * The (b, r) pair is THE selectivity knob as corpora grow
    * (SCALING.md "Banded dedup at large absolute scale"): a candidate's
    * band-collision probability at similarity s is 1 − (1 − s^r)^b, so
    * more rows per band sharpen buckets — `Default` (4, 4) catches an
    * s = 0.7 pair with p ≈ 0.67 and an s = 0.1 junk pair with ~4·10⁻⁴;
    * `Scaled` (6, 5) keeps the same ~0.67 recall at threshold (and
    * ≥ 0.99 for the s ≥ 0.9 pairs dedup targets) while cutting the
    * junk-collision rate ~6.7× (6·0.1⁵ ≈ 6·10⁻⁵) — the difference
    * between quadratic and linear candidate growth once C(n,2)
    * outgrows the band's selectivity. Hash j < 16 is the same
    * universal hash in both profiles (MinHashParamsScaled extends
    * MinHashParams), so the scaled signature is a superset
    * computation, not a re-keying. */
  final case class LshBanding(numBands: Int, rowsPerBand: Int) {
    val numHashes: Int = numBands * rowsPerBand
    require(numHashes <= MinHashParamsScaled.length,
      s"profile needs $numHashes hashes; only ${MinHashParamsScaled.length} parameter pairs exist")
  }
  object LshBanding {
    /** The oracle-frozen default: 16 hashes, 4 bands × 4 rows. */
    val Default: LshBanding = LshBanding(NumBands, RowsPerBand)
    /** The large-corpus profile: 30 hashes, 6 bands × 5 rows. */
    val Scaled: LshBanding = LshBanding(6, 5)
  }

  /** 3-gram character shingles of `text` as an array column (deterministic,
    * order = position; dedupe with array_distinct downstream). */
  def shingles3(text: Column): Column =
    transform(
      sequence(lit(1), greatest(length(text) - 2, lit(1))),
      i => text.substr(i, lit(3)))

  /** Base integer hash of one 3-gram: base-256 ascii polynomial —
    * INJECTIVE for single-byte chars, so set operations over gram hashes
    * (cheap long compares) are exactly set operations over the grams
    * themselves. Mirrored by gramHashSql for the oracle. */
  def gramHash(g: Column): Column =
    (ascii(g) * lit(65536L) + ascii(substring(g, 2, 1)) * lit(256L) +
      ascii(substring(g, 3, 1))).cast("long")

  /** SQL spelling of gramHash for the DuckDB oracle. */
  def gramHashSql(g: String): String =
    s"(ascii($g)*65536 + ascii(substr($g,2,1))*256 + ascii(substr($g,3,1)))"

  /** CODEPOINT-safe gram hash: base-2^21 polynomial over the gram's code
    * points — injective for the FULL Unicode range (max codepoint
    * 0x10FFFF < 2^21, 3·21 = 63 bits), where the base-256 form collides
    * whenever a codepoint exceeds 255 (the SURVEY §8.5 CJK scope note).
    * Both engines' ascii() return the first CODE POINT of a string
    * (probed: Spark ascii('中') = DuckDB ascii('中') = 20013), so the SQL
    * mirror is exact. Computed one-pass by graft_gram_hash_set_cp. */
  def cpGramHash(g: Column): Column =
    (ascii(g) * lit(4398046511104L) +
      ascii(substring(g, 2, 1)) * lit(2097152L) +
      ascii(substring(g, 3, 1))).cast("long")

  def cpGramHashSql(g: String): String =
    // explicit BIGINT casts: DuckDB's ascii() is INT32 and 2097152 parses
    // as INT32, so the middle product would overflow 32 bits
    s"(CAST(ascii($g) AS BIGINT)*4398046511104" +
      s" + CAST(ascii(substr($g,2,1)) AS BIGINT)*2097152" +
      s" + ascii(substr($g,3,1)))"

  // The four minHashJ* accessors index the SCALED superset so j ∈ [0, 30)
  // resolves; j < 16 reads the identical default pair either way.

  /** Universal hash for WIDE (up to 2^63) base hashes: reduce mod P
    * BEFORE the affine map — h·a on a wide hash would overflow 64 bits
    * (wrapping in Spark with ANSI off, erroring in DuckDB: divergence
    * either way). For the narrow base-256 hashes the unreduced minHashJ
    * stays the oracle-frozen form. */
  def minHashJWide(h: Column, j: Int): Column = {
    val (a, b) = MinHashParamsScaled(j)
    ((h % lit(P)) * lit(a) + lit(b)) % lit(P)
  }

  def minHashJWideSql(h: String, j: Int): String = {
    val (a, b) = MinHashParamsScaled(j)
    s"((($h % $P)*$a + $b) % $P)"
  }

  /** j-th universal hash of a base hash column. */
  def minHashJ(h: Column, j: Int): Column = {
    val (a, b) = MinHashParamsScaled(j)
    (h * lit(a) + lit(b)) % lit(P)
  }

  def minHashJSql(h: String, j: Int): String = {
    val (a, b) = MinHashParamsScaled(j)
    s"(($h*$a + $b) % $P)"
  }

  // --- Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
  // §4 — the MOSS algorithm). Third fingerprint family next to MinHash
  // (resemblance estimate) and SimHash (Hamming sketch): winnowing selects
  // the MIN gram hash in every window of `w` consecutive token k-grams,
  // which guarantees any shared token run of ≥ w + k − 1 tokens yields at
  // least one shared fingerprint (the local-fingerprinting guarantee the
  // other two families lack — they can miss short verbatim matches).
  // Both steps are row-local array transforms: at 100 TB, fingerprint
  // extraction is ONE codegen'd projection with no explode, no window
  // shuffle, no per-position state — the per-doc selection the paper
  // calls "local" is literally local to the row here.

  /** Position-ordered 48-bit hashes of the k-grams over an ALREADY-SPLIT
    * token-array attribute (NOT distinct — winnowing needs the positional
    * sequence). Docs with fewer than k tokens have no grams. Mirrored in
    * SQL by the oracle's unnest(range)+md5Hash48Sql chain.
    *
    * `ts` must be a materialized attribute for the same reason as
    * [[winnowSelect]]'s `gh`: the slice inside the transform lambda
    * re-evaluates its child per gram, so a fused split(text) argument
    * costs O(n_grams × |text|) re-splits per doc. */
  def gramHashesFromTokens(ts: Column, k: Int): Column = {
    require(k >= 1, "gramHashesFromTokens needs k >= 1")
    when(size(ts) < k, array().cast("array<long>"))
      .otherwise(transform(sequence(lit(1), size(ts) - (k - 1)),
        i => TextAnalysis.md5Hash48(concat_ws(" ", slice(ts, i, lit(k))))))
  }

  /** Composable reference form over raw text — specs/small fixtures only
    * (hot paths: split → barrier → [[gramHashesFromTokens]]). */
  def winnowGramHashes(text: Column, k: Int): Column =
    gramHashesFromTokens(split(text, " "), k)

  /** Window-min selection over an ALREADY-MATERIALIZED gram-hash array
    * column: distinct minima over windows of `w` consecutive hashes. A
    * doc with 1 ≤ n_grams < w degenerates to one whole-doc window (min
    * over all grams) — the paper's guarantee needs every gram covered by
    * ≥ 1 window. Density: ≤ max(n−w+1, 1) fingerprints for n grams,
    * ~2/(w+1)·n expected after dedup.
    *
    * `gh` MUST be a plain attribute (a column materialized by a prior
    * projection), not the [[winnowGramHashes]] expression itself: HOF
    * lambda arguments are inlined and re-evaluated PER ELEMENT (the
    * round-9 CSE doctrine), so passing the gram expression here costs
    * O(n_windows × n_grams) interpreted md5+re-split work per doc —
    * measured 240 s vs <1 s at sf0.1 for the q195 panel. Operators
    * below (winnowPairs, q195) all use the two-projection barrier. */
  def winnowSelect(gh: Column, w: Int): Column = {
    require(w >= 1, "winnowSelect needs w >= 1")
    when(size(gh) === 0, array().cast("array<long>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), greatest(size(gh) - (w - 1), lit(1))),
        j => array_min(slice(gh, j, lit(w))))))
  }

  /** Composable one-expression form (selection fused over the gram
    * expression) — the REFERENCE semantics for specs and small fixtures
    * only. Hot paths must use winnowGramHashes → barrier →
    * [[winnowSelect]] (see winnowSelect's scaladoc for the measured
    * per-element re-evaluation cost of skipping the barrier). */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    winnowSelect(winnowGramHashes(text, k), w)

  /** Sorted distinct 48-bit md5 hashes of the text's TOKEN k-shingles —
    * the token-universe gram set for MinHash dedup. The char-3-gram set
    * ([[shingles3]]) has a universe bounded by |alphabet|³, which
    * SATURATES on narrow-alphabet corpora (SCALING.md round 13: ~1,580
    * distinct grams regardless of corpus size, fixed minhash functions
    * concentrate on whichever ubiquitous gram ranks first, hot band
    * buckets grow linearly, and candidates go Ω(n²) under ANY (b, r)
    * banding). Token k-shingles draw from the vocabulary^k universe,
    * which grows with the corpus (Heaps' law), so min-concentration
    * cannot happen structurally — the universe-growing knob the r13
    * saturation analysis prescribed.
    *
    * Hash-set semantics: md5-48 is not injective the way the base-256
    * char-gram hash is, but both engines compute the SAME md5, so the
    * hash-set Jaccard the verify stage measures is cross-engine exact;
    * vs true shingle-set Jaccard the collision error is ≤ n_grams²/2⁴⁸
    * per doc — absorbed by the similarity threshold. A doc with fewer
    * than k tokens degenerates to ONE whole-doc shingle (greatest(…,1)),
    * so short docs stay in the dedup universe instead of silently
    * dropping out. Row-local projection: no explode, no shuffle.
    *
    * This composable form is the reference semantics (specs, DuckDB SQL
    * mirror); Dedup.tokenShingleSets runs the one-pass
    * graft_token_shingle_hash_set kernel, which equals it on non-null
    * token arrays and maps a null array to null (this form hashes it as
    * the empty string). */
  def tokenShingleHashes(ts: Column, k: Int): Column = {
    require(k >= 1, "tokenShingleHashes needs k >= 1")
    sort_array(array_distinct(transform(
      sequence(lit(1), greatest(size(ts) - (k - 1), lit(1))),
      i => TextAnalysis.md5Hash48(concat_ws(" ", slice(ts, i, lit(k)))))))
  }

  /** Composable reference form over raw text — specs/small fixtures only;
    * Dedup.tokenShingleSets barriers the split first (winnowSelect
    * scaladoc has the per-element re-evaluation doctrine). */
  def tokenShingleHashSet(text: Column, k: Int): Column =
    tokenShingleHashes(split(text, " "), k)

  /** Cheap fixed-width token hash for SimHash: ascii polynomial over the
    * first 4 chars + length mixing. Word-sized tokens only — collisions are
    * acceptable for a similarity sketch. */
  def tokenHash(t: Column): Column =
    (ascii(t) * lit(29791L) + ascii(substring(t, 2, 1)) * lit(961L) +
      ascii(substring(t, 3, 1)) * lit(31L) + ascii(substring(t, 4, 1)) +
      length(t) * lit(131L)).cast("long")

  def tokenHashSql(t: String): String =
    s"(ascii($t)*29791 + ascii(substr($t,2,1))*961 + ascii(substr($t,3,1))*31" +
      s" + ascii(substr($t,4,1)) + length($t)*131)"
}
