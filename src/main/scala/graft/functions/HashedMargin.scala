package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/**
 * Hashing-trick linear-classifier margin in ONE row-local pass: split on
 * single spaces (empties kept — Spark `split`'s limit=-1 semantics),
 * per token take the first 48 bits of md5 as the weight surrogate
 * ((h48 mod 17) − 8), and sum.
 *
 * Why a kernel: the composable form
 * `aggregate(transform(split(text," "), t => (md5Hash48(t) % 17) - 8), ...)`
 * runs INTERPRETED (higher-order lambdas are outside whole-stage
 * codegen), and `hex48` is a 12-term polynomial each term of which
 * references `md5(t)` — with no common-subexpression elimination inside
 * an interpreted lambda, every token pays TWELVE md5 computations plus
 * 12 conv parses. This kernel computes one MessageDigest md5 per token
 * and reads the first 6 digest bytes directly (== the first 12 hex
 * chars hex48 parses), bit-identical by HashedMarginSpec, oracle
 * unchanged (md5Hash48Sql). Same doctrine as graft_simhash32: turn a
 * per-token interpreted pipeline into map-side codegen'd work.
 */
object HashedMargin {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 48 md5 bits of the token's UTF-8 bytes, as hex48 reads them:
    * 12 hex chars = 6 digest bytes, big-endian, non-negative. */
  private def h48(bytes: Array[Byte], from: Int, len: Int): Long = {
    val md = digest.get()
    md.reset()
    md.update(bytes, from, len)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** Margin over single-space-split tokens, empties INCLUDED (split
    * limit −1): Σ ((h48 mod 17) − 8). Works directly on the UTF-8 bytes
    * — a space is the single byte 0x20 in UTF-8 and never occurs inside
    * a multi-byte sequence, so byte-splitting equals string-splitting. */
  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var start = 0
    var i = 0
    val n = bytes.length
    while (i <= n) {
      if (i == n || bytes(i) == ' '.toByte) {
        acc += h48(bytes, start, i - start) % 17 - 8
        start = i + 1
      }
      i += 1
    }
    acc
  }
}
