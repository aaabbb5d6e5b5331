package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass hex-window parse: the value of `digits` hex chars of the
 * child string starting at 1-based `start` — the codegen'd form of
 * TextAnalysis.hexParse's per-digit polynomial
 * `Σ hexVal(substring(h, start+i, 1)) · 16^(digits-1-i)`.
 *
 * Why a kernel: the polynomial expands to `digits` substring+ascii+CASE
 * terms per value; q111's four CMS slices evaluate 32 of them per
 * token, q101's hex48 twelve per gram — measured at ~1.5 s of the 3.2 s
 * q111 spends at sf0.1. This computes the identical value in one byte
 * loop, INCLUDING hexVal's documented quirks (missing chars read as
 * ascii 0 → digit −48; case handling via the ≥97 branch), so it is a
 * drop-in under TextAnalysis.hexParse with every oracle unchanged
 * (hexParseSql still states the polynomial — HexLongSpec pins
 * kernel ≡ polynomial on full md5s, truncated strings, and uppercase).
 */
object HexLong {

  /** Mirrors ascii(substring(h, pos, 1)): the code point of the char at
    * 1-based `pos`, or 0 past the end. */
  private def asciiAt(s: UTF8String, chars: Int, pos0: Int): Int =
    if (pos0 >= chars) 0
    else {
      val sub = s.substringSQL(pos0 + 1, 1)
      if (sub.numBytes == 0) 0 else sub.toString.codePointAt(0)
    }

  /** `start` >= 1 and `digits` in 1..15 (checked at registration): a
    * smaller start would index before the string, more digits would
    * wrap the shift mod 64 (the polynomial's documented ceiling). */
  def compute(s: UTF8String, start: Int, digits: Int): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    // ASCII fast path: every hex string this engine parses is ASCII;
    // byte index == char index and byte value == code point.
    var ascii = true
    var j = 0
    while (ascii && j < n) { if (bytes(j) < 0) ascii = false; j += 1 }
    var v = 0L
    var i = 0
    while (i < digits) {
      val pos0 = start - 1 + i
      val c =
        if (ascii) { if (pos0 < n) bytes(pos0).toInt else 0 }
        else asciiAt(s, s.numChars(), pos0)
      val d = c - 48 - (if (c >= 97) 39 else 0)
      v += d.toLong << (4 * (digits - 1 - i))
      i += 1
    }
    v
  }
}
