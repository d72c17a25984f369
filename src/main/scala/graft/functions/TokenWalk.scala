package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The ONE copy of the family byte-classification rule every native
  * text kernel walks (TokenArray — and through it BigramScore's
  * single-model gates — RepetitionStats, UnigramEncode, Bm25Score; the
  * round-8 QualityStats/MarkerLangId predate it and keep their judged
  * inline loops with a pointer here): over the LOWERCASED UTF-8 bytes,
  * a token code point is ASCII [a-z0-9] or — in the accented class — a
  * 2-byte sequence decoding into U+00E0–U+00FF; 0x80–0xDF leads step
  * by 2, 3/4-byte leads by their declared length. Every caller walks
  * the bytes of `UTF8String.toLowerCase`, which re-encodes malformed
  * input as U+FFFD, so the walk sees well-formed UTF-8 only and equals
  * the regex split on any input bytes (TokenArrayPropertySpec). It
  * lives here so the next kernel cannot drift. Static and
  * branch-simple, so JIT inlines the calls. */
object TokenWalk {

  /** Byte length of the token code point starting at `i` (1 for ASCII
    * [a-z0-9], 2 for an in-range accented pair when `!ascii`), or 0 if
    * `low(i)` does not start a token code point. */
  def tokenLen(low: Array[Byte], i: Int, n: Int, ascii: Boolean): Int = {
    val b = low(i) & 0xff
    if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) 1
    else if (!ascii && b >= 0x80 && b < 0xe0 && i + 1 < n && {
      val cp = ((b & 0x1f) << 6) | (low(i + 1) & 0x3f)
      cp >= 0xe0 && cp <= 0xff
    }) 2
    else 0
  }

  /** Calls `f` with each maximal ASCII [a-z0-9] run of `s`, lower-cased,
    * in order: the word walk [[Bm25Score]] and [[UnigramEncode]] key
    * their driver-built tables by. */
  def foreachAsciiWord(s: UTF8String)(f: String => Unit): Unit = {
    val low = s.toLowerCase.getBytes
    val n = low.length
    var i = 0
    while (i < n) {
      if (tokenLen(low, i, n, ascii = true) > 0) {
        var j = i + 1
        while (j < n && tokenLen(low, j, n, ascii = true) > 0) j += 1
        f(new String(low, i, j - i, java.nio.charset.StandardCharsets.UTF_8))
        i = j
      } else i += sepStep(low(i) & 0xff)
    }
  }

  /** Separator advance from a non-token lead byte: the declared
    * sequence length (2 for 0x80–0xDF, 3/4 for longer leads, 1 for
    * ASCII). */
  def sepStep(b: Int): Int =
    if (b >= 0xf0) 4 else if (b >= 0xe0) 3 else if (b >= 0x80) 2 else 1
}
