package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

/** The JVM side of the engine's md5 devices, one definition each: the
  * 60-bit prefix key of [[graft.dedup.Dedup.md5Long]] (first 15 hex
  * digits, so exact and non-negative) and the 32-digit lower-case hex
  * string of Spark's and DuckDB's `md5`. One digest per thread: a
  * `MessageDigest.getInstance` per call pays a JCA provider lookup and
  * an allocation on per-row paths. */
object Md5 {

  private val pool = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private val Hex = "0123456789abcdef".toCharArray

  def digest(data: Array[Byte]): Array[Byte] = {
    val md = pool.get()
    md.reset()
    md.digest(data)
  }

  /** The digest's top 60 bits — `md5Long` of the digested bytes. */
  def top60(d: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < 7) {
      h = (h << 8) | (d(i) & 0xff)
      i += 1
    }
    (h << 4) | ((d(7) >> 4) & 0xf)
  }

  /** = `md5Long(s)` for a string column value. */
  def long60(s: String): Long = top60(digest(s.getBytes(UTF_8)))

  /** Lower-case hex of `b` (of a digest: Spark's `md5` string). */
  def hex(b: Array[Byte]): String = {
    val cs = new Array[Char](2 * b.length)
    var i = 0
    while (i < b.length) {
      cs(2 * i) = Hex((b(i) >> 4) & 0xf)
      cs(2 * i + 1) = Hex(b(i) & 0xf)
      i += 1
    }
    new String(cs)
  }

  /** = Spark's `md5(s)` for a string value. */
  def hexOf(s: String): String = hex(digest(s.getBytes(UTF_8)))
}
