package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property pin of [[graft.functions.TokenArray]] against the regex
  * contract on ARBITRARY well-formed strings — code points drawn to
  * stress every classification boundary (ASCII classes, the à-ÿ range
  * edges, just-outside neighbors U+00DF/U+0100, full-case-mapping
  * characters, multi-byte separators including genuine 4-byte
  * sequences). */
class TokenArrayPropertySpec extends SparkSpec {
  import spark.implicits._

  // string-valued atoms so 4-byte code points (surrogate PAIRS in
  // UTF-16) actually appear — a Char-level generator cannot express
  // them (0x1f600.toChar silently truncates to a BMP char)
  private val interesting: Gen[String] = Gen.oneOf(
    Gen.alphaLowerChar.map(_.toString), Gen.alphaUpperChar.map(_.toString),
    Gen.numChar.map(_.toString),
    Gen.oneOf(' ', '\t', '\n', ',', '.', '-', '_', '!', '~').map(_.toString),
    // ß, the à-ÿ range, and the Ā/ā neighbors just past it
    Gen.choose(0xdf.toChar, 0x101.toChar).map(_.toString),
    // İ (U+0130), KELVIN SIGN (U+212A), Ÿ (U+0178): full-case mappings
    Gen.oneOf("İ", "K", "Ÿ"),
    // combining dot above, CJK, kana, cyrillic: multi-byte separators
    Gen.oneOf("̇", "一", "テ", "ж"),
    // genuine 4-byte sequences (surrogate pairs)
    Gen.oneOf("😀", "🚀"))

  private val genText: Gen[String] = Gen.chooseNum(0, 60).flatMap { n =>
    Gen.listOfN(n, interesting).map(_.mkString)
  }

  test("native tokenizer == regex split on arbitrary well-formed strings") {
    val texts = Gen.listOfN(400, genText)
      .apply(Gen.Parameters.default, Seed(20260815L)).getOrElse(Nil)
    assert(texts.nonEmpty)
    assert(texts.exists(_.exists(Character.isSurrogate)),
      "generator must actually produce 4-byte code points")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val accented = filter(split(lower($"text"), "[^a-zà-ÿ0-9]+"),
      w => w =!= "")
    val ascii = filter(split(lower($"text"), "[^a-z0-9]+"), w => w =!= "")
    val bad = df.select($"id", $"text",
        graft.functions.TokenArray($"text").as("na"), accented.as("ra"),
        graft.functions.TokenArray.asciiTokens($"text").as("ns"),
        ascii.as("rs"))
      .filter($"na" =!= $"ra" || $"ns" =!= $"rs")
      .collect()
    assert(bad.isEmpty,
      bad.take(3).map(r => s"${r.getString(1)}: ${r.getSeq[String](2)} vs " +
        s"${r.getSeq[String](3)} / ${r.getSeq[String](4)} vs ${r.getSeq[String](5)}")
        .mkString("; "))
  }

  test("native tokenizer == regex split of the lower-cased string on arbitrary bytes") {
    import org.apache.spark.unsafe.types.UTF8String
    // bytes biased to the classification boundaries: printable ASCII,
    // bare continuation bytes, 2-byte leads (0xC3 starts à-ÿ), and
    // 3/4-byte leads — mostly MALFORMED sequences
    val genByte: Gen[Byte] = Gen.frequency(
      4 -> Gen.choose(0x20, 0x7e), 2 -> Gen.choose(0x80, 0xbf),
      1 -> Gen.choose(0xc0, 0xdf), 1 -> Gen.const(0xc3),
      1 -> Gen.choose(0xe0, 0xef), 1 -> Gen.choose(0xf0, 0xff))
      .map(_.toByte)
    val inputs = Gen.listOfN(2000,
        Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, genByte)))
      .apply(Gen.Parameters.default, Seed(20261019L)).getOrElse(Nil)
      .map(_.toArray)
    assert(inputs.count(b => !java.util.Arrays.equals(b,
      new String(b, "UTF-8").getBytes("UTF-8"))) > 1000,
      "generator must mostly produce malformed UTF-8")
    def tokens(s: UTF8String, ascii: Boolean): Seq[String] =
      graft.functions.TokenArray.tokensOf(s, ascii).array.toSeq.map(_.toString)
    inputs.foreach { bytes =>
      val s = UTF8String.fromBytes(bytes)
      val lower = s.toLowerCase.toString
      def regex(cls: String): Seq[String] = lower.split(cls).toSeq.filter(_.nonEmpty)
      val hex = bytes.map(b => f"${b & 0xff}%02x").mkString(" ")
      assert(tokens(s, ascii = false) == regex("[^a-zà-ÿ0-9]+"), hex)
      assert(tokens(s, ascii = true) == regex("[^a-z0-9]+"), hex)
    }
  }

  test("kernel family agrees on MALFORMED UTF-8 (the regex path can't " +
      "be the referee there — toString substitutes U+FFFD)") {
    import org.apache.spark.unsafe.types.UTF8String
    // continuation bytes, dangling leads, truncated sequences around
    // token bytes; on each, QualityStats' token-run count equals the
    // TokenArray size, and ASCII mode never yields more tokens
    val cases = Seq(
      Array(0x61, 0x83, 0xa0, 0x62),             // a <cont><cont> b
      Array(0x61, 0xc3, 0x61, 0x62),             // a <lead over 'a'> b
      Array(0xc3),                               // lone dangling lead
      Array(0x61, 0xe0, 0x61, 0x62, 0x63),       // 3-byte lead eats 'a'
      Array(0x61, 0xf0, 0x61, 0x62, 0x63, 0x64)) // 4-byte lead eats 'abc'
      .map(_.map(_.toByte))
    cases.foreach { bytes =>
      val s = UTF8String.fromBytes(bytes)
      val toks = graft.functions.TokenArray.tokensOf(s, ascii = false)
      val asciiToks = graft.functions.TokenArray.tokensOf(s, ascii = true)
      // QualityStats' run count == size(TokenArray) on the same bytes
      val qs = graft.functions.QualityStats.statsOf(s)
      assert(qs(4) == toks.numElements(),
        s"QualityStats ntok ${qs(4)} vs TokenArray ${toks.numElements()}")
      // ASCII mode never returns more tokens than the accented mode
      assert(asciiToks.numElements() <= toks.numElements())
    }
  }
}
