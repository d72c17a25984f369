package graft

import graft.text.LanguageModel
import org.apache.spark.sql.functions._

/** Pins the native [[graft.functions.BigramScore]] add-one scorer over
  * [[graft.functions.TokenArray.asciiTokens]] bit-identical to
  * the Column reference form
  * ([[LanguageModel.nllColumnsReference]]) — the aggregate-HOF fold
  * with per-gram md5 buckets and CASE ladders it replaces. */
class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  private val adversarial = Seq(
    "",
    "solo",
    "two words",
    "the quick brown fox jumps over the lazy dog",
    "repeat repeat repeat repeat",
    "MiXeD CaSe ToKeNs AND digits 123 456",
    "punct,separated;tokens!here?end",
    "naïve café déjà vu",                  // à-ÿ letters are SEPARATORS in [a-z0-9]
    "日本語 テスト mixed 日本 words",        // CJK separators between ascii tokens
    "Kelvin İstanbul",           // K→k, İ→i+U+0307 full-case mappings
    "tab\tand\nnewline  spaced   out",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "0 1 00 01 987654321 a1b2c3",
    "ün÷deux trois",                        // 2-byte separators inside runs
    "ends with separator...",
    "...starts with separator"
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  /** (id, n_grams, nll_fp) of the malformed-UTF-8 rows of the random
    * corpus test below, as the inline [a-z0-9] walk of the original
    * LmScore kernel scored them: the token-array scorer must keep the
    * [[graft.functions.TokenWalk]] family rule on every byte string. */
  private val malformedPins: Seq[(Long, Long, Long)] = Seq(
    (344L, 3L, 332213L), (345L, 8L, 783692L), (346L, 0L, 0L),
    (347L, 1L, 92469L), (351L, 0L, 0L), (352L, 5L, 485321L),
    (353L, 2L, 135095L), (355L, 3L, 298524L), (356L, 5L, 467342L),
    (360L, 3L, 282676L), (361L, 6L, 503637L), (362L, 11L, 955639L),
    (363L, 2L, 191556L), (365L, 5L, 503862L), (366L, 6L, 497106L),
    (367L, 4L, 390272L), (368L, 5L, 565356L), (370L, 7L, 657497L),
    (371L, 3L, 220618L), (372L, 4L, 374696L), (374L, 6L, 678041L),
    (375L, 7L, 784969L), (376L, 0L, 0L), (378L, 5L, 550581L),
    (379L, 9L, 853206L), (380L, 6L, 554196L), (381L, 1L, 53834L),
    (383L, 3L, 296868L), (384L, 7L, 663858L), (393L, 8L, 695648L),
    (394L, 8L, 713536L), (395L, 5L, 620316L), (396L, 6L, 470958L),
    (397L, 3L, 239178L), (398L, 3L, 292524L), (400L, 6L, 603112L),
    (401L, 7L, 725877L))

  test("native kernel == Column reference fold, bit for bit") {
    val df = adversarial.toDF("id", "text")
    // a model trained on part of the same corpus, so seen/unseen
    // bigrams, seen/unseen prefixes, and collisions all occur
    val (c2, c1) = LanguageModel.hashedCounts(
      df.filter($"id" % 2 === 0), "text", b2 = 32, b1 = 16)
    val (d2, d1) = LanguageModel.denseCounts(c2, c1, 32, 16)
    val (nN, nS) = LanguageModel.nllColumns(d2, d1, 32, 16, "text")
    val (rN, rS) = LanguageModel.nllColumnsReference(d2, d1, 32, 16, "text")
    val bad = df.select($"id", nN.as("nn"), nS.as("ns"),
        rN.as("rn"), rS.as("rs"))
      .filter($"nn" =!= $"rn" || $"ns" =!= $"rs")
      .collect()
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("native kernel handles degenerate models (all-zero counts)") {
    val df = adversarial.toDF("id", "text")
    val (nN, nS) = LanguageModel.nllColumns(
      Seq.fill(8)(0L), Seq.fill(4)(0L), 8, 4, "text")
    val (rN, rS) = LanguageModel.nllColumnsReference(
      Seq.fill(8)(0L), Seq.fill(4)(0L), 8, 4, "text")
    val rows = df.select(nN.as("nn"), nS.as("ns"), rN.as("rn"), rS.as("rs"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3))
    }
    // every gram of an untrained model costs the same smoothed floor
    val perGram = rows.filter(_.getLong(0) > 0).map(r =>
      (r.getLong(1), r.getLong(0)))
    assert(perGram.nonEmpty)
    val costs = perGram.map { case (s, n) => s.toDouble / n }.distinct
    assert(costs.length == 1)
  }

  test("incremental hashed-LM maintenance is exact: fold of per-dump " +
      "counts == training on the union") {
    val df = adversarial.toDF("id", "text")
    val oldDump = df.filter($"id" < 8)
    val newDump = df.filter($"id" >= 8)
    val (uc2, uc1) = LanguageModel.hashedCounts(df, "text", 32, 16)
    val (oc2, oc1) = LanguageModel.hashedCounts(oldDump, "text", 32, 16)
    val (nc2, nc1) = LanguageModel.hashedCounts(newDump, "text", 32, 16)
    val f2 = LanguageModel.foldHashedCounts(oc2, nc2, "__c2")
    val f1 = LanguageModel.foldHashedCounts(oc1, nc1, "__c1")
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(f2) == m(uc2))
    assert(m(f1) == m(uc1))
    // and the deployed scorer built from the folded counts is the
    // union-trained scorer, bit for bit
    val (du2, du1) = LanguageModel.denseCounts(uc2, uc1, 32, 16)
    val (df2, df1) = LanguageModel.denseCounts(f2, f1, 32, 16)
    assert(du2 == df2 && du1 == df1)
  }

  test("native kernel == Column reference on a 300-string random corpus " +
      "(ScalaCheck, every classification boundary)") {
    // plus NULL, empty, astral (non-BMP) and malformed UTF-8 rows
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val atom: Gen[String] = Gen.oneOf(
      Gen.alphaLowerChar.map(_.toString), Gen.alphaUpperChar.map(_.toString),
      Gen.numChar.map(_.toString),
      Gen.oneOf(' ', '\t', '\n', ',', '.', '-').map(_.toString),
      Gen.choose(0xdf.toChar, 0x101.toChar).map(_.toString),
      Gen.oneOf("İ", "K", "Ÿ", "̇", "一", "テ", "😀"))
    val genText = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, atom).map(_.mkString))
    val texts = Gen.listOfN(300, genText)
      .apply(Gen.Parameters.default, Seed(97L)).getOrElse(Nil)
    assert(texts.nonEmpty)
    // astral (non-BMP, surrogate-pair) code points between ASCII runs
    val astralAtom: Gen[String] = Gen.frequency(
      (3, Gen.alphaLowerChar.map(_.toString)), (1, Gen.const(" ")),
      (2, Gen.oneOf("😀", "𝐀", "𠀀", "🇫🇷", "𐍈")))
    val astral = Gen.listOfN(40, Gen.chooseNum(1, 30).flatMap(n =>
        Gen.listOfN(n, astralAtom).map(_.mkString)))
      .apply(Gen.Parameters.default, Seed(98L)).getOrElse(Nil)
    // random bytes biased to token bytes, continuation bytes and
    // multi-byte leads: mostly malformed once cast to string
    val genBytes = Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n,
      Gen.frequency((5, Gen.choose('a'.toInt, 'z'.toInt)),
        (2, Gen.choose('0'.toInt, '9'.toInt)), (2, Gen.const(' '.toInt)),
        (4, Gen.choose(0x80, 0xff)))).map(_.map(_.toByte).toArray))
    val bytes = Gen.listOfN(60, genBytes)
      .apply(Gen.Parameters.default, Seed(99L)).getOrElse(Nil)
    assert(astral.nonEmpty && bytes.nonEmpty)
    val rows: Seq[(Option[String], Option[Array[Byte]])] =
      (texts ++ astral :+ "").map(t => (Some(t), None)) ++
        Seq((None, None)) ++ bytes.map(b => (None, Some(b)))
    val df = rows.zipWithIndex.map { case ((t, b), i) => (i.toLong, t, b) }
      .toDF("id", "s", "b")
      .select($"id", coalesce($"s", $"b".cast("string")).as("text"))
    val nullId = (texts.size + astral.size + 1).toLong
    def wellFormed(b: Array[Byte]): Boolean =
      scala.util.Try(java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .decode(java.nio.ByteBuffer.wrap(b))).isSuccess
    val malformed = bytes.zipWithIndex.collect {
      case (b, i) if !wellFormed(b) => nullId + 1 + i }.toSet
    // the model trains on the original random corpus only
    val (c2, c1) = LanguageModel.hashedCounts(
      df.filter($"id" < texts.size && $"id" % 3 === 0), "text",
      b2 = 16, b1 = 8)
    val (d2, d1) = LanguageModel.denseCounts(c2, c1, 16, 8)
    val (nN, nS) = LanguageModel.nllColumns(d2, d1, 16, 8, "text")
    val (rN, rS) = LanguageModel.nllColumnsReference(d2, d1, 16, 8, "text")
    val got = df.select($"id", nN.as("nn"), nS.as("ns"),
        rN.as("rn"), rS.as("rs")).collect()
    val bad = got.filter(r => r.getLong(0) != nullId &&
        !malformed(r.getLong(0)) &&
        (r.getLong(1) != r.getLong(3) || r.getLong(2) != r.getLong(4)))
    assert(bad.isEmpty, bad.take(3).mkString("; "))
    val nul = got.find(_.getLong(0) == nullId).get
    assert(nul.isNullAt(1) && nul.isNullAt(2), s"NULL text scored: $nul")
    val mal = got.filter(r => malformed(r.getLong(0)))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(mal.nonEmpty && mal.exists(_._2 > 1L))
    assert(mal == malformedPins, mal.mkString(", "))
  }

  test("size contract: dense arrays must match the bucket counts") {
    intercept[IllegalArgumentException] {
      LanguageModel.nllColumns(Seq(0L), Seq(0L), 8, 4, "text")
    }
  }
}
