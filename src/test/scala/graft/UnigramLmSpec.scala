package graft

import graft.functions.{BigramScore, UnigramEncode}
import graft.text.UnigramLm
import org.apache.spark.sql.functions._

/** Pins the unigram-LM tokenizer ([[UnigramLm]] /
  * [[UnigramEncode]]): the Viterbi combined-key DP against exhaustive
  * segmentation enumeration, the character fallback for words past the
  * mirror's unroll depth, the unknown-character floor, the
  * corpus-trained pipeline against a driver recompute, and the
  * append-mode MemoryStream run of the deployed stage.
  */
class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  private val F = graft.text.LanguageModel.F

  /** All segmentations of `w` into pieces of length ≤ maxLen whose
    * multi-char pieces are in the vocab; single chars always allowed
    * at the unk floor. Returns the min combined key. */
  private def bruteKey(costs: Map[String, Long], w: String,
      maxPieceLen: Int): Long = {
    def rec(i: Int): Seq[Long] =
      if (i == w.length) Seq(0L)
      else (1 to math.min(maxPieceLen, w.length - i)).flatMap { l =>
        val piece = w.substring(i, i + l)
        val c =
          if (l == 1) Some(costs.getOrElse(piece, 30L * F))
          else costs.get(piece)
        c.toSeq.flatMap(cc =>
          rec(i + l).map(_ + cc * UnigramLm.CntScale + 1L))
      }
    rec(0).min
  }

  test("wordKey == exhaustive min over all segmentations") {
    val costs = Map("a" -> 100L, "b" -> 200L, "c" -> 50L,
      "ab" -> 120L, "bc" -> 500L, "abc" -> 90L, "abca" -> 400L,
      "ca" -> 10L)
    val m = new UnigramEncode.Model(costs, 4, 16)
    for (w <- Seq("a", "abc", "abca", "abcabc", "cccc", "bbbb",
        "abcabcabcabcabca", "cab", "z", "zzz", "azb")) {
      assert(UnigramEncode.wordKey(m, w) === bruteKey(costs, w, 4), w)
    }
  }

  test("tie-proof: equal-cost segmentations yield one deterministic key") {
    // "ab"+"cd" and "abcd" tie when costs align: both cost 100, but
    // piece counts differ (2 vs 1) — the combined key prefers fewer
    // pieces; "ax"+"yd" vs "axyd" tie on BOTH fields -> same key
    val costs = Map("ab" -> 50L, "cd" -> 50L, "abcd" -> 100L,
      "ax" -> 50L, "yd" -> 50L, "axyd" -> 100L, "xy" -> 999999L,
      "a" -> 1000L, "b" -> 1000L, "c" -> 1000L, "d" -> 1000L,
      "x" -> 1000L, "y" -> 1000L)
    val m = new UnigramEncode.Model(costs, 4, 16)
    val k1 = UnigramEncode.wordKey(m, "abcd")
    assert(k1 % UnigramLm.CntScale === 1L) // the 1-piece path wins the tie
    assert(k1 / UnigramLm.CntScale === 100L)
  }

  test("character fallback past the unroll depth; unk floor") {
    val costs = Map("a" -> 100L, "ab" -> 5L, "b" -> 300L)
    val m = new UnigramEncode.Model(costs, 4, 16)
    val w17 = "ab" * 9 // 18 chars > MaxWordLen: chars only, no "ab"
    assert(UnigramEncode.wordKey(m, w17) ===
      9L * (100L + 300L) * UnigramLm.CntScale + 18L)
    // unknown char at the floor
    assert(UnigramEncode.wordKey(m, "q") ===
      30L * F * UnigramLm.CntScale + 1L)
  }

  test("pathPieces: reconstructs the word, matches wordKey, shortest-piece ties") {
    val costs = Map("a" -> 100L, "b" -> 200L, "c" -> 50L,
      "ab" -> 120L, "bc" -> 500L, "abc" -> 90L, "ca" -> 10L)
    val m = new UnigramEncode.Model(costs, 4, 16)
    for (w <- Seq("abc", "abcabc", "cab", "azb", "cccc", "ab" * 9)) {
      val path = UnigramEncode.pathPieces(m, w)
      assert(path.reverse.mkString === w, w)
      val key = path.map(p =>
        costs.getOrElse(p, 30L * F) * UnigramLm.CntScale + 1L).sum
      assert(key === UnigramEncode.wordKey(m, w), w)
    }
    // crafted tie: "xy"+"zw" vs "xyzw" same cost AND same count is
    // impossible (counts differ), but "x"+"yzw" vs "xyz"+"w" tie on
    // both -> the walk takes the SHORTEST piece at the END first
    val tie = Map("x" -> 10L, "yzw" -> 20L, "xyz" -> 20L, "w" -> 10L,
      "y" -> 999L, "z" -> 999L)
    val mt = new UnigramEncode.Model(tie, 4, 16)
    assert(UnigramEncode.pathPieces(mt, "xyzw") === Seq("w", "xyz"))
  }

  test("hard-EM round == driver recompute; corpus NLL does not increase") {
    val corpus = Seq(
      (0L, "banana bandana banana nabna"),
      (1L, "an announcement and an anagram banana"),
      (2L, "ban bandana nan announcement"))
    val docs = corpus.toDF("doc_id", "text")
    val wc = UnigramLm.wordCounts(docs, "text")
    val model0 = UnigramLm.denseModel(docs, "text", topM = 8)
    val model2 = UnigramLm.emRefine(wc, model0)
    // driver recompute: canonical paths weighted by word freq
    val words = corpus.flatMap(_._2.toLowerCase
      .split("[^a-z0-9]+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val usage = words.toSeq.flatMap { case (w, f) =>
      UnigramEncode.pathPieces(model0, w).map(_ -> f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tot = model0.costs.keysIterator
      .map(p => usage.getOrElse(p, 0L)).sum
    val want = model0.costs.keysIterator.map { p =>
      val c = usage.getOrElse(p, 0L)
      val q = math.min(math.max(c * 1073741824L / tot, 1L), 1073741824L)
      p -> BigramScore.nllFp(q)
    }.toMap
    assert(model2.costs === want)
    // hard-EM likelihood law (integer floors included): the corpus
    // cost under the refined model never exceeds the seed model's
    def corpusCost(m: UnigramEncode.Model): Long =
      words.toSeq.map { case (w, f) =>
        f * (UnigramEncode.wordKey(m, w) / UnigramLm.CntScale)
      }.sum
    assert(corpusCost(model2) <= corpusCost(model0))
    // and ACROSS rounds (the t38 chain): round 2 re-counts usage over
    // round 1's canonical segmentation — still non-increasing, on the
    // hand corpus and on testdata
    val model3 = UnigramLm.emRefine(wc, model2)
    assert(corpusCost(model3) <= corpusCost(model2))
    val tdocs = Tables.load(spark, sf, "documents")
    val twc = UnigramLm.wordCounts(tdocs, "text")
    val t0 = UnigramLm.denseModel(tdocs, "text", topM = 64)
    val t2 = UnigramLm.emRefine(twc, t0)
    val t3 = UnigramLm.emRefine(twc, t2)
    def totalCost(m: UnigramEncode.Model) = {
      val (_, _, cost) = UnigramLm.encodeColumns(m, "text")
      tdocs.agg(sum(cost)).collect()(0).getLong(0)
    }
    val (c0, c2, c3) = (totalCost(t0), totalCost(t2), totalCost(t3))
    assert(c2 <= c0 && c3 <= c2,
      s"no-increase law across rounds: $c0 -> $c2 -> $c3")
    graft.ops.StagePersists.release(spark)
  }

  test("corpus-trained encode == driver recompute; streams append-mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "banana bandana banana"),
      (1L, "an announcement and an anagram"),
      (2L, "Nana ban! 中文 bandana-like announcement"),
      (3L, ""),
      (4L, "supercalifragilisticexpialidocious ban"))
    val docs = corpus.toDF("doc_id", "text")
    val model = UnigramLm.denseModel(docs, "text", topM = 8)
    // driver recompute of training: substring counts over the regex
    // token stream, top-8 multi-char by (cnt desc, piece), all chars
    val toks = corpus.flatMap(_._2.toLowerCase
      .split("[^a-z0-9]+").filter(_.nonEmpty))
    val subCnt = toks.flatMap { w =>
      for (l <- 1 to 4; i <- 0 to w.length - l) yield w.substring(i, i + l)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val multi = subCnt.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(8)
    val vocab = multi ++ subCnt.filter(_._1.length == 1).toSeq
    val total = vocab.map(_._2).sum
    val wantCosts = vocab.map { case (p, c) =>
      val q = math.min(math.max(c * 1073741824L / total, 1L), 1073741824L)
      p -> BigramScore.nllFp(q)
    }.toMap
    assert(model.costs === wantCosts)
    // per-doc stats == per-token wordKey sums
    val (nW, nP, cost) = UnigramLm.encodeColumns(model, "text")
    val stage = docs.select(col("doc_id"), nW.as("w"), nP.as("p"),
      cost.as("c"))
    val got = stage.as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    corpus.foreach { case (id, text) =>
      val ws = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val keys = ws.map(w => UnigramEncode.wordKey(model, w))
      val want = (ws.length.toLong,
        keys.map(_ % UnigramLm.CntScale).sum,
        keys.map(_ / UnigramLm.CntScale).sum)
      assert(got(id) === want, s"doc $id")
    }
    // the 34-char word took the char fallback
    assert(got(4L)._2 >= 34L)
    val input = MemoryStream[(Long, String)]
    val streamStage = {
      val (a, b, c2) = UnigramLm.encodeColumns(model, "text")
      input.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), a.as("w"), b.as("p"), c2.as("c"))
    }
    val sq = streamStage.writeStream.format("memory")
      .queryName("t33_stream").outputMode("append").start()
    try {
      input.addData(corpus: _*)
      sq.processAllAvailable()
      val streamed = spark.table("t33_stream")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(streamed === got)
    } finally sq.stop()
    graft.ops.StagePersists.release(spark)
  }
}
