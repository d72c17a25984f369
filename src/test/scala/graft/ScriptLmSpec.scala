package graft

import graft.text.{LanguageModel, ScriptLm, ScriptText}
import org.apache.spark.sql.functions._

/** Per-script hashed LM ([[ScriptLm]]): the native
  * [[graft.functions.BigramScore]] kernel against the join-form
  * [[ScriptLm.score]], exact incremental count folding, the
  * percentile-cut trainer, and the explicit unscorable policy. */
class ScriptLmSpec extends SparkSpec {
  import spark.implicits._

  private val B2 = 64
  private val B1 = 32

  // mixed-script corpus: Latin, CJK (spaceless), Cyrillic, Arabic,
  // Greek, digits-only (script 'none', HAS digit bigrams), one-token,
  // and empty documents
  private val corpus = Seq(
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "一二三四五六七八九十一二三四五",
    "月日水火木金土月日水火木金土",
    "съешь же ещё этих мягких французских булок",
    "широкая электрификация южных губерний",
    "في قلب المدينة القديمة سوق كبير",
    "γαζέες και μυρτιές δεν θα βρω πια",
    "mixed 一二三 latin and 四五六 cjk runs",
    "0123 4567 89 ... ---- !!!",
    "solo",
    ""
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("native kernel == join-form score, row for row") {
    val df = corpus.toDF("id", "text")
    val ref = df.filter($"id" % 2 === 0)
    val (c2, c1) = ScriptLm.hashedCounts(ref, "text", B2, B1)
    val joined = ScriptLm.score(df, c2, c1, B2, B1, "text", "id")
    val (d2, d1) = ScriptLm.denseCounts(c2, c1, B2, B1)
    val (script, n, nll, scorable) = ScriptLm.nllColumns(d2, d1, B2, B1, "text")
    val kernel = df.select($"id", script.as("script"), n.as("n_grams"),
      nll.as("nll_fp"), scorable.as("lm_scorable"))
    val a = joined.orderBy("id").collect().toSeq
    val b = kernel.orderBy("id").collect().toSeq
    assert(a == b, s"join form:\n${a.mkString("\n")}\nkernel:\n${b.mkString("\n")}")
  }

  test("routing: each document scores against its OWN script's counts") {
    val df = corpus.toDF("id", "text")
    // reference containing ONLY Latin docs: CJK/Cyrillic/Arabic/Greek
    // documents must score against all-zero segments (every gram at the
    // smoothed-zero probability q = 2^30/b2 exactly), not against the
    // Latin counts
    val ref = df.filter($"id" < 2)
    val (c2, c1) = ScriptLm.hashedCounts(ref, "text", B2, B1)
    val scored = ScriptLm.score(df, c2, c1, B2, B1, "text", "id")
    val q = LanguageModel.PScale / B2
    val e = 63 - java.lang.Long.numberOfLeadingZeros(q)
    val perGram = 31L * LanguageModel.F - e * LanguageModel.F -
      (q * LanguageModel.F) / (1L << e)
    val nonLatin = scored.filter($"script" =!= "latin" && $"lm_scorable")
      .select($"n_grams", $"nll_fp").collect()
    assert(nonLatin.nonEmpty)
    nonLatin.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) * perGram,
        s"unseen-script doc not at the smoothed-zero level ($perGram/gram): $r")
    }
  }

  test("unscorable policy: 'none' script and zero-gram docs are tagged, never dropped") {
    val df = corpus.toDF("id", "text")
    val (c2, c1) = ScriptLm.hashedCounts(df, "text", B2, B1)
    val scored = ScriptLm.score(df, c2, c1, B2, B1, "text", "id")
    assert(scored.count() == corpus.size.toLong) // nothing dropped
    val tags = scored.select($"id", $"script", $"lm_scorable")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(tags(9L) == ("none", false)) // digits-only: grams but no route
    assert(tags(10L)._2 == false)       // one token: routed but no grams
    assert(tags(11L) == ("none", false))
    // and the gate keeps them all
    val kept = scored.withColumn("kept",
        ScriptLm.gateKept($"script", $"n_grams", $"nll_fp",
          Seq("latin" -> 0L, "cjk" -> 0L))) // cuts that drop ALL scorables
      .filter(!$"lm_scorable").select("kept").collect()
    assert(kept.nonEmpty && kept.forall(_.getBoolean(0)))
  }

  test("incremental fold == full retrain, bit for bit") {
    val df = corpus.toDF("id", "text")
    val oldDump = df.filter($"id" < 6)
    val newDump = df.filter($"id" >= 6)
    val (fc2, fc1) = ScriptLm.hashedCounts(df, "text", B2, B1)
    val (oc2, oc1) = ScriptLm.hashedCounts(oldDump, "text", B2, B1)
    val (nc2, nc1) = ScriptLm.hashedCounts(newDump, "text", B2, B1)
    val f2 = ScriptLm.foldHashedCounts(oc2, nc2, "__c2")
    val f1 = ScriptLm.foldHashedCounts(oc1, nc1, "__c1")
    assert(f2.exceptAll(fc2).isEmpty && fc2.exceptAll(f2).isEmpty)
    assert(f1.exceptAll(fc1).isEmpty && fc1.exceptAll(f1).isEmpty)
  }

  test("percentile cuts: keep fraction holds per script, ties inclusive") {
    // 10 docs per script with strictly increasing NLL keys via repeats
    val latin = (0 until 10).map(i =>
      (i.toLong, ("zz yy xx " * (i + 1)).trim))
    val cjk = (0 until 10).map(i =>
      (100L + i, "一二三四五" * (i + 1)))
    val df = (latin ++ cjk).toDF("id", "text")
    val (c2, c1) = ScriptLm.hashedCounts(df.filter($"id" % 2 === 0), "text", B2, B1)
    val scored = ScriptLm.score(df, c2, c1, B2, B1, "text", "id")
    val cuts = ScriptLm.percentileCuts(scored, 7, 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cuts.keySet == Set("latin", "cjk"))
    val kept = scored
      .withColumn("kept", ScriptLm.gateKept($"script", $"n_grams",
        $"nll_fp", cuts.toSeq))
      .groupBy("script").agg(
        sum(when($"kept", 1L).otherwise(0L)).as("k"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    kept.foreach { case (s, (k, n)) =>
      assert(k * 10L >= n * 7L && k < n,
        s"cut must keep >= 70% but not all of $s: $k/$n")
    }
  }

  test("language-routed generic path: nllColumnsBy == scoreBy, row for row") {
    import graft.text.TextAnalysis
    val keys = TextAnalysis.markers.keys.toSeq.sorted
    // marker-led documents for three languages, one unroutable
    val docs = Seq(
      (0L, "the quick fox and the dog of the fen"),
      (1L, "der hund und die katze ist nicht da"),
      (2L, "le chat est dans la maison et le jardin"),
      (3L, "the cat and the hat was in the box"),
      (4L, "zzz qqq vvv"), // no marker hits → 'unknown'
      (5L, "")).toDF("id", "text")
    val route = TextAnalysis.langId("text")
    val ref = docs.filter($"id" =!= 3L)
    val (c2, c1) = ScriptLm.hashedCountsBy(ref, "text", route, B2, B1)
    val joined = ScriptLm.scoreBy(docs, c2, c1, B2, B1, "text", "id",
      route, noneKey = "unknown")
    val (d2, d1) = ScriptLm.denseCounts(c2, c1, B2, B1, keys = keys)
    val (lang, n, nll, scorable) = ScriptLm.nllColumnsBy(d2, d1, B2, B1,
      "text", route, keys, noneKey = "unknown")
    val kernel = docs.select($"id", lang.as("script"), n.as("n_grams"),
      nll.as("nll_fp"), scorable.as("lm_scorable"))
    val a = joined.orderBy("id").collect().toSeq
    val b = kernel.orderBy("id").collect().toSeq
    assert(a == b, s"join form:\n${a.mkString("\n")}\nkernel:\n${b.mkString("\n")}")
    // the unroutable doc is tagged, not dropped
    val m = b.map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(m(4L) == false && m(5L) == false && m(0L))
  }
}
