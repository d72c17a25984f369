package graft

import graft.text.LanguageModel
import org.apache.spark.sql.functions._

/** Pins the hashed Kneser–Ney scorer ([[LanguageModel.knHashedCounts]] /
  * [[LanguageModel.knScore]]) against a from-scratch driver-side
  * recompute of its documented spec — portable md5 buckets, absolute
  * discount d = 3/4 multiplied through by 4, the TWO nested floors of
  * the backoff term, the unseen-prefix pure-continuation path, and the
  * fixed-point NLL ladder.
  */
class KneserNeySpec extends SparkSpec {
  import spark.implicits._

  private val B2 = 64
  private val B1 = 32
  private val F = LanguageModel.F
  private val P = LanguageModel.PScale

  private def md5Long(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }
  private def toks(t: String): Seq[String] =
    t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
  private def grams(t: String): Seq[(String, String)] = {
    val w = toks(t); w.zip(w.drop(1))
  }
  private def nll(q: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(q)
    31L * F - e * F - (q * F) / (1L << e)
  }

  test("knScore == the documented two-floor discounted spec, per row") {
    val ref = Seq(
      (0L, "the cat sat on the mat the cat ran off"),
      (2L, "a dog sat on a log and the dog ran home"))
    val docs = ref ++ Seq(
      (1L, "the cat ran"),
      (3L, "zz qq vv totally unseen words"),
      (4L, "solo"),
      (5L, ""))
    // driver recompute of the trained statistics
    val refGrams = ref.flatMap(r => grams(r._2))
    val c2 = refGrams.groupBy { case (a, b) => md5Long(s"$a $b") % B2 }
      .view.mapValues(_.size.toLong).toMap
    val c1 = refGrams.groupBy { case (a, _) => md5Long(a) % B1 }
      .view.mapValues(_.size.toLong).toMap
    val types = refGrams.map { case (a, b) =>
      (md5Long(a) % B1, md5Long(b) % B1) }.toSet
    val n1 = types.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cont = types.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tn = types.size.toLong
    def q(a: String, b: String): Long = {
      val kc2 = c2.getOrElse(md5Long(s"$a $b") % B2, 0L)
      val kc1 = c1.getOrElse(md5Long(a) % B1, 0L)
      val kn1 = n1.getOrElse(md5Long(a) % B1, 0L)
      val kco = cont.getOrElse(md5Long(b) % B1, 0L)
      if (kc1 > 0L)
        math.min(math.max(
          math.max(kc2 * 4 - 3, 0L) * P / (kc1 * 4) +
            (kn1 * 3 * P / (kc1 * 4)) * kco / tn, 1L), P)
      else math.min(math.max(kco * P / tn, 1L), P)
    }
    val want = docs.map { case (id, t) =>
      val gs = grams(t)
      (id, gs.size.toLong, gs.map { case (a, b) => nll(q(a, b)) }.sum)
    }.toSet
    val lm = LanguageModel
    val (sc2, sc1, scont, stot) = lm.knHashedCounts(
      ref.toDF("doc_id", "text"), "text", B2, B1)
    val got = lm.knScore(docs.toDF("doc_id", "text"), sc2, sc1, scont,
        stot, B2, B1, "text", "doc_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want, s"\ngot:  $got\nwant: $want")
    // both smoothing paths really ran: a seen-prefix gram below P and
    // an unscorable doc at (0, 0)
    assert(want.exists(r => r._1 == 0L && r._3 > 0L))
    assert(want.exists(r => r._1 == 5L && r._2 == 0L && r._3 == 0L))
    graft.ops.StagePersists.release(spark)
  }

  test("native KnScore kernel == join-form knScore, row for row; streams append-mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val lm = LanguageModel
    val ref = Seq(
      (0L, "the cat sat on the mat the cat ran off"),
      (2L, "a dog sat on a log and the dog ran home")).toDF("doc_id", "text")
    val rows = Seq(
      (1L, "the cat ran"), (3L, "zz qq vv totally unseen words"),
      (4L, "solo"), (5L, ""), (6L, "the cat sat on the mat"))
    val (c2, c1, cont, totals) = lm.knHashedCounts(ref, "text", B2, B1)
    val joined = lm.knScore(rows.toDF("doc_id", "text"), c2, c1, cont,
        totals, B2, B1, "text", "doc_id")
      .as[(Long, Long, Long)].collect().toSet
    val (d2, dc1, dn1, dco, t) = lm.knDenseCounts(c2, c1, cont, totals, B2, B1)
    val (n, nll) = lm.knNllColumns(d2, dc1, dn1, dco, t, B2, B1, "text")
    def stage(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", n.as("n_grams"), nll.as("nll_fp"))
    val kernel = stage(rows.toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().toSet
    assert(kernel === joined)
    val input = MemoryStream[(Long, String)]
    val q = stage(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("w17_stream")
      .outputMode("append").start() // pure per-row kernel: stateless
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("w17_stream")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === kernel)
    } finally q.stop()
    graft.ops.StagePersists.release(spark)
  }

  test("KN model has one segment: any other segment index scores [0, 0]") {
    import graft.functions.{BigramScore, TokenArray}
    val lm = LanguageModel
    val ref = Seq((0L, "the cat sat on the mat the cat ran off"))
      .toDF("doc_id", "text")
    val (c2, c1, cont, totals) = lm.knHashedCounts(ref, "text", B2, B1)
    val (d2, dc1, dn1, dco, t) = lm.knDenseCounts(c2, c1, cont, totals, B2, B1)
    val model = new BigramScore.KneserNey(d2, dc1, dn1, dco, t)
    val docs = Seq("the cat sat on the mat", "the cat ran").toDF("text")
    def scored(seg: Int): Seq[Seq[Long]] = docs.select(BigramScore(
        TokenArray.asciiTokens(col("text")), lit(seg), model).as("s"))
      .as[Seq[Long]].collect().toSeq
    assert(scored(0).forall(_.head > 0L)) // segment 0 really scores
    Seq(1, -1, 7).foreach(seg =>
      assert(scored(seg).forall(_ == Seq(0L, 0L)), s"segment $seg"))
    graft.ops.StagePersists.release(spark)
  }

  test("KN discounts less than add-one on frequent seen bigrams") {
    // "the cat" occurs twice in a tiny reference: the KN estimate keeps
    // most of its raw mass (discount 3/4 of one count), while add-one
    // smoothing over the b2-bucket event space crushes it
    val ref = Seq((0L, "the cat sat the cat ran the cat slept"))
      .toDF("doc_id", "text")
    val probe = Seq((1L, "the cat")).toDF("doc_id", "text")
    val lm = LanguageModel
    val (kc2, kc1, kcont, ktot) = lm.knHashedCounts(ref, "text", B2, B1)
    val kn = lm.knScore(probe, kc2, kc1, kcont, ktot, B2, B1,
      "text", "doc_id").select("nll_fp").as[Long].head()
    val (ac2, ac1) = lm.hashedCounts(ref, "text", B2, B1)
    val (d2, d1) = lm.denseCounts(ac2, ac1, B2, B1)
    val (_, addOne) = lm.nllColumns(d2, d1, B2, B1, "text")
    val ao = probe.select(addOne.as("nll")).as[Long].head()
    assert(kn < ao, s"KN nll $kn should be below add-one $ao here")
    graft.ops.StagePersists.release(spark)
  }
}
