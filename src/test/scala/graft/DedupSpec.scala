package graft

import graft.dedup.Dedup
import graft.text.TextAnalysis
import graft.sim.Similarity
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base + " tonight"), // near dup of 1
    (4L, "completely different words about spark engines and data lakes now")
  ).toDF("doc_id", "text")

  test("exact duplicate groups") {
    val g = Dedup.exactDuplicateGroups(docs, "text", "doc_id").collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("n_docs") == 2)
    assert(g.head.getAs[Long]("canonical_id") == 1L)
  }

  test("drop exact duplicates keeps smallest id") {
    val kept = Dedup.dropExactDuplicates(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("word shingles") {
    val sh = Dedup.wordShingles(Seq((1L, "a b c d")).toDF("doc_id", "text"),
      "text", "doc_id", 3).select("shingle").as[String].collect().toSet
    assert(sh == Set("a b c", "b c d"))
  }

  test("jaccard pairs find near and exact dups") {
    val sh = Dedup.wordShingles(docs, "text", "doc_id", 3)
    val pairs = Dedup.jaccardPairs(sh, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash end-to-end finds near dups") {
    val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        threshold = 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
  }

  test("cross-corpus dedup matches batch docs to corpus docs only") {
    val corpus = docs.filter(col("doc_id") =!= 3L) // 1, 2 (dups), 4
    val batch = Seq(
      (10L, base + " tonight"), // near dup of corpus 1/2
      (11L, "nothing in common with any corpus document at all here")
    ).toDF("doc_id", "text")
    val m = Dedup.crossCorpusNearDuplicates(corpus, batch, "text", "doc_id",
        threshold = 0.5)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    // batch 10 matches corpus 1 AND 2; batch 11 matches nothing; no
    // corpus-corpus pair (1,2 are exact dups of each other) leaks out
    assert(m == Set((10L, 1L), (10L, 2L)))
  }

  test("inline per-row LSH buckets are byte-identical to the aggregated path") {
    val docs500 = spark.read.parquet(s"$sf/documents.parquet")
    val agg = Dedup.lshBuckets(
        Dedup.minhashSignatures(
          Dedup.wordShingles(docs500, "text", "doc_id", 3), 16), 4)
      .select("id", "band", "bucket").as[(Long, Int, String)].collect().toSet
    val inline = Dedup.inlineLshBuckets(docs500, "text", "doc_id", 3, 16, 4)
      .select("id", "band", "bucket").as[(Long, Int, String)].collect().toSet
    assert(inline === agg)
    assert(agg.nonEmpty)
  }

  test("identical docs have identical minhash signatures") {
    val sh = Dedup.wordShingles(docs, "text", "doc_id", 3)
    val sigs = Dedup.minhashSignatures(sh, 8)
      .collect().groupBy(_.getAs[Long]("id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("perm_id")).map(_.getAs[Long]("min_hash")).toSeq)
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("simhash: identical docs distance 0, near docs close") {
    val sigs = Dedup.simhash(docs, "text", "doc_id")
    val m = sigs.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) <= 6)
    val pairs = Dedup.simhashPairs(sigs, maxDistance = 3)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash signatures use all 64 bits; band keys span the 16-bit space") {
    import org.apache.spark.sql.functions._
    // 500 real docs: the high 32 bits must actually vary (a 32-bit hash
    // truncation would leave them constant) and every 16-bit band key
    // must stay in [0, 65536).
    val docs500 = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = Dedup.simhash(docs500, "text", "doc_id")
    val hi = sigs.select(countDistinct(expr("simhash div 4294967296")).as("n"))
      .collect().head.getLong(0)
    assert(hi > 100, s"high 32 bits nearly constant ($hi distinct) — not a 64-bit hash")
    val keys = sigs.select(col("id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          pmod(shiftright(col("simhash"), b * 16), lit(65536L))): _*)).as("key"))
      .agg(min("key"), max("key")).collect().head
    assert(keys.getLong(0) >= 0L && keys.getLong(1) < 65536L)
    // pigeonhole at distance exactly 3: flipping 3 bits in distinct
    // bands still collides on the untouched band
    val s0 = 0x0123456789abcdefL
    val s3 = s0 ^ (1L << 0) ^ (1L << 16) ^ (1L << 32) // bands 0,1,2 hit; band 3 intact
    val two = Seq((1L, s0), (2L, s3)).toDF("id", "simhash")
    val got = Dedup.simhashPairs(two, maxDistance = 3)
      .select("ida", "idb", "hamming").as[(Long, Long, Int)].collect().toSeq
    assert(got === Seq((1L, 2L, 3)))
  }

  test("embedding cosine near-dup pairs find the planted neighbor") {
    val rng = new scala.util.Random(11)
    val dim = 64
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val vecs = (0L until 20L).map(i => (i, unit()))
    // plant: id 100 = id 0 nudged, stays near-parallel
    val planted = (100L, vecs.head._2.map(_ + 0.02))
    val df = (vecs :+ planted).toDF("vec_id", "vd")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "vd",
        threshold = 0.95, bands = 4, planesPerBand = 8, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 100L)))
    assert(pairs.length < 5) // random unit vectors are not near-dups
  }

  test("fingerprint stable under small tail edit") {
    val fp = TextAnalysis.fingerprint(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("fingerprint")).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) == fp(3L)) // min-shingle unchanged by appended word (high prob)
  }

  test("language id") {
    val df = Seq(
      (1L, "the cat and the dog went to the house that was in the garden"),
      (2L, "der Hund und die Katze sind nicht in das Haus mit dem Garten"),
      (3L, "xyzzy plugh 12345")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langId("text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
    assert(got(3L) == "unknown")
  }

  test("token count and quality bounds") {
    val df = Seq((1L, "hello world foo bar")).toDF("doc_id", "text")
    assert(df.select(TextAnalysis.tokenCount("text")).as[Long].head() == 4L)
    val q = docs.select(TextAnalysis.qualityScore("text").as("q")).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("round4 is IEEE-deterministic at .xxxx5 boundaries") {
    // The two sf0.1 docs whose raw scores sat within one ulp of a
    // 4-decimal boundary and split Spark's round() from DuckDB's:
    // floor(x*1e4 + 0.5)/1e4 is pure IEEE arithmetic, so both engines
    // compute the identical bits. Expected values pinned from the
    // same formula evaluated in CPython (also IEEE-754).
    val in = Seq(0.94524999999999992, 0.78774999999999995, 0.12345)
    val got = in.toDF("x")
      .select(graft.queries.TextQueries.round4(col("x")).as("r"))
      .as[Double].collect().toSeq
    assert(got == Seq(0.9453, 0.7877, 0.1235))
  }

  test("cosine top-k ranks identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)), // identical to 0
      (2L, Array(0.9f, 0.1f, 0.0f)), // close
      (3L, Array(0.0f, 0.0f, 1.0f)) // orthogonal
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id",
      "embedding", k = 3).collect()
    val ranked = top.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("neighbor_id")).toSeq
    assert(ranked == Seq(1L, 2L, 3L))
    assert(top.head.getAs[Double]("score") == 1.0)
  }

  test("passage dup stats count corpus-wide shared windows") {
    import spark.implicits._
    val docs = Seq(
      // k=3 windows: doc1 (abc,bcd,cde,def); doc2 (xya,yab,abc,bcd)
      // → abc,bcd shared by both → each 2 shared of 4
      (1L, "a b c d e f"),
      (2L, "x y a b c d"),
      (3L, "a b"), // < k tokens: zero windows
      (4L, "p q r s")) // all windows unique
      .toDF("doc_id", "text")
    val got = graft.dedup.Dedup.passageDupStats(docs, "text", "doc_id", k = 3)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_shared"),
          r.getAs[Double]("dup_frac"))))
      .toMap
    assert(got(1L) === ((4L, 2L, 0.5)))
    assert(got(2L) === ((4L, 2L, 0.5)))
    assert(got(3L) === ((0L, 0L, 0.0)))
    assert(got(4L) === ((2L, 0L, 0.0)))
  }

  test("exact-substring dedup removes later occurrences, keeps first") {
    import spark.implicits._
    val docs = Seq(
      // doc1 owns "a b c" (pos 0) and also repeats it at pos 3 → the
      // internal repeat's span (3..5) is removed from doc1 itself
      (1L, "a b c a b c"),
      // doc2 repeats doc1's window at pos 2 → positions 2..4 removed;
      // its unique prefix windows survive ("x y a","y a b" unique)
      (2L, "x y a b c"),
      (3L, "a b"), // < k tokens: untouched
      (4L, "p q r s")) // all windows unique: untouched
      .toDF("doc_id", "text")
    val got = graft.dedup.Dedup.exactSubstringDedup(docs, "text", "doc_id", k = 3)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))))
      .toMap
    assert(got(1L) === ((6L, 3L, "a b c")))
    assert(got(2L) === ((5L, 3L, "x y")))
    assert(got(3L) === ((2L, 0L, "a b")))
    assert(got(4L) === ((4L, 0L, "p q r s")))
  }

  test("cover rewrite merges overlapping intervals; starts may arrive unsorted") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ws: String*) =
      new GenericArrayData(ws.map(UTF8String.fromString).toArray[Any])
    // k=3, starts {4, 2} (unsorted, overlapping) → covered 2..6
    val row = graft.functions.CoverRewrite.rewriteOf(
      arr("t0", "t1", "t2", "t3", "t4", "t5", "t6", "t7"),
      new GenericArrayData(Array[Any](4, 2)), 3)
    assert(row.getLong(0) == 5L)
    assert(row.getUTF8String(1).toString == "t0 t1 t7")
    // no starts → untouched; all covered → empty text
    val none = graft.functions.CoverRewrite.rewriteOf(
      arr("a", "b"), new GenericArrayData(Array.empty[Any]), 3)
    assert(none.getLong(0) == 0L && none.getUTF8String(1).toString == "a b")
    val all = graft.functions.CoverRewrite.rewriteOf(
      arr("a", "b", "c"), new GenericArrayData(Array[Any](0)), 3)
    assert(all.getLong(0) == 3L && all.getUTF8String(1).toString == "")
  }

  test("exact-dup collapse path emits exactly the direct minhash pairs") {
    import spark.implicits._
    // duplication-dense corpus: 4 copies of each of 5 base texts plus
    // one near-dup and one short (< shingle size) duplicated doc
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight",
      "red green blue yellow purple orange pink white",
      "north south east west up down left right",
      "cat dog bird fish horse sheep goat cow")
    val docs = (base.zipWithIndex.flatMap { case (t, i) =>
      (0 until 4).map(c => (i * 100L + c, t))
    } ++ Seq((900L, "alpha beta gamma delta epsilon zeta eta NINE"),
      (901L, "ab"), (902L, "ab"))).toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        shingleSize = 3, numPerms = 16, rowsPerBand = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.nonEmpty)
    // identical copies pair at exactly 1.0; the short dup pair is absent
    // (no shingles → no bands)
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    assert(!pairs.exists(p => p._1 == 901L))
    // the same pairs by exact-dup collapse: one representative (min id)
    // per distinct text through the pair machinery, its pairs expanded to
    // every member pair, plus jaccard-1.0 pairs within each group of a
    // text with at least one shingle
    val rows = docs.as[(Long, String)].collect().toSeq
    val groups = rows.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
    val gidOf = groups.flatMap(g => g.map(_ -> g.head)).toMap
    val members = groups.map(g => g.head -> g).toMap
    val reps = rows.filter { case (id, _) => gidOf(id) == id }.toDF("doc_id", "text")
    val repPairs = graft.dedup.Dedup.minhashNearDuplicates(reps, "text", "doc_id",
        shingleSize = 3, numPerms = 16, rowsPerBand = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val cross = repPairs.flatMap { case (ga, gb, j) =>
      for (a <- members(ga); b <- members(gb)) yield (a min b, a max b, j) }
    val shingled = rows.collect { case (id, t) if t.split(" ").length >= 3 => id }.toSet
    val within = groups.filter(g => shingled(g.head)).flatMap(g =>
      for (a <- g; b <- g if a < b) yield (a, b, 1.0))
    assert((cross ++ within).toSet === pairs)
    graft.ops.StagePersists.release(spark)
  }

  test("cross-corpus pairs are the cross-parity slice of the self-join pairs") {
    // the identity the d13 oracle states: bands and Jaccard are
    // per-document and per-pair functions, so probing the odd docs
    // against the even ones finds exactly the mixed-parity pairs of
    // one self-join over all docs, oriented batch → corpus
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val cross = Dedup.crossCorpusNearDuplicates(
        all.filter(col("doc_id") % 2 === 0), all.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", shingleSize = 3, numPerms = 16, rowsPerBand = 4,
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val sliced = Dedup.minhashNearDuplicates(all, "text", "doc_id",
        shingleSize = 3, numPerms = 16, rowsPerBand = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .collect { case (a, b, j) if a % 2 != b % 2 =>
        if (a % 2 == 1) (a, b, j) else (b, a, j) }.toSet
    assert(cross.nonEmpty)
    assert(cross === sliced)
    graft.ops.StagePersists.release(spark)
  }

  test("containment flags an excerpt inside its source where jaccard misses") {
    import spark.implicits._
    // doc 2 = a 4-word excerpt of doc 1's 12 words: containment(2→1)
    // = 2/2 = 1.0 while jaccard = 2/10 = 0.2
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "w1 w2 w3 w4"),
      (3L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text")
    val sh = graft.dedup.Dedup.wordShingles(docs, "text", "doc_id", 3)
    val cont = graft.dedup.Dedup.containmentPairs(sh, threshold = 0.9)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 2L, 0.2, 1.0)))
    val jac = graft.dedup.Dedup.jaccardPairs(sh, threshold = 0.9)
    assert(jac.isEmpty) // jaccard at the same threshold sees nothing
  }

  test("native dot_product equals the HOF reference bit-for-bit") {
    import spark.implicits._
    // float and double element types, denormal-ish and large magnitudes
    // (accumulation ORDER changes the last ulp — the native loop must
    // round identically), a null element, and a length mismatch
    val vecs = Seq(
      (1L, Array(1.5f, -2.25f, 3.125f, 0.1f), Array(0.5, 0.25, -0.125, 1e-3)),
      (2L, Array(1e30f, 1f, -1e30f, 1f), Array(1.0, 1.0, 1.0, 1.0)),
      (3L, Array(0.1f, 0.2f, 0.3f, 0.4f), Array(0.7, 0.11, 0.13, 0.17)))
      .toDF("id", "fa", "da")
    val got = vecs.select(
      graft.sim.Similarity.dot(col("fa"), col("da")).as("fast"),
      graft.sim.Similarity.dotReference(col("fa"), col("da")).as("ref"),
      graft.sim.Similarity.dot(col("fa"), col("fa")).as("fast_ff"),
      graft.sim.Similarity.dotReference(col("fa"), col("fa")).as("ref_ff"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
    // null element and length mismatch null the result, like zip_with
    val edge = Seq((Array(1.0, 2.0), Array(3.0), Array(1.0, Double.NaN)))
      .toDF("a", "b", "c")
      .select(graft.sim.Similarity.dot(col("a"), col("b")).as("mismatch"),
        graft.sim.Similarity.dot(col("a"), col("c")).as("nan"))
      .collect().head
    assert(edge.isNullAt(0))
    assert(edge.getDouble(1).isNaN) // NaN propagates, not nulls
  }

  test("domain mix assigns nearest centroid; rounded ties break to smaller id") {
    // centroid 0 = e1, centroid 1 = e2 (orthogonal axes). Point a is on
    // axis 1 → cluster 0; point b is on axis 2 → cluster 1; point c is
    // exactly between them (cos 0.7071 to both after rounding) → tie →
    // smaller centroid id 0.
    val cents = Seq(
      0L -> Array(1.0, 0.0, 0.0, 0.0),
      1L -> Array(0.0, 1.0, 0.0, 0.0))
    val vecs = Seq(
      (10L, Array(2.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 3.0f, 0.0f, 0.0f)),
      (12L, Array(1.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.sim.DomainMix.assign(vecs, cents, "vec_id", "embedding")
      .as[(Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(10L) === ((0L, 1.0)))
    assert(got(11L) === ((1L, 1.0)))
    assert(got(12L) === ((0L, 0.7071)))
  }

  test("domain mix token shares are half-up-rounded fractions of the total") {
    val assigned = Seq((1L, 0L, 1.0), (2L, 0L, 1.0), (3L, 1L, 1.0))
      .toDF("vec_id", "cluster_id", "score")
    val toks = Seq((1L, 10L), (2L, 20L), (3L, 10L)).toDF("doc_id", "n_toks")
    val got = graft.sim.DomainMix
      .tokenShares(assigned, toks, "doc_id", "n_toks", "vec_id")
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got(0L) === ((2L, 30L, 0.75)))
    assert(got(1L) === ((1L, 10L, 0.25)))
  }

  test("lsh buckets put identical vectors together") {
    val vecs = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(8, 64)
    val b = vecs.select(col("vec_id"), Similarity.lshBucket(col("embedding"), planes).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(1L))
  }

  test("weighted jaccard ignores boilerplate where plain jaccard drowns") {
    import spark.implicits._
    val footer = "standard legal footer text shared across the whole site " +
      "every single page gets this exact block appended"
    val docs = Seq(
      (1L, s"unique alpha story about rivers and stones flowing down $footer"),
      (2L, s"unique alpha story about rivers and stones flowing down slowly $footer"),
      (3L, s"completely different beta report on market numbers today $footer"),
      (4L, s"another unrelated gamma essay concerning orbital mechanics $footer"))
      .toDF("doc_id", "text")
    val sh = Dedup.wordShingles(docs, "text", "doc_id", 3)
    // plain jaccard at 0.4: the shared footer alone pushes UNRELATED
    // pairs over the line
    val plain = Dedup.jaccardPairs(sh, threshold = 0.4)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(plain.contains((3L, 4L)), s"footer should fool plain jaccard: $plain")
    // weighted at the same threshold: only the true near-dup survives
    val weighted = Dedup.weightedJaccardPairs(sh, threshold = 0.4)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(weighted === Set((1L, 2L)), s"weighted pairs: $weighted")
  }
}
