package graft.text

import graft.functions.{BigramScore, TokenArray}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** CCNet-style n-gram language-model perplexity filtering (Wenzek et
  * al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from
  * Web Crawl Data"): train a smoothed bigram LM on a trusted reference
  * corpus, score every candidate document by its per-token negative
  * log-likelihood, and bucket the corpus into head/middle/tail thirds —
  * the classic quality gate between dedup and sampling in an LLM data
  * pipeline (reference gesture: the quality thresholds of
  * `rule_generation_pipleline.py`, applied to corpus curation).
  *
  * INTEGER-EXACT log2, same discipline as [[Importance]]'s
  * cross-multiplied DSIR form: a true log is transcendental (not
  * portable bit-for-bit across engines), so the score uses the
  * fixed-point LINEAR-INTERPOLATED log2 surrogate
  *
  *   lg2_fp(q) = e·2¹⁶ + ⌊q·2¹⁶ / 2ᵉ⌋ − 2¹⁶,  e = ⌊log2 q⌋
  *
  * — exact integer arithmetic only (`+ · div`, plus a 31-branch CASE
  * for e), strictly monotone in q, continuous at the power-of-two
  * boundaries, and within 0.086 bits of log2 everywhere. Every engine
  * computing the same CASE ladder and Long ops produces the identical
  * score, so the operator is hash-oracle-able.
  *
  * Model: add-one (Laplace) smoothing over bigrams,
  *   p(w₂|w₁) = (c₂(w₁w₂) + 1) / (c₁(w₁) + V)
  * with c₁ the reference count of bigrams PREFIXED by w₁, c₂ the
  * reference count of the bigram, and V = |reference unigram vocab| + 1
  * (the +1 carries the unseen-type mass). The probability is scaled to
  *   Q = max(1, ⌊(c₂+1)·2³⁰ / (c₁+V)⌋) ∈ [1, 2³⁰]
  * (c₂ ≤ c₁ always, so Q never exceeds 2³⁰; probabilities below 2⁻³⁰
  * clamp — a floor every practical LM applies), and the per-occurrence
  * cost is nll_fp = 30·2¹⁶ − lg2_fp(Q) ≥ 0.
  *
  * Scale shape (100 TB): training is two map-side-combinable gram
  * counts plus one count-distinct over the reference; scoring is the
  * raw corpus's bigram stream equi-joined against the (distinct-gram
  * sized) count tables — linear, never pairwise, nothing driver-side.
  * Bucketing ranks the PER-DOCUMENT frame with
  * [[graft.ops.Scale.prefixSums]] (range partition + parallel windows +
  * O(#partitions) offset broadcast) — no global single-task window.
  *
  * Overflow envelope (enforced): the cross-multiplied numerator
  * (c₂+1)·2³⁰ stays inside Long while c₂ < 2³² — guarded through the
  * broadcast totals row like [[Importance.guardedTotal]] (reference
  * bigram total + V ≤ 2³² covers every per-gram count); beyond that,
  * cast the products to DecimalType(38,0) — same plan, wider buffers.
  *
  * Language scope: the [a-z0-9] tokenizer means non-Latin documents
  * yield zero bigrams → UNSCORABLE, which ranks them tail in
  * [[perplexityBuckets]] and drops them at gates that require
  * n_grams > 0 — matching CCNet's practice of one LM per language
  * (train per-language models on [[graft.text.ScriptText]]-segmented
  * corpora and route by its script vote to cover the rest).
  */
object LanguageModel {

  /** Fraction scale of the fixed-point log2 (2¹⁶). */
  val F: Long = 65536L

  /** Probability scale (2³⁰): Q = ⌊p·2³⁰⌋ clamped to ≥ 1. */
  val PScale: Long = 1073741824L

  /** Largest (reference bigram total + V) for which (c₂+1)·2³⁰ is
    * Long-exact (2³²). */
  val SafeDenBound: Long = 4294967296L

  /** The ⌊log2⌋ ladder: (threshold 2ᵉ, e·F, 2ᵉ) for e = 30 … 1; e = 0
    * (q = 1) is the fall-through. Shared with the SQL mirrors so both
    * engines compare against the same literals. */
  val ladder: Seq[(Long, Long, Long)] =
    (30 to 1 by -1).map(e => (1L << e, e.toLong * F, 1L << e))

  /** Exact Long integer division (both operands non-negative here, so
    * Spark's truncating `div` and DuckDB's flooring `//` agree).
    * Shared with [[ScriptLm]] and [[graft.sim.DomainMix]]. */
  private[graft] def ldiv(a: Column, b: Column): Column =
    GraftBridge.column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** e·F for q ∈ [1, 2³⁰] via the CASE ladder. Shared with [[Bm25]]. */
  private[text] def eF(q: Column): Column =
    ladder.foldLeft(Option.empty[Column]) {
      case (None, (thr, ef, _)) => Some(when(q >= thr, ef))
      case (Some(c), (thr, ef, _)) => Some(c.when(q >= thr, ef))
    }.get.otherwise(lit(0L))

  /** 2ᵉ for q ∈ [1, 2³⁰] via the CASE ladder. Shared with [[Bm25]]. */
  private[text] def pow2(q: Column): Column =
    ladder.foldLeft(Option.empty[Column]) {
      case (None, (thr, _, p)) => Some(when(q >= thr, p))
      case (Some(c), (thr, _, p)) => Some(c.when(q >= thr, p))
    }.get.otherwise(lit(1L))

  /** Per-occurrence negative log2 cost (×F) of scaled probability `q`:
    * 30·F − lg2_fp(q) = (31·F − e·F) − ⌊q·F / 2ᵉ⌋. Zero at q = 2³⁰
    * (p = 1), 30·F at q = 1 (the clamp floor). */
  def nllFp(q: Column): Column =
    lit(31L * F) - eF(q) - ldiv(q * lit(F), pow2(q))

  /** One tokenizer definition for training and scoring: `[a-z0-9]`
    * lower-cased word runs — the DSIR/importance-family class, NOT the
    * à-ÿ-extended one, deliberately: a split on `[^a-zà-ÿ0-9]+` loses
    * the JVM regex ASCII fast path and measured 4× slower over the
    * same corpus (26.6 s vs 6.9 s for the sf1 bigram explode), and the
    * LM gate sits in the hot crawl path. Bigrams are built by zipping
    * two shifted slices — the CollapseProject-safe form
    * ([[Importance.withGramArray]] documents the measured cliff the
    * per-index element_at alternative hits). Emits one row per bigram
    * OCCURRENCE: (id, g, w1). */
  private def bigrams(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val ws = graft.functions.TokenArray.asciiTokens(col(s"`$textCol`"))
    val len = size(ws) - 1
    val gs = zip_with(slice(ws, lit(1), len), slice(ws, lit(2), len),
      (a, b) => concat(a, lit(" "), b))
    df.select(col(s"`$idCol`").as("id"),
        when(size(ws) >= 2, gs).otherwise(array().cast("array<string>"))
          .as("__gs"))
      .select(col("id"), explode(col("__gs")).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
  }

  private def unigrams(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(
      graft.functions.TokenArray.asciiTokens(col(s"`$textCol`"))).as("w"))

  /** The trained model: bigram counts c₂(g), prefix counts c₁(w₁), and
    * the broadcast 1-row (V, guarded envelope) frame. `ref` is the
    * trusted corpus (same text column). */
  final case class Model(c2: DataFrame, c1: DataFrame, v: DataFrame)

  def train(ref: DataFrame, textCol: String,
      maxSafeDen: Long = SafeDenBound): Model = {
    val refG = graft.ops.StagePersists.track(bigrams(ref, textCol, textCol)
      .select("g", "w1"))
    val c2 = refG.groupBy("g").agg(count(lit(1)).as("__c2"))
    val c1 = refG.groupBy("w1").agg(count(lit(1)).as("__c1"))
    // V and the envelope guard ride ONE broadcast row: total reference
    // bigrams + V bounds every per-gram denominator c₁+V, so checking
    // it here (raise_error inside the projection — zero extra jobs)
    // makes the documented envelope loud instead of a silent wrap
    val v = broadcast(
      unigrams(ref, textCol).agg((count_distinct(col("w")) + 1L).as("__v"))
        .crossJoin(refG.agg(coalesce(count(lit(1)), lit(0L)).as("__nb")))
        .select(when(col("__v") + col("__nb") <= maxSafeDen, col("__v"))
          .otherwise(raise_error(concat(
            lit("[graft] LM reference denominator bound "),
            (col("__v") + col("__nb")).cast("string"),
            lit(s" exceeds the Long-exact envelope ($maxSafeDen); " +
              "recompute with DecimalType(38,0) probability columns")))
            .cast("long")).as("__v")))
  Model(c2, c1, v)
  }

  /** Per-document LM score against a trained model: (id, n_grams,
    * nll_fp) — n_grams = bigram occurrences (0 for docs under two
    * tokens), nll_fp = Σ per-occurrence fixed-point NLL (0 for empty).
    * Pure equi-joins + one per-id sum: stream-legal as a stream-static
    * join (the w-plane twin runs exactly this). */
  def score(docs: DataFrame, model: Model, textCol: String,
      idCol: String): DataFrame = {
    val g = bigrams(docs, textCol, idCol)
    val perDoc = g.join(model.c2, Seq("g"), "left_outer")
      .join(model.c1, Seq("w1"), "left_outer")
      .crossJoin(model.v)
      .select(col("id"), nllFp(greatest(
        ldiv((coalesce(col("__c2"), lit(0L)) + 1L) * lit(PScale),
          coalesce(col("__c1"), lit(0L)) + col("__v")),
        lit(1L))).as("__nll"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum("__nll").as("nll_fp"))
    docs.select(col(s"`$idCol`").as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("nll_fp"), lit(0L)).as("nll_fp"))
  }

  /** md5-derived portable hash bucket (the t24 device). */
  private def bucketOf(g: Column, buckets: Int): Column =
    pmod(graft.dedup.Dedup.md5Long(g), lit(buckets.toLong))

  /** HASHED-bucket LM counts — the deployment form (the
    * [[Importance.hashedWeights]] pattern): bigrams hash into `b2`
    * buckets and prefixes into `b1`, so the model is O(b2+b1) rows —
    * broadcast-sized BY CONSTRUCTION — and scoring can run as a pure
    * per-row fold anywhere, including append-mode streams (w14).
    * Smoothing vocabulary for the bucketed event space is `b2`. */
  def hashedCounts(ref: DataFrame, textCol: String, b2: Int,
      b1: Int): (DataFrame, DataFrame) = {
    val refG = graft.ops.StagePersists.track(
      bigrams(ref, textCol, textCol).select("g", "w1"))
    (refG.groupBy(bucketOf(col("g"), b2).as("bucket"))
        .agg(count(lit(1)).as("__c2")),
      refG.groupBy(bucketOf(col("w1"), b1).as("bucket"))
        .agg(count(lit(1)).as("__c1")))
  }

  /** Fold a new dump's hashed counts into stored ones — the d13/d17/s10
    * incremental pattern applied to the LM: bucket counts are ADDITIVE
    * and the smoothing vocabulary is the constant b2, so incremental
    * maintenance of the deployed model is EXACT (spec-pinned:
    * fold(train(old), train(new)) ≡ train(old ∪ new)) — a new crawl
    * dump updates the quality gate by counting only its own grams,
    * never re-scanning the corpus. One union + one bucket-count-sized
    * sum. (The exact-gram [[Model]] is additive in c₂/c₁ too, but its
    * V tracks the distinct vocabulary — incremental V needs the vocab
    * table as state; the hashed form is the one that streams.) */
  def foldHashedCounts(stored: DataFrame, batch: DataFrame,
      cntCol: String): DataFrame =
    stored.unionByName(batch).groupBy("bucket")
      .agg(sum(col(s"`$cntCol`")).as(cntCol))

  // ---- Kneser–Ney (absolute discounting d = 3/4) -----------------------

  /** Hashed KNESER–NEY counts — the estimator KenLM-style CCNet gates
    * actually use (Kneser & Ney 1995; absolute discounting with
    * continuation probabilities), at the hashed-bucket grain of
    * [[hashedCounts]]. Beyond (c2, c1) it needs the TYPE statistics:
    * the distinct (prefix-bucket j, continuation-bucket u) pairs of
    * the reference —
    *   n1(j)  = |{u : (j, u) seen}|  (how many distinct continuations
    *            the prefix has — its smoothing mass),
    *   cont(u) = |{j : (j, u) seen}| (how many distinct prefixes the
    *            word follows — its continuation probability), and
    *   T = |{(j, u)}| (total type count).
    * One distinct over the bigram stream + three bucket-sized
    * aggregates; all outputs O(b1) rows except T (one broadcast row,
    * carrying the [[SafeDenBound]]-style envelope guard: 4·(c2+1)·2³⁰
    * is Long-exact while the bigram total stays below 2³¹).
    * Returns (c2 keyed bucket, c1/n1 keyed bucket, cont keyed bucket,
    * totals(T)). */
  def knHashedCounts(ref: DataFrame, textCol: String, b2: Int,
      b1: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val refG = graft.ops.StagePersists.track(
      bigrams(ref, textCol, textCol)
        .select(bucketOf(col("g"), b2).as("b"),
          bucketOf(col("w1"), b1).as("j"),
          bucketOf(substring_index(col("g"), " ", -1), b1).as("u")))
    val types = graft.ops.StagePersists.track(
      refG.select("j", "u").distinct())
    val c2 = refG.groupBy(col("b").as("bucket")).agg(count(lit(1)).as("__c2"))
    val c1 = refG.groupBy(col("j").as("bucket")).agg(count(lit(1)).as("__c1"))
      .join(types.groupBy(col("j").as("bucket")).agg(count(lit(1)).as("__n1")),
        Seq("bucket"), "left_outer")
      .select(col("bucket"), col("__c1"), coalesce(col("__n1"), lit(0L)).as("__n1"))
    val cont = types.groupBy(col("u").as("bucket")).agg(count(lit(1)).as("__cont"))
    val totals = broadcast(types.agg(count(lit(1)).as("__t"))
      .crossJoin(refG.agg(count(lit(1)).as("__nb")))
      .select(when(col("__t") > 0L && col("__nb") <= 2147483648L, col("__t"))
        .otherwise(raise_error(concat(
          lit("[graft] KN reference out of envelope: types="),
          col("__t").cast("string"), lit(" bigrams="),
          col("__nb").cast("string"),
          lit(" (need types > 0 and bigrams <= 2^31)"))).cast("long"))
        .as("__t")))
    (c2, c1, cont, totals)
  }

  /** Per-document KNESER–NEY score: (id, n_grams, nll_fp). Per gram,
    * with c2/c1/n1/cont/T the (coalesced-to-0) bucket counts:
    *
    *   seen prefix (c1 > 0):
    *     q = clamp(⌊max(4·c2 − 3, 0)·2³⁰ / (4·c1)⌋
    *             + ⌊⌊3·n1·2³⁰ / (4·c1)⌋·cont / T⌋, 1, 2³⁰)
    *   unseen prefix: q = clamp(⌊cont·2³⁰ / T⌋, 1, 2³⁰)
    *
    * — absolute discount d = 3/4 multiplied through by 4 so every term
    * is a Long; the TWO nested floors in the backoff term are the
    * spec (not ⌊the real-valued sum⌋ — floors don't distribute), the
    * deterministic form both engines replay verbatim. Same join shape
    * as [[score]]: bucket equi-joins + one per-id sum, stream-legal as
    * stream-static joins. */
  def knScore(docs: DataFrame, c2: DataFrame, c1: DataFrame,
      cont: DataFrame, totals: DataFrame, b2: Int, b1: Int,
      textCol: String, idCol: String): DataFrame = {
    val g = bigrams(docs, textCol, idCol)
    val kc2 = coalesce(col("__c2"), lit(0L))
    val kc1 = coalesce(col("__c1"), lit(0L))
    val kn1 = coalesce(col("__n1"), lit(0L))
    val kco = coalesce(col("__cont"), lit(0L))
    val t1 = ldiv(greatest(kc2 * 4L - 3L, lit(0L)) * lit(PScale), kc1 * 4L)
    val t2 = ldiv(ldiv(kn1 * 3L * lit(PScale), kc1 * 4L) * kco, col("__t"))
    val q = when(kc1 > 0L,
        least(greatest(t1 + t2, lit(1L)), lit(PScale)))
      .otherwise(
        least(greatest(ldiv(kco * lit(PScale), col("__t")), lit(1L)),
          lit(PScale)))
    val perDoc = g
      .withColumn("bucket", bucketOf(col("g"), b2))
      .join(c2, Seq("bucket"), "left_outer").drop("bucket")
      .withColumn("bucket", bucketOf(col("w1"), b1))
      .join(c1, Seq("bucket"), "left_outer").drop("bucket")
      .withColumn("bucket", bucketOf(substring_index(col("g"), " ", -1), b1))
      .join(cont, Seq("bucket"), "left_outer").drop("bucket")
      .crossJoin(totals)
      .select(col("id"), nllFp(q).as("__nll"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum("__nll").as("nll_fp"))
    docs.select(col(s"`$idCol`").as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("nll_fp"), lit(0L)).as("nll_fp"))
  }

  /** Collect the KN statistics into the dense form
    * [[graft.functions.BigramScore.KneserNey]] holds: (d2, c1, n1,
    * cont, T).
    * Envelope checked here, driver-side and free: max c₂ ≤ 2³¹ − 1
    * keeps the discounted numerator 4·c₂·2³⁰ Long-exact (n1 ≤ c1 and
    * cont ≤ b1 bound the backoff terms by construction). */
  def knDenseCounts(c2: DataFrame, c1: DataFrame, cont: DataFrame,
      totals: DataFrame, b2: Int, b1: Int)
      : (Seq[Long], Seq[Long], Seq[Long], Seq[Long], Long) = {
    def dense(rows: Array[(Long, Long)], n: Int): Seq[Long] = {
      val m = rows.toMap
      (0 until n).map(b => m.getOrElse(b.toLong, 0L))
    }
    // four independent collects off one shared (tracked) gram frame —
    // overlap them (guide §2.6, r14)
    val (d2, c1rows, (dco, t)) = graft.ops.Overlap.par3(
      () => dense(c2.collect().map(r => r.getLong(0) -> r.getLong(1)), b2),
      () => c1.collect(),
      () => (dense(cont.collect().map(r => r.getLong(0) -> r.getLong(1)), b1),
        totals.collect()(0).getLong(0)))
    val dc1 = dense(c1rows.map(r => r.getLong(0) -> r.getLong(1)), b1)
    val dn1 = dense(c1rows.map(r => r.getLong(0) -> r.getLong(2)), b1)
    require(d2.foldLeft(0L)(math.max) <= 2147483647L,
      "[graft] KN bigram bucket count exceeds 2^31: the 4*c2*2^30 " +
        "numerator would leave the Long-exact envelope; retrain with " +
        "more buckets")
    (d2, dc1, dn1, dco, t)
  }

  /** (n_grams, nll_fp) for the KN estimator as PURE COLUMNS — the
    * deployed per-row form ([[graft.functions.BigramScore]] over
    * [[graft.functions.TokenArray.asciiTokens]]; no shuffle, no state,
    * append-mode legal — the w17 gate).
    * KneserNeySpec pins kernel ≡ [[knScore]] per row. */
  def knNllColumns(d2: Seq[Long], c1: Seq[Long], n1: Seq[Long],
      cont: Seq[Long], t: Long, b2: Int, b1: Int,
      textCol: String): (Column, Column) = {
    require(d2.size == b2 && c1.size == b1 && n1.size == b1 &&
      cont.size == b1, s"dense KN sizes (${d2.size}, ${c1.size}, " +
      s"${n1.size}, ${cont.size}) must match ($b2, $b1)")
    val stats = BigramScore(TokenArray.asciiTokens(col(s"`$textCol`")),
      lit(0), new BigramScore.KneserNey(d2, c1, n1, cont, t))
    (element_at(stats, 1), element_at(stats, 2))
  }

  /** Collect hashed counts to the dense array-literal form the per-row
    * fold consumes (element_at on an array ordinal is O(1); a map
    * literal would linear-scan all buckets per gram — the measured t24
    * cliff). The (c₂+1)·2³⁰ envelope is checked here, driver-side and
    * free, with the trained magnitudes in hand. */
  def denseCounts(c2: DataFrame, c1: DataFrame, b2: Int, b1: Int,
      maxSafeDen: Long = SafeDenBound): (Seq[Long], Seq[Long]) = {
    def dense(df: DataFrame, n: Int): Seq[Long] = {
      val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0 until n).map(b => m.getOrElse(b.toLong, 0L))
    }
    // two independent collects off one shared (tracked) bigram frame —
    // overlap them (guide §2.6, r14)
    val (d2, d1) = graft.ops.Overlap.par2(
      () => dense(c2, b2), () => dense(c1, b1))
    val worst = math.max(d2.foldLeft(0L)(math.max) + 1L,
      d1.foldLeft(0L)(math.max) + b2.toLong)
    require(worst <= maxSafeDen,
      s"[graft] hashed LM counts reach $worst, past the Long-exact " +
        s"envelope ($maxSafeDen); retrain with more buckets or " +
        "DecimalType(38,0) probability columns")
    (d2, d1)
  }

  /** (n_grams, nll_fp) as PURE COLUMNS over a text column — no shuffle,
    * no state, stream-legal verbatim (the w13 scoreColumns convention).
    * Fused into the native [[graft.functions.BigramScore]] kernel over
    * [[graft.functions.TokenArray.asciiTokens]]: the Column form
    * ([[nllColumnsReference]]) folds an aggregate HOF with two md5
    * expressions and two 31-branch ladders per gram, all
    * interpreted — measured ~21 s for 50 k docs at sf1 vs ~0.3 s fused
    * (LmScoreSpec pins bit-equality; the w14 oracle pins it
    * cross-engine). */
  def nllColumns(d2: Seq[Long], d1: Seq[Long], b2: Int, b1: Int,
      textCol: String): (Column, Column) = {
    require(d2.size == b2 && d1.size == b1,
      s"dense count sizes (${d2.size}, ${d1.size}) must match ($b2, $b1)")
    val stats = BigramScore(TokenArray.asciiTokens(col(s"`$textCol`")),
      lit(0), new BigramScore.AddOne(d2, d1, b2, b1))
    (element_at(stats, 1), element_at(stats, 2))
  }

  /** The Column reference form of [[nllColumns]] — kept as the
    * spec-pinned specification of the native kernel (LmScoreSpec
    * asserts bit-equality). NOT the production path: every node of the
    * per-gram fold (md5 ×2, ladder CASE ×2, IntegralDivide) evaluates
    * through the interpreted HOF path per occurrence. Hash collisions
    * can push a bucketed probability past 1, so q clamps to [1, 2³⁰]
    * on BOTH ends here (the exact path proves q ≤ 2³⁰ and clamps only
    * below). */
  private[graft] def nllColumnsReference(d2: Seq[Long], d1: Seq[Long],
      b2: Int, b1: Int, textCol: String): (Column, Column) = {
    val ws = filter(split(lower(col(s"`$textCol`")), "[^a-z0-9]+"),
      w => w =!= "")
    val len = size(ws) - 1
    val gs0 = zip_with(slice(ws, lit(1), len), slice(ws, lit(2), len),
      (a, b) => concat(a, lit(" "), b))
    val gs = when(size(ws) >= 2, gs0).otherwise(array().cast("array<string>"))
    def q(g: Column): Column = {
      val cb2 = element_at(typedLit(d2), (bucketOf(g, b2) + 1L).cast("int"))
      val cb1 = element_at(typedLit(d1),
        (bucketOf(substring_index(g, " ", 1), b1) + 1L).cast("int"))
      least(greatest(
        ldiv((cb2 + 1L) * lit(PScale), cb1 + lit(b2.toLong)), lit(1L)),
        lit(PScale))
    }
    (size(gs).cast("long"),
      aggregate(gs, lit(0L), (acc, g) => acc + nllFp(q(g))))
  }

  /** Order key for bucketing: average NLL per gram ×2¹⁰ (integer), with
    * unscorable docs (no bigrams) keyed 2⁶² — they rank WORST (tail),
    * the safe pipeline default for text the model cannot assess. */
  val UnscorableKey: Long = 4611686018427387904L

  def avgKey(nllFp: Column, nGrams: Column): Column =
    when(nGrams > 0L, ldiv(nllFp * lit(1024L), nGrams))
      .otherwise(lit(UnscorableKey))

  /** CCNet head/middle/tail bucketing: rank every document by
    * (avg_nll, id) with the distributed prefix-sum spine and cut into
    * `buckets` thirds via the exact ntile identity
    * bucket = ⌊(rank−1)·k / n⌋ + 1. Returns (id, n_grams, nll_fp,
    * avg_nll_fp, ppl_bucket); bucket 1 = most-fluent (head). */
  def perplexityBuckets(docs: DataFrame, ref: DataFrame, textCol: String,
      idCol: String, buckets: Int = 3): DataFrame = {
    val scored = score(docs, train(ref, textCol), textCol, idCol)
      .withColumn("avg_nll_fp", avgKey(col("nll_fp"), col("n_grams")))
      .withColumn("__ok", struct(col("avg_nll_fp"), col("id")))
      .withColumn("__one", lit(1L))
    val (cum, totals) = graft.ops.Scale.prefixSums(scored, "__ok", Seq("__one"))
    val n = totals("__one")
    cum.select(col("id"), col("n_grams"), col("nll_fp"), col("avg_nll_fp"),
      (ldiv((col("__cum___one") - 1L) * buckets, lit(n)) + 1L)
        .as("ppl_bucket"))
  }
}
