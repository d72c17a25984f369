package graft.text

import graft.functions.BigramScore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PER-SCRIPT hashed bigram language models — the CCNet practice of
  * one LM per language (Wenzek et al. 2020 §4.3) at the granularity
  * the engine can route deterministically: the Unicode-script vote
  * ([[ScriptText.dominantScript]]). The single-model gate
  * ([[LanguageModel]], t28/w14) tokenizes [a-z0-9] and therefore
  * CANNOT SCORE non-ASCII text — a pure-CJK/Cyrillic document yields
  * zero bigrams and either ranks tail or falls to a gate's n>0
  * conjunct. This module closes that gap:
  *
  *  - training routes every reference document to its dominant script
  *    and counts SCRIPT-AWARE bigrams ([[ScriptText.tokens]]: letter
  *    runs over all scripts, CJK chars as single-character tokens)
  *    into per-(script, bucket) hashed counts — the deployment form of
  *    [[LanguageModel.hashedCounts]], O(#scripts·(b2+b1)) rows by
  *    construction;
  *  - scoring routes each document the same way and reads its OWN
  *    script's counts, so a Russian document is judged against Russian
  *    fluency statistics, not English ones;
  *  - documents the router cannot place (`script = 'none'`) or with
  *    zero script bigrams are TAGGED `lm_scorable = false`, never
  *    silently dropped — the explicit policy for the w13-class gates
  *    whose `n_grams > 0` conjunct used to be a silent language
  *    filter.
  *
  * Same fixed-point discipline as [[LanguageModel]] (integer-exact
  * lg2 ladder, Laplace smoothing over the b2-bucket event space, q
  * clamped to [1, 2³⁰] on BOTH ends — hash collisions can push a
  * bucketed probability past 1), so every number is hash-oracle-able.
  *
  * Scale shape (100 TB): training is one partially-aggregated
  * groupBy(script, bucket) over the reference's bigram stream; batch
  * scoring is that stream equi-joined against the O(#scripts·buckets)
  * count tables — linear, broadcastable; the deployed form collects
  * the counts into ONE concatenated dense array (script-offset
  * indexed) and scores per row via the native
  * [[graft.functions.BigramScore]] kernel — no shuffle, no state,
  * append-mode stream legal (the w15 chain). Counts are ADDITIVE per
  * (script, bucket) with a constant smoothing vocabulary, so
  * incremental maintenance is EXACT ([[foldHashedCounts]], the
  * d13/d17/s10 pattern).
  */
object ScriptLm {

  /** The routed scripts, in [[ScriptText.dominantScript]]'s name
    * order; a script's position is its dense-array segment index. */
  val Scripts: Seq[String] = Seq("arabic", "cjk", "cyrillic", "greek", "latin")

  /** Script name → dense segment index; 'none' (and any unknown) → −1,
    * the unscorable route. */
  def scriptIndex(script: Column): Column = keyIndex(script, Scripts)

  /** Routing key → dense segment index over an arbitrary key set (per
    * LANGUAGE: the sorted [[TextAnalysis.markers]] codes); any value
    * outside `keys` → −1, the unscorable route. */
  def keyIndex(route: Column, keys: Seq[String]): Column =
    keys.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (None, (s, i)) => Some(when(route === s, i))
      case (Some(c), (s, i)) => Some(c.when(route === s, i))
    }.get.otherwise(lit(-1)).cast("int")

  /** Script-aware bigram OCCURRENCES with their routing key:
    * (id, script, g, w1). The token array is materialized once per row
    * (the [[LanguageModel]] zip-of-shifted-slices device); the script
    * vote rides the same projection. */
  private def bigrams(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    bigramsBy(df, textCol, idCol,
      ScriptText.dominantScript(col(s"`$textCol`")))

  /** The routing-key-generic form ([[bigrams]] with any deterministic
    * route expression — e.g. [[TextAnalysis.langId]] for one model per
    * LANGUAGE, the full CCNet granularity; the routing key rides the
    * projection under the column name `script` so every downstream
    * stage — counts, scoring, percentile cuts — is shared verbatim). */
  private def bigramsBy(df: DataFrame, textCol: String,
      idCol: String, route: Column): DataFrame = {
    val t = col(s"`$textCol`")
    val ws = ScriptText.tokens(t)
    val len = size(col("__ws")) - 1
    val gs = zip_with(slice(col("__ws"), lit(1), len),
      slice(col("__ws"), lit(2), len), (a, b) => concat(a, lit(" "), b))
    df.select(col(s"`$idCol`").as("id"),
        route.as("script"), ws.as("__ws"))
      .select(col("id"), col("script"),
        when(size(col("__ws")) >= 2, gs)
          .otherwise(array().cast("array<string>")).as("__gs"))
      .select(col("id"), col("script"), explode(col("__gs")).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
  }

  private def bucketOf(g: Column, buckets: Int): Column =
    pmod(graft.dedup.Dedup.md5Long(g), lit(buckets.toLong))

  /** Train per-script hashed counts on a trusted reference corpus:
    * (c2 keyed (script, bucket), c1 keyed (script, bucket)). Reference
    * documents route by their OWN dominant script, so each script's
    * model sees only its population. */
  def hashedCounts(ref: DataFrame, textCol: String, b2: Int,
      b1: Int): (DataFrame, DataFrame) =
    hashedCountsBy(ref, textCol,
      ScriptText.dominantScript(col(s"`$textCol`")), b2, b1)

  /** [[hashedCounts]] with an arbitrary routing expression (per-LANGUAGE
    * models: pass [[TextAnalysis.langId]]). */
  def hashedCountsBy(ref: DataFrame, textCol: String, route: Column,
      b2: Int, b1: Int): (DataFrame, DataFrame) = {
    val refG = graft.ops.StagePersists.track(
      bigramsBy(ref, textCol, textCol, route).select("script", "g", "w1"))
    (refG.groupBy(col("script"), bucketOf(col("g"), b2).as("bucket"))
        .agg(count(lit(1)).as("__c2")),
      refG.groupBy(col("script"), bucketOf(col("w1"), b1).as("bucket"))
        .agg(count(lit(1)).as("__c1")))
  }

  /** Fold a new dump's per-script counts into stored ones — exact
    * incremental maintenance (counts additive per (script, bucket),
    * smoothing vocabulary constant): fold(train(old), train(new)) ≡
    * train(old ∪ new), spec-pinned. */
  def foldHashedCounts(stored: DataFrame, batch: DataFrame,
      cntCol: String): DataFrame =
    stored.unionByName(batch).groupBy("script", "bucket")
      .agg(sum(col(s"`$cntCol`")).as(cntCol))

  /** Batch scoring against per-script counts: (id, script, n_grams,
    * nll_fp, lm_scorable). Unscorable documents (script 'none', or no
    * script bigrams) carry n_grams = 0 / nll_fp = 0 /
    * lm_scorable = false — TAGGED for an explicit downstream policy,
    * not dropped. Pure equi-joins on (script, bucket) + one per-id
    * sum: the [[LanguageModel.score]] shape with the routing key in
    * the join. */
  def score(docs: DataFrame, c2: DataFrame, c1: DataFrame, b2: Int,
      b1: Int, textCol: String, idCol: String): DataFrame =
    scoreBy(docs, c2, c1, b2, b1, textCol, idCol,
      ScriptText.dominantScript(col(s"`$textCol`")), noneKey = "none")

  /** [[score]] with an arbitrary routing expression; `noneKey` is the
    * route value meaning "unroutable" ('none' for the script vote,
    * 'unknown' for [[TextAnalysis.langId]]). */
  def scoreBy(docs: DataFrame, c2: DataFrame, c1: DataFrame, b2: Int,
      b1: Int, textCol: String, idCol: String, route: Column,
      noneKey: String): DataFrame = {
    // unroutable documents (e.g. digits-only text, which still HAS
    // \p{N} bigrams) never enter the score stream: the model defines
    // scores only for routed keys, so their stats are 0/0 + the
    // lm_scorable=false tag (kernel-identical semantics)
    val g = bigramsBy(docs, textCol, idCol, route)
      .filter(col("script") =!= noneKey)
    val q = least(greatest(
      LanguageModel.ldiv(
        (coalesce(col("__c2"), lit(0L)) + 1L) * lit(LanguageModel.PScale),
        coalesce(col("__c1"), lit(0L)) + lit(b2.toLong)),
      lit(1L)), lit(LanguageModel.PScale))
    val perDoc = g
      .withColumn("bucket", bucketOf(col("g"), b2))
      .join(c2, Seq("script", "bucket"), "left_outer")
      .drop("bucket")
      .withColumn("bucket", bucketOf(col("w1"), b1))
      .join(c1, Seq("script", "bucket"), "left_outer")
      .select(col("id"), LanguageModel.nllFp(q).as("__nll"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum("__nll").as("nll_fp"))
    docs.select(col(s"`$idCol`").as("id"), route.as("script"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("script"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("nll_fp"), lit(0L)).as("nll_fp"),
        (col("script") =!= noneKey && coalesce(col("n_grams"), lit(0L)) > 0L)
          .as("lm_scorable"))
  }

  /** Collect per-script counts into ONE concatenated dense array pair
    * (segment s = script index s·b2 … s·b2+b2−1), the deployed form
    * [[graft.functions.BigramScore.AddOne]] holds. Missing (script,
    * bucket) pairs densify to 0 — a script absent from the reference
    * scores against all-zero counts (maximal NLL), the conservative
    * default. Overflow envelope checked driver-side like
    * [[LanguageModel.denseCounts]]. */
  def denseCounts(c2: DataFrame, c1: DataFrame, b2: Int, b1: Int,
      maxSafeDen: Long = LanguageModel.SafeDenBound,
      keys: Seq[String] = Scripts): (Seq[Long], Seq[Long]) = {
    def dense(df: DataFrame, n: Int): Seq[Long] = {
      val m = df.collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      keys.flatMap(s => (0 until n).map(b => m.getOrElse((s, b.toLong), 0L)))
    }
    // the two count collects are independent actions off one shared
    // (tracked) bigram frame — overlap them (guide §2.6, r14)
    val (d2, d1) = graft.ops.Overlap.par2(
      () => dense(c2, b2), () => dense(c1, b1))
    val worst = math.max(d2.foldLeft(0L)(math.max) + 1L,
      d1.foldLeft(0L)(math.max) + b2.toLong)
    require(worst <= maxSafeDen,
      s"[graft] per-script hashed LM counts reach $worst, past the " +
        s"Long-exact envelope ($maxSafeDen); retrain with more buckets")
    (d2, d1)
  }

  /** Per-script percentile CUTS over a scored frame — the trained
    * control plane of the gate. Fluency scales differ per script (CJK
    * char-token bigrams compress very differently from Latin word
    * bigrams) AND shift with reference size, so a fixed global
    * threshold either never bites or deletes a script wholesale; the
    * CCNet-faithful rule is relative: keep each script's most-fluent
    * `keepNum`/`keepDen` fraction. cut(script) = the smallest
    * average-NLL key v with |{docs ≤ v}|·keepDen ≥ n_script·keepNum —
    * exact integer arithmetic, ties inclusive, engine-portable.
    *
    * Scale shape: one partially-aggregated groupBy(script, avg_key)
    * collapses the corpus to its distinct (script, key) VALUES before
    * any window runs; the per-script running sum then orders that
    * count frame — control-plane sized (distinct fixed-point keys, not
    * documents) with ≤ #scripts partitions. Returns (script, cut). */
  def percentileCuts(scored: DataFrame, keepNum: Int = 7,
      keepDen: Int = 10): DataFrame = {
    require(keepNum >= 1 && keepNum <= keepDen,
      s"keep fraction must be in (0, 1]: $keepNum/$keepDen")
    import org.apache.spark.sql.expressions.Window
    val s = scored.filter(col("lm_scorable"))
      .select(col("script"),
        LanguageModel.avgKey(col("nll_fp"), col("n_grams")).as("__avg"))
    val counts = s.groupBy("script", "__avg").agg(count(lit(1)).as("__c"))
    counts
      .withColumn("__cum", sum("__c").over(
        Window.partitionBy("script").orderBy("__avg")))
      .withColumn("__n", sum("__c").over(Window.partitionBy("script")))
      .filter(col("__cum") * keepDen >= col("__n") * keepNum)
      .groupBy("script").agg(min("__avg").as("cut"))
  }

  /** The gate decision under the explicit policy, as a pure Column:
    * scorable documents pass iff their average-NLL key (the
    * [[LanguageModel.avgKey]] integer) is within their OWN script's
    * cut; unscorable documents (script 'none' or zero grams) are
    * KEPT — tagged by `lm_scorable`, for downstream routing, never
    * silently deleted. `cuts` is the collected [[percentileCuts]]
    * table (the deployed literal form); scripts without a cut (absent
    * from the reference) keep everything — the conservative route. */
  def gateKept(script: Column, nGrams: Column, nllFp: Column,
      cuts: Seq[(String, Long)], noneKey: String = "none"): Column = {
    val thr = cuts.foldLeft(Option.empty[Column]) {
      case (None, (s, t)) => Some(when(script === s, t))
      case (Some(c), (s, t)) => Some(c.when(script === s, t))
    }.map(_.otherwise(lit(Long.MaxValue)))
      .getOrElse(lit(Long.MaxValue))
    val scorable = script =!= noneKey && nGrams > 0L
    // conditional, not a bare disjunction: evaluation must never reach
    // the avg-key division with n = 0
    when(!scorable, lit(true))
      .otherwise(LanguageModel.avgKey(nllFp, nGrams) <= thr)
  }

  /** (script, n_grams, nll_fp, lm_scorable) as PURE COLUMNS over a
    * text column — no shuffle, no state, stream-legal (the w15 gate).
    * The script vote and token array are codegen'd builtin regex
    * Columns; the per-gram fold is the native
    * [[graft.functions.BigramScore]] kernel over the concatenated
    * dense counts (the interpreted HOF form pays two md5 expressions
    * and two 31-branch ladders per gram — the measured w14 cliff).
    * ScriptLmSpec pins kernel ≡ the [[score]] join form per row. */
  def nllColumns(d2: Seq[Long], d1: Seq[Long], b2: Int, b1: Int,
      textCol: String): (Column, Column, Column, Column) =
    nllColumnsBy(d2, d1, b2, b1, textCol,
      ScriptText.dominantScript(col(s"`$textCol`")), Scripts, noneKey = "none")

  /** [[nllColumns]] over an arbitrary routing expression and key set —
    * the deployed form of [[scoreBy]] (per-LANGUAGE models: route by
    * [[TextAnalysis.langId]], keys = the sorted marker codes, noneKey
    * 'unknown'). Segment order in the dense arrays must match `keys`
    * ([[denseCounts]] with the same `keys` builds them). */
  def nllColumnsBy(d2: Seq[Long], d1: Seq[Long], b2: Int, b1: Int,
      textCol: String, route: Column, keys: Seq[String],
      noneKey: String): (Column, Column, Column, Column) = {
    require(d2.size == keys.size * b2 && d1.size == keys.size * b1,
      s"dense count sizes (${d2.size}, ${d1.size}) must be " +
        s"(${keys.size}·$b2, ${keys.size}·$b1)")
    val t = col(s"`$textCol`")
    val stats = BigramScore(ScriptText.tokens(t), keyIndex(route, keys),
      new BigramScore.AddOne(d2, d1, b2, b1))
    val n = element_at(stats, 1)
    (route, n, element_at(stats, 2), route =!= noneKey && n > 0L)
  }
}
