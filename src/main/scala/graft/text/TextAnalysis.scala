package graft.text

import graft.ops.StagePersists
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators for training-data pipelines (north-star
  * mandate): language ID, quality scoring, token counting, document
  * fingerprinting. All pure Column expressions — codegen'd, no UDFs,
  * map-side only (no shuffle unless the caller aggregates).
  */
object TextAnalysis {

  /** Deterministic language marker words (tiny bundled lists — the
    * n-gram-heuristic analogue; real pipelines would plug a model).
    * Marker sets are mutually exclusive high-frequency function words. */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es" -> Seq("el", "los", "las", "es", "una", "para", "con", "del", "por", "como"),
    "it" -> Seq("il", "di", "che", "della", "per", "con", "sono", "una", "anche", "dei"))

  // Native one-pass tokenizer (the measured 4× regex cliff: a split on
  // the à-ÿ-extended class loses the JVM ASCII fast path; tokenization
  // is every text operator's inner loop). Bit-identical to the Column
  // form below — TokenArraySpec pins it; every consumer's oracle pins
  // it cross-engine.
  private def tokens(textCol: Column): Column =
    graft.functions.TokenArray(textCol)

  /** The Column reference form of [[tokens]] (the spec-pinned contract
    * of the native kernel — and the body the reference expressions
    * that must stay fully-Column keep using). */
  private[text] def tokensColumnForm(textCol: Column): Column =
    filter(split(lower(textCol), "[^a-zà-ÿ0-9]+"), w => w =!= "")

  /** Heuristic language ID: the language with the most marker-word
    * hits; 'unknown' when nothing matches. Deterministic tie-break by
    * language code. Fused into the native
    * [[graft.functions.MarkerLangId]] — the Column form paid ~10
    * interpreted split+filter passes per document (one
    * `size(filter(tokens, contains))` per language, evaluated twice
    * under the `when`); the native pass lowercases once and scores
    * every language in one token walk, bit-identical
    * (MarkerLangIdSpec + the t1 oracle pin it). */
  def langId(c: String): Column =
    graft.functions.MarkerLangId(col(s"`$c`"))

  /** Whitespace-ish token count — the fused
    * [[graft.functions.QualityStats]] run-count, bit-identical to
    * `size(filter(split(lower(text), "[^a-zà-ÿ0-9]+"), _ != ""))`
    * (QualityStatsSpec pins the equivalence; the t3 oracle pins it
    * cross-engine) without materializing the token array. */
  def tokenCount(c: String): Column =
    element_at(graft.functions.QualityStats(col(s"`$c`")), 5)

  /** Quality heuristics (reference gestures: length/punct/stopword
    * ratios). Returns [0,1]; higher is better. Components:
    * reasonable length, low punct share, low digit share, words neither
    * too short nor too long. */
  def qualityScore(c: String): Column = {
    // one fused pass ([[graft.functions.QualityStats]]) instead of the
    // regex formulation it is bit-identical to: three
    // length(regexp_replace(...)) passes plus THREE token splits (each
    // filter() lambda minted a fresh exprId, defeating subexpression
    // elimination — 11s for 50k docs at sf1 vs ~0.3s fused)
    val qs = graft.functions.QualityStats(col(s"`$c`"))
    val len = element_at(qs, 1).cast(DoubleType)
    val alpha = element_at(qs, 2).cast(DoubleType)
    val digits = element_at(qs, 3).cast(DoubleType)
    val punct = element_at(qs, 4).cast(DoubleType)
    val nTok = element_at(qs, 5).cast(DoubleType)
    val lenScore = when(len >= 200 && len <= 20000, 1.0)
      .when(len < 200, len / 200.0)
      .otherwise(lit(20000.0) / len)
    val alphaScore = when(len > 0, alpha / len).otherwise(0.0)
    val punctPenalty = when(len > 0, punct / len).otherwise(1.0)
    val digitPenalty = when(len > 0, digits / len).otherwise(1.0)
    val wordLenScore = when(nTok > 0,
      when(alpha / nTok >= 3 && alpha / nTok <= 10, 1.0).otherwise(0.5))
      .otherwise(0.0)
    (lenScore * 0.3 + alphaScore * 0.3 + wordLenScore * 0.2 +
      (lit(1.0) - least(punctPenalty * 5, lit(1.0))) * 0.1 +
      (lit(1.0) - least(digitPenalty * 5, lit(1.0))) * 0.1)
  }

  /** [[qualityScore]] in exact 10⁻⁴ fixed point: floor(q·10⁴ + 0.5) as
    * Long — THE cross-engine determinism contract for every quality SUM
    * (e4/l4/r14/t21 oracles replay it as
    * `CAST(FLOOR(q * 10000 + 0.5) AS BIGINT)`). One definition so a
    * future change to the rounding device cannot miss a call site. */
  def qualityE4(c: String): Column =
    floor(qualityScore(c) * 10000d + 0.5d).cast(LongType)

  /** 60-bit content fingerprint: min of md5-derived hashes over word
    * 4-shingles (a 1-perm MinHash — stable under small edits at the
    * document tail, portable across engines). */
  def fingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sh = graft.dedup.Dedup.wordShingles(df, textCol, idCol, 4)
    sh.groupBy("id")
      .agg(min(graft.dedup.Dedup.md5Long(col("shingle"))).as("fingerprint"))
  }

  /** Top-k TF-IDF keywords per document — the topic-tagging /
    * keyword-extraction primitive (classic tf·idf with a raw N/df
    * inverse frequency, kept as an exact integer ratio of counts so
    * every engine scores bit-identically; the log damping of textbook
    * idf changes ranking only via ties, which the word tiebreak already
    * pins).
    *
    * Scale shape: one explode + two partially-aggregated groupBys
    * (per-doc term counts, vocabulary doc frequencies), a vocabulary-
    * keyed equi-join, a broadcast 1-row corpus count, and a per-doc
    * window (each partition is one document's vocabulary — thousands of
    * small groups, no global sort). */
  def tfidfKeywords(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5): DataFrame = {
    val toks = df.select(col(s"`$idCol`").as("id"),
      explode(tokens(col(s"`$textCol`"))).as("word"))
    // tf feeds BOTH the scoring join and the doc-frequency rollup;
    // without the tracked persist the explode+groupBy executes twice
    // (measured 33s → 6s at sf1). It outlives this call: the session
    // releases it (StagePersists.release, or dropAll between queries).
    val tf = StagePersists.track(
      toks.groupBy("id", "word").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("doc_freq"))
    val n = broadcast(df.agg(count(lit(1)).as("__n")))
    val scored = tf.join(dfreq, "word").crossJoin(n)
      .withColumn("__score", col("tf").cast(DoubleType) *
        col("__n").cast(DoubleType) / col("doc_freq").cast(DoubleType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("__score").desc, col("word"))
    scored.withColumn("kw_rank", row_number().over(w))
      .filter(col("kw_rank") <= k)
      .select(col("id"), col("word"), col("tf"), col("doc_freq"),
        floor(col("__score") * 1000000d + 0.5d).cast(LongType).as("score_e6"),
        col("kw_rank"))
  }

  /** Cross-split distributional familiarity: score every non-train
    * document by how much of its word-bigram vocabulary the TRAIN
    * split has seen — the split-sanity / domain-shift check run after
    * a t16 split (a held-out shard whose bigrams the training corpus
    * barely covers is out-of-distribution or mis-split). Integer-exact
    * by construction (counts and document frequencies, no log-probs),
    * the t15 convention at bigram grain with a train/apply boundary.
    *
    * Output per non-train doc: `n_bigrams` (distinct), `n_seen` (of
    * those, present anywhere in train), `train_mass` (sum of the seen
    * bigrams' train document frequencies), `seen_frac`.
    *
    * Scale shape: per-row distinct bigrams BEFORE the explode (no
    * duplicate shuffle), one partially-aggregated groupBy for the
    * train frequencies, one bigram-keyed equi-join (vocabulary-keyed,
    * not broadcast — train vocabulary is corpus-sized), one per-doc
    * rollup. */
  def crossSplitFamiliarity(df: DataFrame, textCol: String, idCol: String,
      splitCol: String, trainSplit: String = "train"): DataFrame = {
    def bigrams(t: Column): Column = array_distinct(
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b)))
    val toks = df.select(col(s"`$idCol`").as("id"),
      col(s"`$splitCol`").as("split"), tokens(col(s"`$textCol`")).as("__t"))
      .filter(size(col("__t")) >= 2)
    val exploded = toks.select(col("id"), col("split"),
      explode(bigrams(col("__t"))).as("bigram"))
    val trainDf = exploded.filter(col("split") === trainSplit)
      .groupBy("bigram").agg(count(lit(1)).as("__tdf"))
    exploded.filter(col("split") =!= trainSplit)
      .join(trainDf, Seq("bigram"), "left")
      .groupBy("id", "split")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("__tdf").isNotNull, 1L).otherwise(0L)).as("n_seen"),
        sum(coalesce(col("__tdf"), lit(0L))).as("train_mass"))
      .withColumn("seen_frac",
        col("n_seen").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
  }

  /** Out-of-vocabulary tokens: words appearing in fewer than
    * `minDocFreq` documents — the deterministic, network-free stand-in
    * for the reference's spell-check rule (SURVEY.md §2.2 P9; the
    * Wikipedia/pyspellchecker path at rules/evaluation.py:15-99 is
    * replaced by a corpus-derived wordlist per §7.3). One explode +
    * two map-side-combined aggregations; no driver collection. */
  def oovTokens(df: DataFrame, textCol: String, idCol: String,
      minDocFreq: Long): DataFrame =
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("word"))
      .distinct()
      .groupBy("word").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") < minDocFreq)

  /** Typo-conflict pairs (SURVEY.md §2.8 F12; reference:
    * profile_similarity.py:67-74 — Levenshtein between column values):
    * pairs of DISTINCT values within edit distance `maxDist`.
    *
    * The pair space is distinct-values², so it is guarded two ways:
    * `maxDistinct` refuses high-cardinality columns outright (mirroring
    * dBoost's cardinality caps), and the length window (|len(a)−len(b)|
    * ≤ maxDist, a necessary condition for edit distance) is a join KEY,
    * not a theta-filter: each value explodes to bands len..len+maxDist
    * and pairs equi-join on band, colliding exactly once at
    * band = max(la, lb). The plan is a shuffled/broadcast HASH join on
    * the band key — never a nested loop over distinct² — so the
    * quadratic is per-band, and the operator scales with the largest
    * same-length cohort instead of the column cardinality. */
  def typoPairs(df: DataFrame, column: String, maxDist: Int = 2,
      maxDistinct: Long = 10000): DataFrame = {
    // checkpoint: the guard count and both join sides reuse one
    // distinct computation instead of three scans
    val values = StagePersists.checkpoint(
      df.select(col(s"`$column`").cast("string").as("v"))
      .filter(col("v").isNotNull && col("v") =!= "")
      .distinct())
    require(values.count() <= maxDistinct,
      s"$column has more than $maxDistinct distinct values; typo pairing would blow up")
    val banded = values.select(col("v"), length(col("v")).as("len"),
      explode(sequence(length(col("v")), length(col("v")) + maxDist)).as("band"))
    val a = banded.select(col("band"), col("v").as("value_a"), col("len").as("la"))
    val b = banded.select(col("band"), col("v").as("value_b"), col("len").as("lb"))
    a.join(b, Seq("band"))
      // band == max(la, lb) holds for exactly ONE shared band per pair:
      // dedup-by-construction, no distinct() needed
      .filter(col("value_a") < col("value_b") &&
        col("band") === greatest(col("la"), col("lb")))
      .withColumn("distance", levenshtein(col("value_a"), col("value_b")))
      .filter(col("distance") <= maxDist)
      .select("value_a", "value_b", "distance")
  }

  /** Default PII-style redaction patterns: (name, RE2-safe regex,
    * replacement sentinel). Kept to constructs with identical
    * semantics in Java regex and RE2-family engines (no backrefs, no
    * lookaround, ASCII \\d) so redaction is engine-reproducible. */
  val RedactionPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("number", "\\d{6,}", "<NUM>"))

  /** Scrub sensitive spans from a corpus: per document, count each
    * pattern's matches in the ORIGINAL text, then apply the
    * replacements in declaration order. Pure map-side Column
    * expressions (regexp_count + chained regexp_replace) — codegen'd,
    * no shuffle, no UDF; at 100 TB this runs at scan speed. Output:
    * (id, n_<name> per pattern, redacted). */
  def redact(df: DataFrame, textCol: String, idCol: String,
      patterns: Seq[(String, String, String)] = RedactionPatterns): DataFrame = {
    val counts = patterns.map { case (name, re, _) =>
      regexp_count(col(s"`$textCol`"), lit(re)).as(s"n_$name")
    }
    val redacted = patterns.foldLeft(col(s"`$textCol`")) {
      case (c, (_, re, repl)) => regexp_replace(c, re, repl)
    }
    df.select(col(s"`$idCol`").as("id") +: counts :+ redacted.as("redacted"): _*)
  }

  /** Gopher-style repetition metrics per document (quality-filter
    * signals for LLM corpora; Rae et al. 2021 §A1.1 apply these as
    * "repetition" filters): the fraction of token occurrences taken by
    * the single most frequent word (n=1) and bigram (n=2), and the
    * fraction of trigram occurrences that are duplicated (count > 1).
    * Documents with no tokens score 0.0 everywhere.
    *
    * Scale shape: one tokenize, n-gram arrays built map-side from the
    * materialized word array (same pattern as
    * [[graft.dedup.Dedup.wordShingles]]), a single tagged explode
    * (~3 rows per token), then two partially-aggregable shuffles
    * ((id, n, gram) counts → (id, n) totals) and a final per-id
    * pivot-by-conditional — linear in corpus size, no windows, no
    * driver data. */
  def repetitionMetrics(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val ws = col("__ws")
    def grams(n: Int): Column =
      when(size(ws) >= n,
        transform(sequence(lit(0), size(ws) - n),
          i => struct(lit(n).as("n"),
            array_join(slice(ws, i + lit(1), lit(n)), " ").as("g"))))
        .otherwise(array().cast("array<struct<n:int,g:string>>"))
    val tagged = df
      .select(col(s"`$idCol`").as("id"), tokens(col(s"`$textCol`")).as("__ws"))
      .select(col("id"), explode(concat(grams(1), grams(2), grams(3))).as("t"))
      .select(col("id"), col("t.n").as("n"), col("t.g").as("g"))
    val cnt = tagged.groupBy("id", "n", "g").agg(count(lit(1)).as("c"))
    val agg = cnt.groupBy("id", "n").agg(
      sum("c").as("total"), max("c").as("top"),
      coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("dup"))
    val fracs = agg.groupBy("id").agg(
      max(when(col("n") === 1,
        col("top").cast(DoubleType) / col("total").cast(DoubleType)))
        .as("top_word_frac"),
      max(when(col("n") === 2,
        col("top").cast(DoubleType) / col("total").cast(DoubleType)))
        .as("top_bigram_frac"),
      max(when(col("n") === 3,
        col("dup").cast(DoubleType) / col("total").cast(DoubleType)))
        .as("dup_trigram_frac"))
    // left join back so token-less documents keep a row (explode drops
    // them from the gram stream)
    df.select(col(s"`$idCol`").as("id")).join(fracs, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("top_word_frac"), lit(0.0)).as("top_word_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("dup_trigram_frac"), lit(0.0)).as("dup_trigram_frac"))
  }

  /** The [[repetitionMetrics]] `dup_trigram_frac` as ONE stateless
    * per-row Column — the form a running stream can gate on (the
    * grouped formulation shuffles the gram stream; a single document's
    * trigram multiset lives entirely in its own row, so the duplicated
    * fraction is pure array arithmetic: sort the trigrams, count
    * occurrences whose sorted neighbors differ on both sides —
    * singletons — and dup = total − singletons). Bit-identical to the
    * grouped metric per document (StreamingSpec pins it); token-less
    * documents score 0.0, matching [[repetitionMetrics]]. */
  def inlineDupTrigramFrac(c: String): Column =
    graft.functions.RepetitionStats(col(s"`$c`"))

  /** The Column reference form of [[inlineDupTrigramFrac]] — kept as
    * the spec-pinned specification of the native kernel
    * (RepetitionStatsSpec asserts bit-equality). NOT the production
    * path: the root of this expression is referenced three times and
    * every node is a CodegenFallback HOF, so interpreted eval re-runs
    * the whole tokenize→zip→sort→fold chain per reference (measured
    * 15.9 s for 3.8 k docs at sf1 vs ~0.2 s fused). */
  private[graft] def inlineDupTrigramFracReference(c: String): Column = {
    val ws = tokensColumnForm(col(s"`$c`"))
    // trigrams by zipping three SHIFTED SLICES of the token array — an
    // element_at(ws, i+…) lambda would re-embed (and re-run) the whole
    // tokenize chain per trigram index (the Importance.withGramArray
    // lesson; measured 19s for 2k docs at sf0.1 vs sub-second here)
    val len = size(ws) - 2
    val g3 = when(size(ws) >= 3,
      sort_array(zip_with(
        zip_with(slice(ws, lit(1), len), slice(ws, lit(2), len),
          (a, b) => concat(a, lit(" "), b)),
        slice(ws, lit(3), len),
        (ab, cc) => concat(ab, lit(" "), cc))))
      .otherwise(array().cast("array<string>"))
    // run-length fold over the SORTED array: the lambda touches only
    // its accumulator and the element (an outer reference to g3 inside
    // a lambda would re-embed — and re-sort — the whole expression per
    // element, the CollapseProject trap Importance.withGramArray pins)
    val zero = struct(lit(" ").as("prev"), lit(0L).as("run"),
      lit(0L).as("dup"), lit(0L).as("total"))
    val dup = aggregate(g3, zero,
      (acc, x) => struct(x.as("prev"),
        when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L)).as("run"),
        (acc.getField("dup") + when(x === acc.getField("prev"), 0L)
          .otherwise(when(acc.getField("run") > 1L, acc.getField("run"))
            .otherwise(0L))).as("dup"),
        (acc.getField("total") + 1L).as("total")),
      acc => struct(
        (acc.getField("dup") + when(acc.getField("run") > 1L,
          acc.getField("run")).otherwise(0L)).as("dup"),
        acc.getField("total").as("total")))
    when(dup.getField("total") > 0L,
      dup.getField("dup").cast(DoubleType) /
        dup.getField("total").cast(DoubleType)).otherwise(0.0)
  }

  /** Character-trigram familiarity — the deterministic form of the
    * rare-ngram/perplexity quality filter (gibberish and mojibake
    * score low because few other documents contain their trigrams):
    * per document, the mean corpus DOCUMENT-FREQUENCY of its distinct
    * lowercased character trigrams. Unlike an n-gram-LM perplexity
    * (whose per-char log accumulations round engine-specifically),
    * every step here is integer counting up to ONE final long/long
    * division, so the score is bit-identical in any engine.
    *
    * Scale shape: per-row distinct trigrams (array_distinct before the
    * explode — no dedup shuffle), one partially-aggregated doc-frequency
    * groupBy, one equi-join back, one per-doc agg. Documents shorter
    * than 3 chars have no trigrams: n_trigrams 0, familiarity null. */
  def trigramFamiliarity(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // two consumers (doc-frequency agg + the join back): persist so the
    // corpus-sized explode — the dominant stage — runs once. Tracked,
    // so it outlives this call: the session releases it
    // (StagePersists.release, or dropAll between queries).
    // fused native kernel (r13): the per-CHARACTER higher-order
    // transform + substr chain was CodegenFallback — a closure call and
    // a fresh substring per character of every document; CharShingles
    // is the flat loop, pinned bit-identical in CharShinglesSpec (the
    // retained reference form below it).
    val tris = StagePersists.track(df
      .select(col(s"`$idCol`").as("id"), lower(col(s"`$textCol`")).as("__t"))
      .select(col("id"), explode(
        graft.functions.CharShingles(col("__t"), 3)).as("tri")))
    val docFreq = tris.groupBy("tri").agg(count(lit(1)).as("df"))
    val perDoc = tris.join(docFreq, "tri").groupBy("id").agg(
      count(lit(1)).as("n_trigrams"),
      (sum("df").cast(DoubleType) / count(lit(1))).as("familiarity"))
    df.select(col(s"`$idCol`").as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("familiarity"))
  }

  /** The original higher-order Column formulation of the distinct char
    * trigram array — retained as the executable REFERENCE the native
    * kernel is spec-pinned against (never on a hot path). */
  private[graft] def charTrigramsReference(t: Column): Column =
    when(length(t) >= 3,
      array_distinct(transform(sequence(lit(1), length(t) - 2),
        i => substr(t, i, lit(3)))))
      .otherwise(array().cast("array<string>"))
}
