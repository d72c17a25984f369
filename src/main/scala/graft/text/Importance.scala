package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via n-gram importance (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * score every raw document by how much its n-grams are
  * over-represented in a TARGET corpus (the high-quality set you want
  * more of) relative to the raw pool, then keep the top slice.
  *
  * INTEGER-EXACT variant: DSIR's per-gram weight is a log-probability
  * ratio; logs are transcendental and their summation order is not
  * portable across engines, so this uses the cross-multiplied linear
  * form of the same signal —
  *   weight(g) = cnt_target(g)·N_raw − cnt_raw(g)·N_target
  * (positive iff g's relative frequency is higher in the target), and
  *   score(doc) = Σ over the doc's gram OCCURRENCES of weight(g).
  * Pure Long arithmetic: bit-identical everywhere, no float summation.
  *
  * Scale shape: one gram explode over each corpus → two
  * map-side-combinable gram-count aggregations (distinct-gram sized) →
  * gram totals as a broadcast 1-row frame → one keyed equi-join of the
  * raw gram stream against the weight table → per-doc sum. Linear in
  * corpus grams; nothing pairwise, nothing on the driver. Overflow
  * bound: a doc's score sums one |weight| ≤ cnt·N per gram
  * OCCURRENCE, so the Long arithmetic is exact while
  * max(cnt·N) · (grams per doc) < 2⁶³ — gram totals up to ~10⁸ per
  * side with 10⁴-gram docs, NOT the 2⁶³ product bound alone; beyond
  * that cast the products and the sum to DecimalType(38,0) — same
  * plan, wider buffers. */
object Importance {

  /** ⌊√(2⁶³)⌋ — the largest per-side gram total for which every
    * cross-multiplied product cnt·N (cnt ≤ N ≤ total) stays inside
    * Long. The per-doc score SUM has a further factor of grams-per-doc
    * (see the class doc); ANSI mode makes that sum throw loudly on
    * overflow, and this guard makes the root cause — totals past the
    * documented envelope — fail with an actionable message instead of
    * an anonymous ARITHMETIC_OVERFLOW deep in a join stage. */
  val SafeTotalBound: Long = 3037000499L

  /** The envelope check as a zero-job Column guard: totals are columns
    * of the broadcast 1-row frame, so the check rides the existing
    * weight projection (no extra aggregation pass — the alternative, a
    * driver-side collect of the totals, would re-run the gram counts). */
  private def guardedTotal(tot: Column, side: String, bound: Long): Column =
    when(tot <= lit(bound), tot).otherwise(raise_error(concat(
      lit(s"[graft] DSIR $side gram total "), tot.cast("string"),
      lit(s" exceeds the Long-exact envelope ($bound); " +
        "recompute with DecimalType(38,0) weight/sum columns"))).cast("long"))

  /** The n-gram array of a text column — ONE tokenizer definition
    * shared by training ([[grams]]), scoring ([[scoreColumns]]), the
    * LM's bigrams and w13's one-pass tables, so they cannot drift.
    * Built by zipping n SHIFTED SLICES of the word
    * array, NOT by per-index element_at into a prior projection:
    * CollapseProject inlines a deterministic projected expression into
    * the consuming lambda, so the element_at form re-ran the
    * split-lower-filter once per gram index × per lambda reference —
    * measured 170s for 2.65M bigrams at sf1 vs 2.8s for this form,
    * whose word array is referenced only n times per ROW. */
  private[graft] def gramArray(text: Column, n: Int): Column = {
    val ws = graft.functions.TokenArray.asciiTokens(text)
    val len = size(ws) - (n - 1)
    val gs = (1 until n).foldLeft(slice(ws, lit(1), len)) { (acc, j) =>
      zip_with(acc, slice(ws, lit(1 + j), len),
        (a, b) => concat(a, lit(" "), b))
    }
    when(size(ws) >= n, gs).otherwise(array().cast("array<string>"))
  }

  private def withGramArray(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    df.select(col(s"`$idCol`").as("id"),
      gramArray(col(s"`$textCol`"), n).as("__gs"))

  private def grams(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    // occurrences WITH multiplicity — DSIR sums over the token stream
    withGramArray(df, textCol, idCol, n)
      .select(col("id"), explode(col("__gs")).as("g"))

  /** (id, n_grams, score) for every raw document (docs with fewer than
    * `n` words report 0/0). `target` is any frame with the same text
    * column — typically a filtered subset of `raw`. */
  def importanceScores(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, n: Int = 2,
      maxSafeTotal: Long = SafeTotalBound): DataFrame = {
    // raw grams feed three consumers (raw counts, totals, per-doc
    // join): persist the corpus-sized explode once (StagePersists
    // release contract applies)
    val rawG = graft.ops.StagePersists.track(grams(raw, textCol, idCol, n))
    val tgtG = graft.ops.StagePersists.track(
      grams(target, textCol, idCol, n).select("g"))
    val cntR = rawG.groupBy("g").agg(count(lit(1)).as("__nr"))
    val cntT = tgtG.groupBy("g").agg(count(lit(1)).as("__nt"))
    val totals = broadcast(
      cntR.agg(coalesce(sum("__nr"), lit(0L)).as("__nr_tot"))
        .crossJoin(cntT.agg(coalesce(sum("__nt"), lit(0L)).as("__nt_tot"))))
    val weights = cntR.join(cntT, Seq("g"), "left_outer")
      .crossJoin(totals)
      .select(col("g"),
        (coalesce(col("__nt"), lit(0L)) *
          guardedTotal(col("__nr_tot"), "raw", maxSafeTotal) -
          col("__nr") *
            guardedTotal(col("__nt_tot"), "target", maxSafeTotal)).as("__w"))
    val perDoc = rawG.join(weights, "g")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum("__w").as("score"))
    raw.select(col(s"`$idCol`").as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** md5-derived gram→bucket hash (the portable
    * [[graft.dedup.Dedup.md5Long]] device, mod `buckets`). */
  private def bucketOf(g: Column, buckets: Int): Column =
    pmod(graft.dedup.Dedup.md5Long(g), lit(buckets.toLong))

  /** HASHED importance weights — the deployment form DSIR actually
    * ships (Xie et al. 2023 §3 hash n-grams into a fixed bucket count
    * precisely so the model is O(buckets), not O(distinct grams)):
    * weight(b) = cnt_target(b)·N_raw − cnt_raw(b)·N_target over md5
    * gram buckets. Returns ≤ `buckets` rows — broadcast-sized BY
    * CONSTRUCTION, so scoring can run anywhere, including per-row on
    * a stream ([[scoreWithWeights]]). */
  def hashedWeights(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, n: Int = 2, buckets: Int = 4096,
      maxSafeTotal: Long = SafeTotalBound): DataFrame = {
    def cnts(df: DataFrame, name: String) =
      grams(df, textCol, idCol, n)
        .groupBy(bucketOf(col("g"), buckets).as("bucket"))
        .agg(count(lit(1)).as(name))
    val cntR = cnts(raw, "__nr")
    val cntT = cnts(target, "__nt")
    val totals = broadcast(
      cntR.agg(coalesce(sum("__nr"), lit(0L)).as("__nr_tot"))
        .crossJoin(cntT.agg(coalesce(sum("__nt"), lit(0L)).as("__nt_tot"))))
    // FULL outer: a bucket occurring only in the TARGET (the standard
    // deployment — target is a curated corpus, not a subset of raw)
    // carries the largest positive weight cnt_t·N_r; dropping it would
    // silently zero exactly the most target-characteristic grams when
    // scoring novel/stream documents
    cntR.join(cntT, Seq("bucket"), "full_outer")
      .crossJoin(totals)
      .select(col("bucket"),
        (coalesce(col("__nt"), lit(0L)) *
          guardedTotal(col("__nr_tot"), "raw", maxSafeTotal) -
          coalesce(col("__nr"), lit(0L)) *
            guardedTotal(col("__nt_tot"), "target", maxSafeTotal)).as("weight"))
  }

  /** Score documents against a trained [[hashedWeights]] table as a
    * PURE per-row map: the ≤`buckets`-row weight table is collected to
    * a map literal (the s7 collected-centroid convention — control
    * plane, bounded by construction), and each document's score is an
    * in-row fold over its gram buckets. No shuffle, no state — legal
    * in streaming append mode verbatim (StreamingSpec pins stream ≡
    * batch). Same Long-overflow envelope as [[importanceScores]]. */
  /** Collect a [[hashedWeights]] table to the dense driver-side form
    * [[scoreColumns]] consumes, with the sum-envelope guard applied at
    * collect time: the per-doc fold sums one weight per gram
    * OCCURRENCE, exact while max|weight| · grams-per-doc < 2⁶³ — the
    * weights are on the driver anyway, so the check is free, and fails
    * HERE with the trained magnitudes in hand rather than mid-stream as
    * an anonymous ANSI ARITHMETIC_OVERFLOW on some unlucky document. */
  def denseWeights(weights: DataFrame, buckets: Int,
      maxDocGrams: Long = 1L << 20): Seq[Long] = {
    val wmap: Map[Long, Long] = weights.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // DENSE array literal indexed by bucket: element_at on a map
    // literal is a LINEAR scan of all `buckets` entries per gram
    // (ArrayBasedMapData has no hash index) — O(docs × grams × buckets),
    // measured 224s at sf1 — while an array ordinal access is O(1).
    // 4096 longs ≈ 32 KB of plan literal: still control-plane sized.
    checkedSum((0 until buckets).map(b => wmap.getOrElse(b.toLong, 0L)),
      maxDocGrams)
  }

  private def checkedSum(dense: Seq[Long], maxDocGrams: Long): Seq[Long] = {
    val maxAbsW = dense.foldLeft(0L)((m, w) => math.max(m, math.abs(w)))
    require(maxAbsW <= Long.MaxValue / math.max(maxDocGrams, 1L),
      s"[graft] DSIR hashed weights reach |w|=$maxAbsW; documents with up " +
        s"to $maxDocGrams grams could overflow the Long score sum — " +
        "retrain with smaller corpora totals or DecimalType(38,0) scoring")
    dense
  }

  /** The dense weights [[hashedWeights]] + [[denseWeights]] train, from
    * dense per-bucket raw and target gram counts already on the driver
    * — with both of their guards: each side's total inside
    * `maxSafeTotal`, every |weight| inside the `maxDocGrams` sum
    * envelope. */
  private[graft] def weightsOf(raw: Seq[Long], tgt: Seq[Long],
      maxSafeTotal: Long = SafeTotalBound,
      maxDocGrams: Long = 1L << 20): Seq[Long] = {
    require(raw.size == tgt.size,
      s"bucket counts differ in size: ${raw.size} vs ${tgt.size}")
    val (nr, nt) = (raw.sum, tgt.sum)
    Seq("raw" -> nr, "target" -> nt).foreach { case (side, tot) =>
      require(tot <= maxSafeTotal, s"[graft] DSIR $side gram total $tot " +
        s"exceeds the Long-exact envelope ($maxSafeTotal); recompute " +
        "with DecimalType(38,0) weight/sum columns")
    }
    checkedSum(raw.indices.map(b => tgt(b) * nr - raw(b) * nt),
      maxDocGrams)
  }

  /** (n_grams, score) as PURE COLUMNS over a text column — the form a
    * composed stream chains into a wider projection (w13 gates on the
    * score without losing its other columns). */
  def scoreColumns(dense: Seq[Long], textCol: String, n: Int,
      buckets: Int): (Column, Column) = {
    val gs = gramArray(col(s"`$textCol`"), n)
    (size(gs).cast("long"),
      aggregate(gs, lit(0L), (acc, g) =>
        acc + element_at(typedLit(dense),
          (bucketOf(g, buckets) + lit(1L)).cast("int"))))
  }

  def scoreWithWeights(docs: DataFrame, weights: DataFrame, textCol: String,
      idCol: String, n: Int = 2, buckets: Int = 4096,
      maxDocGrams: Long = 1L << 20): DataFrame = {
    val dense = denseWeights(weights, buckets, maxDocGrams)
    val (nGrams, score) = scoreColumns(dense, textCol, n, buckets)
    docs.select(col(s"`$idCol`").as("id"),
      nGrams.as("n_grams"), score.as("score"))
  }
}
