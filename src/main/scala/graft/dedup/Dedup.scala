package graft.dedup

import graft.ops.StagePersists
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Document deduplication operators for large-scale training-data
  * pipelines (north-star mandate; the reference only gestures at
  * similarity — profile_similarity.py:67-74, method_2/pipleline_2.py:64-75).
  *
  * Scale design:
  *  - Exact dedup groups by a 64-bit content hash, never by the full
  *    text (the shuffle carries 8-byte keys + ids).
  *  - MinHash/LSH: per-doc band buckets from the per-row
  *    [[graft.functions.LshBands]] kernel (no shuffle); buckets then
  *    self-join equi on (band, bucket), which Spark executes as a
  *    shuffled hash join on small keys. No cartesian product anywhere.
  *  - N-gram Jaccard verifies candidate pairs only (inverted-index
  *    join), with a document-frequency cap dropping stop-shingles that
  *    would quadratically blow up candidate generation.
  *
  * Portability: hashes derive from md5 (bit-identical in every engine)
  * rather than engine-private hash functions, so every operator here is
  * DuckDB-oracle-checkable. At production scale xxhash64 would be ~3×
  * faster; the structure is identical.
  */
object Dedup {

  /** First 15 md5 hex chars as a positive 60-bit integer — portable
    * across Spark/DuckDB (both have md5 and base-16 conv). */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  // ---- exact duplicates -------------------------------------------------

  /** Groups of byte-identical documents: (content_hash, n_docs,
    * canonical_id = smallest doc id). Only groups with >1 member. */
  def exactDuplicateGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))
      .filter(col("n_docs") > 1)

  /** The deduplicated corpus: one row per distinct content, keeping the
    * smallest id (deterministic survivor).
    *
    * CONTRACT (ADVICE r13): callers must not pass null-text rows. The
    * r13 groupBy form RETAINS one row per null key, where the previous
    * join-on-md5 form (and the DuckDB mirrors' `JOIN … ON t.text =
    * w.text`) dropped all null-text rows — a latent cross-engine
    * divergence if a dataset ever carries null text. Every current
    * caller feeds synthesized/derived text (never null); a caller with
    * nullable text must `filter(col(textCol).isNotNull)` first.
    *
    * ONE exchange (r13 optimization): group by content hash and take
    * the min-id ROW as a struct min — ids are unique by contract and
    * lead the struct, so the struct min IS the min-id row. Partial
    * aggregation collapses duplicates map-side, so the shuffle carries
    * ~one row per distinct text per map partition; the previous
    * groupBy + self-join shape shuffled the corpus twice (hash agg +
    * join) and executed the upstream once per join side. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val packed = struct(col(s"`$idCol`") +:
      df.columns.filter(_ != idCol).map(c => col(s"`$c`")).toSeq: _*)
    df.groupBy(md5(col(s"`$textCol`")).as("__h"))
      .agg(min(packed).as("__r"))
      .select(df.columns.map(c => col(s"__r.`$c`").as(c)).toSeq: _*)
  }

  // ---- shingling --------------------------------------------------------

  /** Opt-in tripwire for the [[wordShingles]] one-row-per-id contract:
    * with `-Dgraft.debug.uniqueIds=true` every shingling pass verifies
    * id uniqueness lazily (an id-partitioned window count + raise_error
    * — ONE extra shuffle per call, debug-mode price) and fails LOUDLY
    * on the first duplicate instead of silently inflating overlap
    * counts downstream (the exact failure mode the sf10 rehearsal hit:
    * colliding doc_ids → 2× `common` → ANSI divide-by-zero in d7). */
  private[graft] def debugUniqueIds: Boolean =
    sys.props.get("graft.debug.uniqueIds").contains("true")

  /** (id, shingle) pairs: lowercased word `n`-grams, distinct per doc.
    * The word array is materialized ONCE per row before the transform —
    * referencing the split expression inside the lambda would re-split
    * the text per shingle index (O(len²); measured 60 s vs 4 s on 5 k
    * docs). The per-document distinct happens INSIDE the row
    * (array_distinct before the explode): identical output to a
    * post-explode `.distinct()` — the id is part of that key, so
    * distinct-per-doc IS global distinct — with no shuffle of the gram
    * stream at all, and it makes the operator stateless on streams.
    * CONTRACT: callers pass one row per id — with duplicate id rows the
    * per-row distinct is no longer global and the failure mode is
    * SILENT count inflation downstream (e.g. n_overlap in
    * Decontamination.contaminatedDocs). A runtime uniqueness check
    * would cost a full groupBy job per call, so the contract stays
    * documentation; callers that cannot guarantee uniqueness must
    * `dropDuplicates(idCol)` first. */
  def wordShingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), words(col(textCol)).as("__ws"))
    val checked =
      if (!debugUniqueIds) keyed
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
        keyed.withColumn("__idn", count(lit(1)).over(w))
          .withColumn("id", when(col("__idn") === 1L, col("id"))
            .otherwise(raise_error(concat(
              lit("[graft] wordShingles: duplicate id "),
              col("id").cast("string"),
              lit(" violates the one-row-per-id contract; " +
                "dropDuplicates(idCol) first")))))
          .drop("__idn")
      }
    // fused native kernel (r13 optimization): the higher-order
    // transform/slice/array_join/array_distinct chain is CodegenFallback
    // — interpreted, a closure per gram — on the hot scan of every
    // shingling consumer; [[graft.functions.WordShingles]] is the flat
    // loop, pinned bit-identical to the Column formulation below in
    // WordShinglesSpec.
    checked.select(col("id"),
      explode(graft.functions.WordShingles(col("__ws"), n)).as("shingle"))
  }

  /** The original higher-order Column formulation of the distinct-gram
    * array — retained as the executable REFERENCE the native kernel is
    * spec-pinned against (never on a hot path). */
  private[graft] def wordShinglesReference(ws: Column, n: Int): Column = {
    val grams = when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    array_distinct(filter(grams, g => length(g) > 0))
  }

  private[dedup] def words(textCol: Column): Column =
    graft.functions.TokenArray.asciiTokens(textCol)

  // ---- n-gram Jaccard near-duplicates ----------------------------------

  /** Shared inverted-index pair machinery for [[jaccardPairs]] and
    * [[containmentPairs]]: (ida, idb, common, sza, szb) for every pair
    * sharing a sub-`maxDocFreq` shingle, ida < idb, sizes ≥ 1 by
    * construction. Four consumers (sizes, df filter, both join sides)
    * share the shingle distinct's exchange via ReusedExchange — an
    * explicit persist was measured SLOWER (cache write-through on a
    * frame the reused shuffle already serves). */
  private def pairCommonCounts(shingles: DataFrame,
      maxDocFreq: Long): DataFrame = {
    val sizes = shingles.groupBy("id").agg(count(lit(1)).as("sz"))
    val filtered = shingles.join(
      shingles.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDocFreq).select("shingle"),
      Seq("shingle"))
    val a = filtered.select(col("id").as("ida"), col("shingle"))
    val b = filtered.select(col("id").as("idb"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("id", "ida").withColumnRenamed("sz", "sza"), "ida")
      .join(sizes.withColumnRenamed("id", "idb").withColumnRenamed("sz", "szb"), "idb")
  }

  /** Near-duplicate pairs by shingle-set Jaccard ≥ `threshold`.
    * Inverted-index self-join on shingles; shingles occurring in more
    * than `maxDocFreq` docs are dropped (stop-shingles) to bound the
    * candidate blowup — the standard trick for quadratic-safe similarity
    * joins at scale. Pairs are emitted once (idA < idB). */
  def jaccardPairs(shingles: DataFrame, threshold: Double,
      maxDocFreq: Long = 1000): DataFrame =
    pairCommonCounts(shingles, maxDocFreq)
      .withColumn("jaccard",
        col("common").cast(DoubleType) /
          (col("sza") + col("szb") - col("common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("ida", "idb", "common", "jaccard")

  /** Asymmetric CONTAINMENT pairs (Broder 1997's second resemblance
    * measure): c(A→B) = |S(A) ∩ S(B)| / |S(A)| over shingle sets —
    * "how much of A is inside B". Catches what Jaccard structurally
    * misses: a short excerpt, quote, or syndicated fragment inside a
    * long page scores containment ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0.
    * Emits pairs once (idA < idB) with BOTH directions' scores when
    * either clears `threshold`.
    *
    * Same inverted-index + stop-shingle machinery as [[jaccardPairs]]
    * (linear, never all-pairs); sizes come from the shingle frame, so
    * both denominators are ≥ 1 by construction — no ANSI
    * divide-by-zero surface. */
  def containmentPairs(shingles: DataFrame, threshold: Double,
      maxDocFreq: Long = 1000): DataFrame = {
    pairCommonCounts(shingles, maxDocFreq)
      .withColumn("containment_ab",
        col("common").cast(DoubleType) / col("sza").cast(DoubleType))
      .withColumn("containment_ba",
        col("common").cast(DoubleType) / col("szb").cast(DoubleType))
      .filter(col("containment_ab") >= threshold ||
        col("containment_ba") >= threshold)
      .select("ida", "idb", "common", "containment_ab", "containment_ba")
  }

  /** IDF-weighted near-duplicate pairs — the boilerplate-robust form of
    * [[jaccardPairs]]: every shingle carries an integer inverse-
    * document-frequency weight ⌊10⁶ / df⌋, so two documents sharing a
    * site-wide footer (df huge, weight ≈ 0) no longer look similar,
    * while sharing RARE content still does. Weighted Jaccard =
    * Σ_{A∩B} w / (Σ_A w + Σ_B w − Σ_{A∩B} w).
    *
    * The weights are integers, so every aggregate is an exact Long sum
    * (order-independent, engine-portable — a 1/df double sum would
    * drift by accumulation order); only the final ratio divides.
    *
    * Same scale shape as the unweighted form: inverted-index self-join
    * with a stop-shingle cap, per-doc weight rollups joined back by
    * id. */
  def weightedJaccardPairs(shingles: DataFrame, threshold: Double,
      maxDocFreq: Long = 1000): DataFrame = {
    val df_ = shingles.groupBy("shingle").agg(count(lit(1)).as("df"))
    val weighted = shingles.join(df_, Seq("shingle"))
      .withColumn("w", floor(lit(1000000L) / col("df")).cast("long"))
    val masses = weighted.groupBy("id").agg(sum("w").as("mass"))
    val filtered = weighted.filter(col("df") <= maxDocFreq)
      .select("id", "shingle", "w")
    val a = filtered.select(col("id").as("ida"), col("shingle"), col("w"))
    val b = filtered.select(col("id").as("idb"), col("shingle"))
    val shared = a.join(b, Seq("shingle"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(sum("w").as("shared_w"))
    shared
      .join(masses.withColumnRenamed("id", "ida").withColumnRenamed("mass", "massa"), "ida")
      .join(masses.withColumnRenamed("id", "idb").withColumnRenamed("mass", "massb"), "idb")
      .withColumn("wjaccard",
        col("shared_w").cast(DoubleType) /
          (col("massa") + col("massb") - col("shared_w")).cast(DoubleType))
      .filter(col("wjaccard") >= threshold)
      .select("ida", "idb", "shared_w", "wjaccard")
  }

  // ---- MinHash / LSH ----------------------------------------------------

  /** Mersenne prime 2^61-1 keeps (a*x+b) mod p exact within Long...
    * too big for portable SQL: use a 31-bit prime so a*x fits in 63
    * bits with x < 2^31 (shingle hashes are truncated to 30 bits). */
  val P: Long = 2147483647L // 2^31 - 1

  /** The (a, b) coefficients of MinHash permutations 1 … k, each
    * h ↦ (a·h + b) mod [[P]]: the one definition [[minhashSignatures]],
    * the [[graft.functions.LshBands]] kernel and the SQL mirrors read.
    * Permutation i is the same at every width k. */
  def perm(k: Int): IndexedSeq[(Long, Long)] =
    (1 to k).map(i => ((2 * i + 1).toLong, (7919L * i) % P))

  /** MinHash signature rows (id, perm_id, min_hash) over `numPerms`
    * permutations of 30-bit md5 shingle hashes — d3's output, and the
    * reference the kernel's band buckets are pinned against.
    *
    * All `numPerms` mins run as ONE wide groupBy(id) aggregation —
    * map-side partial mins shrink the shuffle to #docs rows of k
    * longs. (The explode-then-group formulation shuffles
    * #shingles × k rows: measured ~3× slower at k=16.) The long
    * (id, perm_id, min_hash) layout is exploded AFTER aggregation.
    * The 30-bit gram hash is projected once below the aggregate, not
    * once per permutation inside each min(). */
  def minhashSignatures(shingles: DataFrame, numPerms: Int): DataFrame = {
    val aggs = perm(numPerms).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("__x") + lit(b), lit(P))).as(s"__h$i")
    }
    val rows = (0 until numPerms).map(i =>
      struct(lit(i).as("perm_id"), col(s"__h$i").as("min_hash")))
    shingles.select(col("id"),
        pmod(md5Long(col("shingle")), lit(1073741824L)).as("__x"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), explode(array(rows: _*)).as("ph"))
      .select(col("id"), col("ph.perm_id").as("perm_id"),
        col("ph.min_hash").as("min_hash"))
  }

  /** LSH band buckets from signature rows: signatures split into bands
    * of `rowsPerBand`; band key = md5 of the concatenated minhashes.
    * The reference DedupSpec pins [[inlineLshBuckets]] against. */
  def lshBuckets(signatures: DataFrame, rowsPerBand: Int): DataFrame =
    signatures
      .withColumn("band", (col("perm_id") / rowsPerBand).cast("int"))
      .groupBy("id", "band")
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("perm_id"), col("min_hash")))),
          x => x.getField("min_hash").cast("string")),
        ",")).as("bucket"))

  /** (id, band, bucket) rows of every document, from the fused native
    * [[graft.functions.LshBands]] kernel: a stateless per-row map with
    * no exchange, so it is legal on an append-mode stream (w9) and
    * shuffle-free in batch. Byte-identical to [[lshBuckets]] over
    * [[minhashSignatures]] (DedupSpec pins it). Docs with fewer than
    * `shingleSize` words emit no rows. */
  def inlineLshBuckets(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, numPerms: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(lshBandArray(col(textCol), shingleSize, numPerms,
          rowsPerBand)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** The per-row band/bucket ARRAY form of [[inlineLshBuckets]] (no
    * explode): array<struct<band:int,bucket:string>> per document —
    * what a composed stream needs to probe its bands against a static
    * corpus-bucket table via per-band join keys instead of an
    * explode-and-reaggregate (which would force an append-illegal
    * aggregation mid-stream). Fewer-than-`shingleSize`-word docs yield
    * an EMPTY array — band-probing consumers must index it with
    * `try_element_at` (or guard on `size`): a bare `element_at(bb, k)`
    * throws under ANSI mode the moment a short document arrives. */
  def lshBandArray(textCol: Column, shingleSize: Int, numPerms: Int,
      rowsPerBand: Int): Column =
    graft.functions.LshBands(words(textCol), shingleSize, numPerms, rowsPerBand)

  /** Candidate near-duplicate pairs: ids sharing any LSH bucket. */
  def lshCandidates(buckets: DataFrame): DataFrame = {
    val a = buckets.select(col("band"), col("bucket"), col("id").as("ida"))
    val b = buckets.select(col("band"), col("bucket"), col("id").as("idb"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
  }

  /** [[lshCandidates]] over the kernel's buckets of `df`. The bucket
    * frame is self-joined, so it is checkpointed once rather than
    * derived once per join side. */
  def inlineLshCandidates(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, numPerms: Int, rowsPerBand: Int): DataFrame =
    lshCandidates(StagePersists.checkpoint(inlineLshBuckets(df, textCol,
      idCol, shingleSize, numPerms, rowsPerBand)))

  /** Candidate-first Jaccard verify: (ida, idb, jaccard) for every
    * candidate pair (ida, idb) whose shingle sets — ida's in `aSh`,
    * idb's in `bSh`, both (id, shingle) — reach `threshold`. Each
    * candidate is expanded by its left doc's shingles, then the right
    * side is equi-joined: O(|candidates| × shingles/doc), never
    * all-pairs. jaccard = common / (sza + szb − common), one double
    * division. A self-verify (`bSh eq aSh`) renames the one size
    * aggregation instead of re-aggregating it. */
  def verifiedPairs(cands: DataFrame, aSh: DataFrame, bSh: DataFrame,
      threshold: Double): DataFrame = {
    val szA = aSh.groupBy("id").agg(count(lit(1)).as("sza"))
    val szB = if (bSh eq aSh) szA.withColumnRenamed("sza", "szb")
      else bSh.groupBy("id").agg(count(lit(1)).as("szb"))
    cands
      .join(aSh.select(col("id").as("ida"), col("shingle")), Seq("ida"))
      .join(bSh.select(col("id").as("idb"), col("shingle")),
        Seq("idb", "shingle"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("common"))
      .join(szA.withColumnRenamed("id", "ida"), "ida")
      .join(szB.withColumnRenamed("id", "idb"), "idb")
      .withColumn("jaccard",
        col("common").cast(DoubleType) /
          (col("sza") + col("szb") - col("common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")
  }

  /** End-to-end MinHash near-dup pairs (ida < idb, jaccard): LSH
    * candidates verified by true shingle Jaccard ≥ threshold. */
  def minhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // the shingle table feeds the sizes and both verify-join sides
    val sh = StagePersists.track(
      wordShingles(df, textCol, idCol, shingleSize))
    verifiedPairs(inlineLshCandidates(df, textCol, idCol, shingleSize,
      numPerms, rowsPerBand), sh, sh, threshold)
  }

  /** The LSH candidate pairs of a PREBUILT (id, shingle) frame: each
    * doc's shingles are collected and banded by the kernel as 1-grams,
    * which hashes every shingle exactly as the k-gram pass does. */
  def lshCandidatesFromShingles(sh: DataFrame, numPerms: Int,
      rowsPerBand: Int): DataFrame =
    lshCandidates(StagePersists.checkpoint(
      sh.groupBy("id").agg(collect_list(col("shingle")).as("__sh"))
        .select(col("id"), explode(graft.functions.LshBands(col("__sh"), 1,
          numPerms, rowsPerBand)).as("bb"))
        .select(col("id"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))))

  /** [[minhashNearDuplicates]] over a PREBUILT (id, shingle) frame. */
  def minhashPairsFromShingles(sh: DataFrame, numPerms: Int,
      rowsPerBand: Int, threshold: Double): DataFrame =
    verifiedPairs(lshCandidatesFromShingles(sh, numPerms, rowsPerBand),
      sh, sh, threshold)

  // ---- incremental (cross-corpus) dedup ---------------------------------

  /** Near-duplicate matches of a NEW batch against an EXISTING corpus:
    * (batch_id, corpus_id, jaccard) for every batch doc whose true
    * shingle Jaccard against some corpus doc reaches `threshold`,
    * candidates pre-filtered by shared MinHash-LSH band buckets exactly
    * as [[minhashNearDuplicates]] — but joined ACROSS the two frames,
    * never self-joined. This is the "dedup the new dump against what we
    * already have" step of an incremental training-data pipeline
    * (reference's single-shot pandas pipeline has no incremental story;
    * cf. main.py's one-corpus runs): at 100 TB the corpus shingles and
    * buckets are corpus-side tables maintained across dumps, and the
    * per-dump cost is the (band, bucket) equi-join probe plus the
    * candidate verify — linear in the dump and its candidates, never in
    * corpus × dump. */
  def crossCorpusNearDuplicates(corpus: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, shingleSize: Int = 3,
      numPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // each shingle frame feeds two consumers (its sizes and its
    // verify-join side): persist so the split+explode runs once per side
    val cs = StagePersists.track(
      wordShingles(corpus, textCol, idCol, shingleSize))
    val bs = StagePersists.track(
      wordShingles(batch, textCol, idCol, shingleSize))
    def buckets(df: DataFrame, id: String) =
      inlineLshBuckets(df, textCol, idCol, shingleSize, numPerms, rowsPerBand)
        .select(col("band"), col("bucket"), col("id").as(id))
    val cands = buckets(batch, "ida").join(buckets(corpus, "idb"),
        Seq("band", "bucket"))
      .select("ida", "idb").distinct()
    verifiedPairs(cands, bs, cs, threshold)
      .select(col("ida").as("batch_id"), col("idb").as("corpus_id"),
        col("jaccard"))
  }

  // ---- duplicate passages -----------------------------------------------

  /** Duplicate-passage statistics (the exact-substring-dedup signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", approximated at k-token window grain): per doc,
    * how many of its k-token windows occur in MORE than one document
    * corpus-wide, and the duplicated fraction. Docs with fewer than k
    * tokens have zero windows and score 0.0.
    *
    * Scale shape: shingle explode → window doc-frequency (one
    * partially-aggregable shuffle on the window text) → inverted-index
    * join back to per-doc counts — the d2 inverted-index pattern with
    * a frequency aggregate instead of a pair join, so it stays linear
    * where a pairwise formulation would go quadratic on boilerplate. */
  def passageDupStats(df: DataFrame, textCol: String, idCol: String,
      k: Int = 10): DataFrame = {
    val sh = wordShingles(df, textCol, idCol, k) // distinct per doc
    val docFreq = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val perDoc = sh.join(docFreq, "shingle")
      .groupBy("id").agg(
        count(lit(1)).as("n_windows"),
        coalesce(sum(when(col("__df") > 1, 1L)), lit(0L)).as("n_shared"))
    df.select(col(s"`$idCol`").as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_windows").isNull || col("n_windows") === 0, lit(0.0))
          .otherwise(col("n_shared").cast("double") /
            col("n_windows").cast("double")).as("dup_frac"))
  }

  /** Corpus-frequent shingles — the boilerplate phrase TABLE (the
    * grams [[passageDupStats]] only counts per document): every
    * k-word shingle whose document frequency reaches `minDf`, with
    * its exact df. The input to site-template stripping and
    * stop-shingle curation at crawl scale.
    *
    * Two-pass bucket-pruned heavy hitters, so the distinct-gram space
    * NEVER shuffles: pass 1 counts md5 buckets of the shingle stream —
    * a `buckets`-bounded, map-side-combinable aggregation — and keeps
    * buckets whose count clears `minDf` (a gram with df ≥ minDf
    * necessarily lives in one: its bucket's count is a sum over the
    * gram's own df); pass 2 exact-counts ONLY shingles in surviving
    * buckets (the candidate bucket ids are a ≤`buckets`-row
    * control-plane frame, broadcast, so the filter is map-side) and
    * the final df ≥ minDf check removes bucket-collision passengers.
    * Output is exact — the bucket pass is a superset guarantee, not an
    * approximation (FrequentShinglesSpec pins ≡ the naive
    * groupBy-HAVING even at buckets = 4). */
  def frequentShingles(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDf: Long, buckets: Int = 1 << 16): DataFrame = {
    val sh = StagePersists.track(
      wordShingles(df, textCol, idCol, k).select("shingle"))
    val b = pmod(md5Long(col("shingle")), lit(buckets.toLong))
    val cand = sh.groupBy(b.as("__b")).agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") >= minDf).select("__b")
    sh.join(broadcast(cand), b === col("__b"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
  }

  /** The original higher-order Column formulation of the positioned
    * window-gram array — retained as the executable REFERENCE the
    * [[graft.functions.PosShingles]] kernel is spec-pinned against. */
  private[graft] def posShinglesReference(ws: Column, k: Int): Column =
    when(size(ws) >= k,
      transform(sequence(lit(0), size(ws) - k),
        i => struct(i.as("pos"),
          array_join(slice(ws, i + lit(1), lit(k)), " ").as("g"))))
      .otherwise(array().cast("array<struct<pos:int,g:string>>"))

  /** Exact-substring dedup REWRITE (Lee et al. 2022 §4 at k-token
    * window grain): every k-token window whose text already occurred
    * at an earlier global position — (doc, pos) lexicographic, first
    * occurrence wins, corpus-wide including within one document —
    * marks its k token positions for removal, and each document is
    * reassembled from its surviving tokens. Where [[passageDupStats]]
    * only reports the duplication signal, this emits the cleaned
    * corpus: id, n_tokens, n_removed (distinct covered positions),
    * clean_text (surviving tokens joined by single spaces — the
    * engine's canonical token stream, not the raw byte text).
    *
    * Scale shape: window explode → one min-aggregation on the window
    * text (map-side-combinable min of an (id, pos) struct) →
    * inverted-index join back (duplicate occurrences only — never a
    * pair join, so corpus-wide boilerplate costs one row per
    * occurrence, not a quadratic pair set) → per-doc covered-position
    * union (arrays bounded by document length) → map-side rewrite. */
  def exactSubstringDedup(df: DataFrame, textCol: String, idCol: String,
      k: Int = 10): DataFrame = {
    val ws = col("__ws")
    val toks = df.select(col(s"`$idCol`").as("id"),
      words(col(s"`$textCol`")).as("__ws"))
    // two consumers (the min-aggregation and the join back): persist so
    // the corpus-sized window explode — the dominant stage — runs once
    // (the t15 trigramFamiliarity convention; StagePersists release
    // contract applies)
    // fused native kernel (r13): the higher-order transform/slice chain
    // was CodegenFallback — a closure and a fresh slice array per
    // window on the corpus scan; PosShingles is the flat loop, pinned
    // bit-identical in PosShinglesSpec (reference form retained below).
    val occ = StagePersists.track(toks.select(col("id"),
        explode(graft.functions.PosShingles(ws, k)).as("o"))
      .select(col("o.g").as("g"), col("id"), col("o.pos").as("pos")))
    val first = occ.groupBy("g")
      .agg(min(struct(col("id"), col("pos"))).as("f"))
    // carry duplicate-window STARTS only (c ints, not c·k exploded
    // positions); the native CoverRewrite merges the intervals and
    // rebuilds the text in one O(n + c log c) pass per document
    val covered = occ.join(first, "g")
      .filter(struct(col("id"), col("pos")) =!= col("f"))
      .groupBy("id")
      .agg(collect_list(col("pos")).as("__starts"))
    val starts = coalesce(col("__starts"), array().cast("array<int>"))
    toks.join(covered, Seq("id"), "left")
      .withColumn("__cr",
        graft.functions.CoverRewrite(ws, starts, k))
      .select(col("id"),
        size(ws).cast("long").as("n_tokens"),
        col("__cr.n_removed").as("n_removed"),
        col("__cr.clean_text").as("clean_text"))
  }

  // ---- line-grain dedup --------------------------------------------------

  /** C4/RefinedWeb-style LINE-frequency dedup: split each document on
    * `sep`, and every line whose exact text already occurred at an
    * earlier global position — (doc, line position) lexicographic,
    * first occurrence wins, corpus-wide — is removed; each document is
    * reassembled from its surviving lines. The web-pipeline
    * counterpart of [[exactSubstringDedup]] at line grain (C4 §2.2
    * dedups three-sentence spans; RefinedWeb/CCNet drop repeated
    * lines — boilerplate navigation, cookie banners, license footers).
    *
    * Output per document: n_lines, n_removed, dup_line_frac (the
    * MassiveText-style doc-level signal: a document that is mostly
    * duplicated lines is itself boilerplate), clean_text (surviving
    * lines joined by `sep`).
    *
    * Scale shape: line explode → one map-side-combinable min per
    * distinct line text → inverted-index join back on line text
    * (duplicate occurrences only, never a pair join) → per-doc
    * position-set rebuild over line arrays bounded by document size.
    * Same plan family as [[exactSubstringDedup]] — linear in corpus
    * lines, no window over the corpus. */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = col("__lines")
    // the regex split feeds THREE consumers (the two occ derivations
    // and the final rebuild join): persist the split — the expensive
    // pass — once; the posexplode re-derives from the cached arrays
    // for pennies (StagePersists release contract applies)
    val toks = StagePersists.track(
      df.select(col(s"`$idCol`").as("id"),
        split(col(s"`$textCol`"), java.util.regex.Pattern.quote(sep))
          .as("__lines")))
    val occ = toks.select(col("id"), posexplode(lines).as(Seq("pos", "line")))
    val first = occ.groupBy("line")
      .agg(min(struct(col("id"), col("pos"))).as("f"))
    val removed = occ.join(first, "line")
      .filter(struct(col("id"), col("pos")) =!= col("f"))
      .groupBy("id")
      .agg(collect_list(col("pos")).as("__rm"))
    val rm = coalesce(col("__rm"), array().cast("array<int>"))
    toks.join(removed, Seq("id"), "left")
      .select(col("id"),
        size(lines).cast("long").as("n_lines"),
        size(rm).cast("long").as("n_removed"),
        (size(rm).cast(DoubleType) / size(lines).cast(DoubleType))
          .as("dup_line_frac"),
        array_join(filter(lines, (_, i) => !array_contains(rm, i)), sep)
          .as("clean_text"))
  }

  /** The lines a batch pass has seen more than `minDf − 1` times —
    * the trained boilerplate-line table a STREAMING filter enforces
    * ([[lineFilterEvidence]]): the batch/stream split production line
    * dedup actually runs, since corpus-wide first-occurrence ranking
    * ([[lineDedup]]) is not computable on an unbounded stream. */
  def knownDupLines(df: DataFrame, textCol: String, sep: String = "\n",
      minDf: Long = 2L): DataFrame =
    df.select(explode(split(col(s"`$textCol`"),
        java.util.regex.Pattern.quote(sep))).as("line"))
      .groupBy("line").agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDf)

  /** (id, pos, line) for every line of `docs` present in the trained
    * `knownLines` table — the APPEND-SAFE evidence form of line
    * filtering: a stateless per-row explode plus one stream-static
    * equi-join, no aggregation, so it runs identically on a batch
    * frame and an unbounded stream (StreamingSpec pins stream ≡
    * batch). Consumers drop the flagged (id, pos) lines on write-out. */
  def lineFilterEvidence(docs: DataFrame, knownLines: DataFrame,
      textCol: String, idCol: String, sep: String = "\n"): DataFrame =
    docs.select(col(s"`$idCol`").as("id"),
        posexplode(split(col(s"`$textCol`"),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .join(knownLines.select("line"), "line")
      .select(col("id"), col("pos"), col("line"))

  // ---- SimHash ----------------------------------------------------------

  /** 64-bit SimHash over word hashes: for each bit, vote +1/-1 per
    * distinct word; bit set when the vote is positive. The 64 hash bits
    * per word come from two independent 32-bit md5 slices (hex chars
    * 1-8 and 9-16) — pure integer arithmetic, portable.
    *
    * The signature is a signed Long holding the unsigned 64-bit value.
    * No ANSI overflow: bits 0..62 sum to at most Long.MaxValue and the
    * bit-63 term is Long.MinValue, so every partial sum stays in range. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("id"),
        explode(words(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .withColumn("hlo", conv(substring(md5(col("word")), 1, 8), 16, 10).cast(LongType))
      .withColumn("hhi", conv(substring(md5(col("word")), 9, 8), 16, 10).cast(LongType))
    val bitCols = (0 until 64).map { i =>
      val src = if (i < 32) shiftright(col("hlo"), i) else shiftright(col("hhi"), i - 32)
      sum(when(pmod(src, lit(2L)) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val votes = toks.groupBy("id").agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    votes.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDistance.
    * Blocking: 4 bands of 16 bits — pairs within distance ≤ 3 are
    * guaranteed to collide on at least one intact band (pigeonhole).
    * The 65k-key band space spreads 10⁹ docs to ~15k docs per bucket
    * (vs n/256 with 8-bit bands, whose per-bucket self-join goes
    * quadratic at that scale). Arithmetic shiftright sign-extends only
    * bits the pmod masks away, so every key is the exact unsigned
    * 16-bit slice. */
  def simhashPairs(sigs: DataFrame, maxDistance: Int = 3): DataFrame = {
    // 4 bands only pigeonhole-guarantee a shared intact band for
    // distance ≤ 3; a larger maxDistance would silently under-recall
    // pairs that differ in all four bands
    require(maxDistance >= 0 && maxDistance <= 3,
      s"simhashPairs with 4 bands guarantees recall only for maxDistance <= 3, got $maxDistance")
    // 4 rows of 4 longs per doc, self-joined below: checkpoint so the
    // signature pipeline (distinct words + 64 bit votes) runs once,
    // not once per join side
    val banded = StagePersists.checkpoint(sigs.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          pmod(shiftright(col("simhash"), b * 16), lit(65536L)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key"))
      .repartition(sigs.sparkSession.sparkContext.defaultParallelism))
    val a = banded.select(col("band"), col("key"), col("id").as("ida"),
      col("simhash").as("siga"))
    val b = banded.select(col("band"), col("key"), col("id").as("idb"),
      col("simhash").as("sigb"))
    a.join(b, Seq("band", "key"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        bit_count(col("siga").bitwiseXOR(col("sigb"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }
}
