package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) subword tokenizer (Kudo 2018,
  * "Subword Regularization: Improving Neural Network Translation
  * Models with Multiple Subword Candidates"), in its deterministic
  * integer-exact form — the OTHER tokenizer family next to
  * [[BpeTrainer]]: instead of greedy merge application, each word is
  * segmented by a Viterbi dynamic program minimizing the total piece
  * negative log-likelihood under a piece unigram model.
  *
  * Model: the seed inventory is the corpus's most frequent substrings
  * (length 2..[[MaxPieceLen]], top-M by (count desc, piece asc)) plus
  * EVERY single character seen in the corpus (so any training word is
  * segmentable); piece probability is its substring-occurrence share
  * of the selected inventory,
  *   Q(p) = clamp(⌊cnt(p)·2³⁰ / total⌋, 1, 2³⁰),
  *   cost_fp(p) = 30·F − lg2_fp(Q) = [[LanguageModel.nllFp]](Q)
  * — the engine-wide fixed-point NLL ladder, so both engines replay
  * the costs bit-for-bit.
  *
  * Viterbi with a TIE-PROOF objective: dp minimizes the single Long
  * key cost·2²⁰ + pieces (cost in the high bits, piece count in the
  * low bits — counts never reach 2²⁰, so min-plus addition never
  * carries). Two different segmentations that tie on (cost, pieces)
  * produce the SAME key, so the per-word output — (cost_fp,
  * n_pieces) — is deterministic without pinning a path, and the
  * whole DP replays cross-engine as an unrolled min-plus chain (the
  * c1/s5 Lloyd-unroll device, one CTE per word position up to
  * [[MaxWordLen]]). Words longer than [[MaxWordLen]] fall back to
  * character pieces (the standard unknown-long-token behavior), a
  * closed form both engines compute directly. Characters absent from
  * the vocabulary (never in training, possible on deployed streams)
  * cost [[UnkCost]] = the 2⁻³⁰ clamp floor.
  *
  * Scale shape (100 TB): substring counting and word frequencies are
  * distinct-word-grain aggregates behind one token explode (linear,
  * map-side-combinable); the selected vocabulary is tokenizer-sized —
  * control-plane by nature, like the BPE merge table — and collects
  * behind an explicit budget guard; encoding is ONE shuffle-free
  * per-row kernel pass over documents ([[graft.functions.UnigramEncode]]),
  * append-mode stream legal.
  */
object UnigramLm {

  /** Longest candidate piece (substring length). */
  val MaxPieceLen = 4

  /** Longest word the Viterbi DP covers — the mirror's unroll depth;
    * longer words take the character fallback in both engines. */
  val MaxWordLen = 16

  /** Piece-count field width in the combined DP key. */
  val CntScale: Long = 1048576L

  /** Cost of a character absent from the vocabulary: the probability
    * clamp floor, nllFp(1) = 30·F. */
  val UnkCost: Long = 30L * LanguageModel.F

  /** (word, freq) occurrence counts over the [a-z0-9] token stream. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(
        graft.functions.TokenArray.asciiTokens(col(s"`$textCol`"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Substring-occurrence counts: every (start, len ≤ MaxPieceLen)
    * substring of every distinct word, weighted by the word's corpus
    * frequency. Distinct-word grain — the corpus is never re-scanned
    * per length. */
  def substringCounts(wc: DataFrame): DataFrame =
    wc.select(col("w"), col("freq"),
        explode(sequence(lit(1), least(lit(MaxPieceLen), length(col("w")))))
          .as("l"))
      .select(col("freq"),
        explode(transform(
          sequence(lit(1), length(col("w")) - col("l") + 1),
          i => col("w").substr(i, col("l")))).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** The selected vocabulary: top-M multi-character substrings by
    * (cnt desc, piece asc) — a global top-k through the salted
    * two-phase ranking, no single-task sort of the substring space —
    * plus every single character. */
  def seedVocab(subs: DataFrame, topM: Int): DataFrame = {
    val multi = graft.ops.Scale.saltedTopK(
        subs.filter(length(col("piece")) >= 2),
        Seq(lit(1)), Seq(col("cnt").desc, col("piece")), topM,
        col("piece"), "__vrk")
      .select("piece", "cnt")
    multi.unionByName(subs.filter(length(col("piece")) === 1)
      .select("piece", "cnt"))
  }

  /** Driver-collected piece → cost_fp map. The vocabulary budget is
    * checked BEFORE collecting (one count — the t18 pre-collect
    * lesson); the Long-exactness envelope cnt·2³⁰ requires the total
    * selected count below 2³³ (beyond: recompute with
    * DecimalType(38,0) cost columns — same plan, wider buffers). */
  def pieceCosts(vocab: DataFrame, maxVocab: Int = 1000000): Map[String, Long] = {
    val n = vocab.count()
    require(n <= maxVocab,
      s"[graft] unigram vocabulary $n exceeds the driver budget " +
        s"($maxVocab); raise maxVocab knowingly or lower topM")
    val rows = vocab.collect().map(r => r.getString(0) -> r.getLong(1))
    val total = rows.foldLeft(0L)(_ + _._2)
    require(total < 8589934592L,
      s"[graft] unigram substring total $total exceeds the Long-exact " +
        "envelope (2^33); recompute with DecimalType(38,0) costs")
    rows.map { case (p, cnt) =>
      val q = math.min(math.max(cnt * LanguageModel.PScale / total, 1L),
        LanguageModel.PScale)
      p -> graft.functions.BigramScore.nllFp(q)
    }.toMap
  }

  /** End-to-end model build over a training corpus. */
  def denseModel(docs: DataFrame, textCol: String, topM: Int,
      maxVocab: Int = 1000000): graft.functions.UnigramEncode.Model = {
    val costs = pieceCosts(
      seedVocab(substringCounts(wordCounts(docs, textCol)), topM), maxVocab)
    new graft.functions.UnigramEncode.Model(costs, MaxPieceLen, MaxWordLen)
  }

  /** One HARD-EM round (the SentencePiece training step, in its
    * deterministic Viterbi-counts form): segment every distinct word
    * by the CANONICAL path of the current model
    * ([[graft.functions.UnigramEncode.pathPieces]] — minimal key,
    * ties to the shortest piece), count piece usage weighted by word
    * frequency, and re-derive costs from the usage shares (the same
    * clamped-ladder NLL; vocabulary pieces the corpus stopped using
    * fall to the 2⁻³⁰ floor — soft pruning). The E-step is one
    * distinct-word-grain kernel pass + one piece-sized aggregate; the
    * M-step is driver arithmetic over the (vocabulary-sized,
    * budget-guarded) usage table. */
  def emRefine(wc: DataFrame,
      model0: graft.functions.UnigramEncode.Model)
      : graft.functions.UnigramEncode.Model = {
    val usage = wc.select(
        explode(graft.functions.UnigramPath(col("w"), model0)).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // usage restricted to the vocabulary: unknown single characters
    // (possible on non-training words) stay unknown and carry no mass
    val tot = model0.costs.keysIterator
      .map(p => usage.getOrElse(p, 0L)).sum
    require(tot > 0L && tot < 8589934592L,
      s"[graft] unigram usage total $tot outside the Long-exact " +
        "envelope (0, 2^33); recompute with DecimalType(38,0) costs")
    val costs2 = model0.costs.keysIterator.map { p =>
      val c = usage.getOrElse(p, 0L)
      val q = math.min(math.max(c * LanguageModel.PScale / tot, 1L),
        LanguageModel.PScale)
      p -> graft.functions.BigramScore.nllFp(q)
    }.toMap
    new graft.functions.UnigramEncode.Model(costs2, model0.maxPieceLen,
      model0.maxWordLen)
  }

  /** (n_words, n_pieces, cost_fp) as PURE COLUMNS over a text column —
    * shuffle-free, stateless, append-mode stream legal (the w-plane
    * deployment convention). */
  def encodeColumns(model: graft.functions.UnigramEncode.Model,
      textCol: String): (Column, Column, Column) = {
    val stats = graft.functions.UnigramEncode(col(s"`$textCol`"), model)
    (element_at(stats, 1), element_at(stats, 2), element_at(stats, 3))
  }
}
