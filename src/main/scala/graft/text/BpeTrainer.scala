package graft.text

import graft.ops.StagePersists
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — learns the
  * merge table that [[VocabTokenCounter]]-style tokenizers consume.
  * The canonical tokenizer-training job over a corpus.
  *
  * The weighted formulation: the corpus is reduced ONCE to (distinct
  * word, count) — corpus size matters only in that first aggregation;
  * every round then works on the vocabulary-sized frame. Each round:
  *  1. adjacent-piece pair counts — one explode + partially-aggregated
  *     groupBy over the vocab frame, counts weighted by word frequency;
  *  2. the argmax merge on the driver (count desc, then (left, right)
  *     lexicographic — deterministic ties), a one-row collect;
  *  3. the merge applied map-side: a greedy LEFT-TO-RIGHT fold over
  *     each word's piece array (the standard BPE application — a
  *     just-merged piece cannot chain into the same merge), then the
  *     state checkpoint-rotated so round lineage never stacks.
  *
  * Rounds are inherently sequential (round r's counts depend on merge
  * r−1) — like the connected-components loop, the driver holds only
  * O(1) per round (the argmax row), never data.
  *
  * Training stops early when no pair reaches `minFreq` (standard). */
object BpeTrainer {

  /** The engine's canonical word stream (the t3/t14 splitter contract,
    * native one-pass form — TokenArraySpec pins ≡ the regex split). */
  private[graft] def words(textCol: Column): Column =
    graft.functions.TokenArray(textCol)

  /** One greedy left-to-right application of merge (l, r): fold pieces,
    * replacing a trailing `l` by `lr` when `r` arrives. */
  private[graft] def applyMerge(pieces: Column, l: String, r: String): Column =
    aggregate(pieces, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** [[trainMerges]] with the merge loop on the DRIVER — the
    * production-vocabulary form. The distributed formulation below is
    * correct but costs one full Spark job chain PER MERGE (pair-count
    * aggregation + argmax collect + state re-map + checkpoint): fine at
    * the gate's 12 merges, ~10⁵ sequential jobs at a real 32k-merge
    * vocabulary — hours of pure scheduling regardless of data size. The
    * training STATE is vocab-sized by construction (distinct words ×
    * counts), so the scale-safe shape is the standard tokenizer-trainer
    * split: ONE distributed weighted word-count aggregation (the only
    * pass that sees corpus bytes), collect the vocab table, then a
    * driver-local lazy-deletion heap merge loop — O(1) Spark jobs total,
    * each merge O(words touched), not O(vocab).
    *
    * BIT-IDENTICAL to [[trainMerges]] (BpeLocalSpec pins it on the gate
    * corpus and on adversarial overlap/re-creation vocabularies): same
    * weighted adjacent-pair counts (overlapping occurrences each
    * count), same argmax order (count desc, then (left, right)
    * lexicographic — ASCII ∪ U+00E0–U+00FF tokens are single UTF-16
    * units, so Java String order = the UTF8String binary order the
    * distributed orderBy applies), same greedy left-to-right
    * application, same `minFreq` stop.
    *
    * `maxVocab` bounds the collect (distinct words, NOT corpus rows —
    * ~100 bytes/word, so the default ≈ 1 GB of driver heap); a corpus
    * whose distinct-word count genuinely exceeds it should fall back to
    * the distributed rounds, which hold state off-driver. */
  def trainMergesLocal(df: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 2L, maxVocab: Int = 10000000): Seq[(Int, String, String, Long)] = {
    require(numMerges >= 1, "need at least one merge")
    // the guard must fire BEFORE the driver materializes the vocab —
    // an over-budget corpus would OOM the collect the require is meant
    // to prevent — so the collect itself is bounded to maxVocab + 1
    // rows (limit pushes into the aggregation; one sentinel row is
    // enough to prove the overflow without fetching it all)
    val vocab = df.select(explode(words(col(s"`$textCol`"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .limit(maxVocab + 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(vocab.size <= maxVocab,
      s"[graft] trainMergesLocal: distinct words exceed " +
        s"maxVocab ($maxVocab); use the distributed trainMerges rounds " +
        "for above-driver-memory vocabularies")
    mergeLoop(vocab, numMerges, minFreq)
  }

  /** The driver-local merge loop over a weighted vocab table. Lazy-
    * deletion priority queue: every pair-count CHANGE pushes a fresh
    * entry; a popped entry is valid iff it matches the live count, so
    * the first valid pop is the true (count desc, l, r) argmax. The
    * per-pair word index lets each merge touch only words that ever
    * contained the pair (stale ids no-op via the scan). A merged pair's
    * count always drops to zero (the greedy scan consumes every
    * adjacency), but later merges may RE-CREATE the pair (a new piece
    * equal to `l` landing before an `r`) — the index and heap both
    * handle re-selection, matching the distributed argmax semantics. */
  private[graft] def mergeLoop(vocab: Seq[(String, Long)], numMerges: Int,
      minFreq: Long): Seq[(Int, String, String, Long)] = {
    val nWords = vocab.size
    val pieces = new Array[Array[String]](nWords)
    val wn = new Array[Long](nWords)
    vocab.zipWithIndex.foreach { case ((w, n), i) =>
      pieces(i) = w.map(_.toString).toArray // BMP-only tokens: char = code point
      wn(i) = n
    }
    val pc = new java.util.HashMap[(String, String), java.lang.Long]()
    val pw = new java.util.HashMap[(String, String), java.util.HashSet[Integer]]()
    val changed = new java.util.HashSet[(String, String)]()
    def bump(p: (String, String), d: Long, wid: Int): Unit = {
      val nv = pc.getOrDefault(p, 0L) + d
      if (nv == 0L) pc.remove(p) else pc.put(p, nv)
      changed.add(p)
      if (d > 0) pw.computeIfAbsent(p, _ => new java.util.HashSet[Integer]())
        .add(wid)
    }
    var i = 0
    while (i < nWords) {
      val p = pieces(i)
      var j = 0
      while (j < p.length - 1) { bump((p(j), p(j + 1)), wn(i), i); j += 1 }
      i += 1
    }
    val pq = new java.util.PriorityQueue[(Long, String, String)](
      math.max(1, pc.size()),
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c
          else {
            val lc = a._2.compareTo(b._2)
            if (lc != 0) lc else a._3.compareTo(b._3)
          }
        }
      })
    def pushChanged(): Unit = {
      changed.forEach { p =>
        val c = pc.getOrDefault(p, 0L)
        if (c > 0L) pq.add((c.longValue(), p._1, p._2))
      }
      changed.clear()
    }
    pushChanged()
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var continue = true
    while (continue && rank <= numMerges) {
      var sel: (Long, String, String) = null
      while (sel == null && !pq.isEmpty) {
        val e = pq.poll()
        if (pc.getOrDefault((e._2, e._3), 0L) == e._1) sel = e
      }
      if (sel == null || sel._1 < minFreq) continue = false
      else {
        val (c, l, r) = sel
        out += ((rank, l, r, c))
        val ids = pw.remove((l, r))
        if (ids != null) ids.forEach { wid =>
          val old = pieces(wid)
          val merged = applyMergeLocal(old, l, r)
          if (merged ne old) {
            var j = 0
            while (j < old.length - 1) {
              bump((old(j), old(j + 1)), -wn(wid), wid); j += 1
            }
            j = 0
            while (j < merged.length - 1) {
              bump((merged(j), merged(j + 1)), wn(wid), wid); j += 1
            }
            pieces(wid) = merged
          }
        }
        pushChanged()
        rank += 1
      }
    }
    out.result()
  }

  /** The greedy left-to-right merge as a flat scan — provably equal to
    * [[applyMerge]]'s fold (both consume disjoint leftmost-first (l, r)
    * adjacencies of the ORIGINAL array: the fold's acc-last is either
    * an untouched original element or a just-built `lr`, and `lr` can
    * never equal `l`, so a fold merge always pairs original neighbors).
    * Returns the input array REFERENCE when nothing matched. */
  private[graft] def applyMergeLocal(p: Array[String], l: String,
      r: String): Array[String] = {
    var i = 0
    var found = false
    while (!found && i < p.length - 1) {
      if (p(i) == l && p(i + 1) == r) found = true else i += 1
    }
    if (!found) p
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](p.length)
      var j = 0
      while (j < p.length) {
        if (j < p.length - 1 && p(j) == l && p(j + 1) == r) {
          out += (l + r); j += 2
        } else { out += p(j); j += 1 }
      }
      out.toArray
    }
  }

  /** Learned merges in order: (rank starting at 1, left, right,
    * weighted adjacent-pair frequency at merge time) — the DISTRIBUTED
    * round-per-merge formulation: state lives in the cluster, so it
    * holds vocabularies past driver memory, at the cost of one job
    * chain per merge. For vocabularies that fit the driver (≲10⁷
    * distinct words) prefer [[trainMergesLocal]] — identical output,
    * O(1) jobs. */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 2L): Seq[(Int, String, String, Long)] = {
    require(numMerges >= 1, "need at least one merge")
    var state = StagePersists.checkpoint(df
      .select(explode(words(col(s"`$textCol`"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("n"),
        transform(sequence(lit(1), length(col("w"))),
          i => substr(col("w"), i, lit(1))).as("p")))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var continue = true
    while (continue && rank <= numMerges) {
      val best = state
        .filter(size(col("p")) >= 2)
        .select(col("n"), explode(transform(sequence(lit(1), size(col("p")) - 1),
          i => struct(element_at(col("p"), i).as("l"),
            element_at(col("p"), i + 1).as("r")))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum("n").as("c"))
        .orderBy(desc("c"), asc("l"), asc("r"))
        .limit(1).collect()
      best.headOption.filter(_.getAs[Long]("c") >= minFreq) match {
        case Some(row) =>
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          out += ((rank, l, r, c))
          val next = StagePersists.checkpoint(state.select(col("n"),
            applyMerge(col("p"), l, r).as("p")))
          StagePersists.free(state)
          state = next
          rank += 1
        case None => continue = false
      }
    }
    StagePersists.free(state)
    out.result()
  }
}

/** [[TokenCounter]] over a LEARNED merge table — the consumer side of
  * [[BpeTrainer]], closing the train → tokenize loop: each word starts
  * as characters and the merges apply once each in rank order (the
  * simple sequential variant — identical to training-time tokenization
  * on the training corpus; a priority-queue inference can differ on
  * novel words where a late merge re-creates an early merge's
  * adjacency, which this engine trades for cross-engine determinism).
  *
  * The hot path is the native [[graft.functions.BpeMergeCounts]] — one
  * heap-driven pass per word that only pays for merges whose sides the
  * word contains, so a 30k-merge production vocabulary costs about the
  * same as the gate's 12. The Column-expression fold
  * ([[referenceCount]], |merges| interpreted array folds per word) is
  * retained as the reference form: BpeSpec pins native ≡ fold
  * bit-identical, and the t25 oracle replays the fold's semantics as
  * unrolled CTEs. */
final case class BpeTokenCounter(merges: Seq[(String, String)]) extends TokenCounter {
  import org.apache.spark.sql.functions._

  private[text] def piecesOf(word: Column): Column = {
    val chars = transform(sequence(lit(1), length(word)),
      i => substr(word, i, lit(1)))
    merges.foldLeft(chars) { case (p, (l, r)) =>
      BpeTrainer.applyMerge(p, l, r)
    }
  }

  /** Per-word piece counts of a WORD ARRAY column, native pass. */
  def pieceCounts(wordsArr: Column): Column =
    graft.functions.BpeMergeCounts(wordsArr, merges)

  def count(text: Column): Column = {
    val toks = graft.functions.TokenArray(text)
    coalesce(aggregate(pieceCounts(toks), lit(0L), (acc, c) => acc + c),
      lit(0L))
  }

  /** The interpreted reference form of [[count]] (spec anchor only —
    * O(|merges|) folds per word, a cliff at real vocab sizes). */
  def referenceCount(text: Column): Column = {
    val toks = filter(split(lower(text), "[^a-zà-ÿ0-9]+"), w => w =!= "")
    coalesce(aggregate(toks, lit(0L),
      (acc, w) => acc + size(piecesOf(w)).cast("long")), lit(0L))
  }
}
