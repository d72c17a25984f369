package graft.dedup

import graft.ops.StagePersists
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deletion propagation ("forget") across the engine's maintained
  * incremental states — the right-to-be-forgotten / takedown step of
  * the between-dumps operational loop (the l8 ingest loop's inverse).
  * A real 100 TB corpus receives delete requests between dumps
  * (GDPR/DMCA, host opt-outs — the same operational reality behind
  * [[graft.rules.HostCuration]]); rebuilding every index from scratch
  * per request is the thing a maintained-state design exists to avoid.
  * Each fold here is pinned ≡ the state REBUILT from (corpus ∖
  * deletes): ForgetSpec pins it in-engine, the l10 oracle pins it
  * cross-engine.
  *
  * Reference anchor: the reference re-walks its dataset directory and
  * re-profiles groups from scratch every run
  * (`profiling/profiler.py:42-63`) — deletion there is "remove the
  * file and re-run"; this is that semantics made incremental.
  *
  * Scale shapes:
  *  - BM25: the NEGATIVE-batch fold — [[bm25]] subtracts
  *    `buildState(deletedDocs)` (df/totals are sums, postings rows are
  *    doc-grain), work ∝ deleted documents, never the corpus.
  *  - Components: deletion can SPLIT a dup group (a deleted bridge
  *    document), so labels are not subtractable — [[components]]
  *    re-closes ONLY the touched components over the stored pair set,
  *    the delete-side twin of
  *    [[Components.incrementalComponents]]'s blast-radius discipline;
  *    untouched components pass through byte-identical.
  *  - Bloom bits ([[BloomDedup]]) are NOT subtractable (a set bit has
  *    no owner count) — the fold for that state is a rebuild over the
  *    remaining corpus hashes, linear once per delete BATCH, not per
  *    request; a counting filter would buy subtraction at 4–8× the
  *    state size. Documented here, exercised nowhere: the honest cost.
  */
object Forget {

  /** [[graft.text.Bm25.State]] minus a set of documents — the
    * negative-batch fold, exact because every statistic is a sum over
    * doc-grain contributions: postings rows of deleted ids are
    * anti-joined away, df/totals subtract the deleted docs' OWN
    * `buildState` (so a zero-token document still decrements `__n`
    * even though it has no postings), and terms whose df reaches 0
    * leave the dictionary — the folded state is indistinguishable
    * from `buildState(corpus ∖ deletes)`. `deletedDocs` must carry
    * the documents' text (a takedown request references content the
    * store still holds — read it back before dropping it). */
  def bm25(state: graft.text.Bm25.State, deletedDocs: DataFrame,
      textCol: String, idCol: String): graft.text.Bm25.State = {
    val bm = graft.text.Bm25
    val neg = bm.buildState(deletedDocs, textCol, idCol)
    val ids = deletedDocs.select(col(s"`$idCol`").as("id")).distinct()
    val post2 = state.post.join(ids, Seq("id"), "left_anti")
    val df2 = state.dfreq
      .join(neg.dfreq.withColumnRenamed("__df", "__dfd"),
        Seq("term"), "left_outer")
      .select(col("term"),
        (col("__df") - coalesce(col("__dfd"), lit(0L))).as("__df"))
      .filter(col("__df") > 0L)
    // one-row ⨯ one-row: the broadcast totals subtraction
    val sums2 = state.sums
      .crossJoin(neg.sums.select(col("__n").as("__nd"),
        col("__tt").as("__ttd")))
      .select((col("__n") - col("__nd")).as("__n"),
        (col("__tt") - col("__ttd")).as("__tt"))
    bm.State(post2, df2, sums2)
  }

  /** Near-dup component labelling after deleting nodes, given the
    * stored PAIR set — the delete-side twin of
    * [[Components.incrementalComponents]]. Deletion is NOT a label
    * subtraction: removing a bridge document splits its component, so
    * the touched components must re-enter the closure. Shape:
    *
    *  - `touched` = components containing a deleted id (tiny,
    *    broadcastable); every OTHER stored label passes through
    *    unchanged (ForgetSpec pins byte-identity);
    *  - the closure re-runs over the stored pairs restricted to
    *    SURVIVING members of touched components — O(blast radius),
    *    never the corpus graph. Restricting pairs to survivor
    *    endpoints is exact: MinHash candidacy and Jaccard are
    *    pairwise per-document functions, so the surviving pair set IS
    *    the pair set of the rebuilt corpus restricted to these
    *    components;
    *  - a survivor that loses its last edge leaves the state: it is
    *    no longer a duplicate of anything, exactly as a full rebuild
    *    over the remaining corpus would never label it.
    *
    * `stored` is a [[Components.connectedComponents]] labelling
    * (id, component_id); `pairs` the undirected pair list it was
    * built from; `deletes` one `id` column. Result ≡
    * `connectedComponents(pairs among corpus ∖ deletes)`. */
  def components(stored: DataFrame, pairs: DataFrame, deletes: DataFrame,
      aCol: String = "ida", bCol: String = "idb"): DataFrame = {
    val delIds = deletes.select(col("id")).distinct()
    val touched = StagePersists.checkpoint(
      stored.join(delIds, Seq("id"), "left_semi")
        .select(col("component_id").as("__root")).distinct())
    val untouched = stored.join(touched,
      stored("component_id") === touched("__root"), "left_anti")
    val survivors = stored.join(touched,
      stored("component_id") === touched("__root"), "left_semi")
      .join(delIds, Seq("id"), "left_anti")
      .select("id")
    val pSub = pairs
      .select(col(s"`$aCol`").as("u"), col(s"`$bCol`").as("v"))
      .join(survivors.select(col("id").as("u")), Seq("u"), "left_semi")
      .join(survivors.select(col("id").as("v")), Seq("v"), "left_semi")
    // blast-radius-sized; checkpointed for the same Catalyst
    // union-constraint reasons as incrementalComponents (skipped on
    // the LocalRelation fast path — nothing to truncate, r14)
    val relabeled = StagePersists.checkpoint(
      Components.adaptiveComponents(pSub, "u", "v"))
    untouched.select("id", "component_id").unionByName(relabeled)
  }
}
