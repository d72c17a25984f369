package graft.dedup

import graft.ops.StagePersists
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over near-duplicate pair lists —
  * the step that turns d2/d4/d5/d6 pair output into an actual deduped
  * corpus (transitive merge semantics per the reference's typo-conflict
  * merge, profile_similarity.py:67-74, scaled out).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). Each
  * round is two groupBy+equi-join passes over the edge list; the edge
  * set converges to one star per component (every node linked directly
  * to its component minimum) in O(log n) rounds. Nothing but edge
  * CHECKSUMS ever reaches the driver — no union-find, no collected
  * adjacency — so the same loop runs unchanged on a 10^11-edge graph.
  *
  * Each round's result is checkpointed (eager): the loop would
  * otherwise stack 2·rounds shuffles of lineage, and a lost-block
  * replay through a nondeterministic ancestor could diverge from the
  * checksummed state the convergence test saw.
  */
object Components {

  /** (labels, rounds): one row per node appearing in `pairs`, labelled
    * with its component's minimum node id. `pairs` is undirected; self
    * pairs are ignored. Fails loudly (require) if not converged within
    * `maxRounds` — silently returning a half-merged labelling would
    * corrupt a dedup downstream.
    *
    * Checkpoint lifecycle: each round's edge set is checkpointed
    * ([[StagePersists.checkpoint]]) and SUPERSEDES the previous
    * round's — on a 10^11-edge graph retaining all ~15 rounds would pin
    * 15 O(E) edge-set copies on the executors. The new checkpoint is
    * materialized first (eager), then the superseded one is freed
    * ([[StagePersists.free]]), so at most TWO edge sets are ever live;
    * only the final fixpoint (which the returned labels frame reads)
    * stays persisted for the caller's query. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): (DataFrame, Int) = {
    var edges = StagePersists.checkpoint(pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var sig = checksum(edges)
    var rounds = 0
    var done = edges.isEmpty
    while (!done && rounds < maxRounds) {
      val next = StagePersists.checkpoint(smallStar(largeStar(edges)))
      StagePersists.free(edges)
      edges = next
      val s = checksum(edges)
      done = s == sig
      sig = s
      rounds += 1
    }
    require(done, s"connectedComponents did not converge in $maxRounds rounds")
    // At fixpoint the edge set is a star per component: u > v = root.
    // explode, not a self-union: one pass over the edges, and a
    // union-of-aliases-of-the-same-attrs here leaves dangling internal
    // refs in Catalyst's union constraint rewrite that crash the
    // optimizer when THIS frame later enters another Union
    // (incrementalComponents; NoSuchElementException key not found u#…)
    val labels = edges.select(explode(array(
        struct(col("u").as("id"), col("v").as("component_id")),
        struct(col("v").as("id"), col("v").as("component_id")))).as("n"))
      .select(col("n.id"), col("n.component_id"))
      .groupBy("id").agg(min("component_id").as("component_id"))
    (labels, rounds)
  }

  /** [[connectedComponents]] with an ADAPTIVE small-graph fast path:
    * the distinct edge set is probed with a bounded limit+collect, and
    * when it fits `driverEdgeLimit` (and ids are Longs) the closure
    * runs as driver union-find — identical labels (component minimum),
    * zero shuffle rounds. A graph of near-dup PAIRS is usually tiny
    * even when the corpus is not (pairs ∝ duplicates, not documents),
    * and the star loop's per-round scheduling floor (2 joins + a
    * checkpoint × O(log n) rounds) dominates closure cost below
    * ~10⁶ edges — measured ~11 s at sf0.1 for a few hundred edges,
    * ~1 s on this path. Above the bound (or for non-Long ids) the
    * distributed star algorithm runs unchanged: the probe collects AT
    * MOST driverEdgeLimit+1 rows, so driver memory stays bounded on a
    * 10¹¹-edge graph. The profileAuto convention: size switches the
    * physical strategy, never the result (ComponentsSpec pins
    * adaptive ≡ distributed, both sides of the bound). */
  def adaptiveComponents(pairs: DataFrame, aCol: String, bCol: String,
      driverEdgeLimit: Int = 500000): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val longIds = pairs.schema(aCol).dataType == LongType &&
      pairs.schema(bCol).dataType == LongType
    if (!longIds) return connectedComponents(pairs, aCol, bCol)._1
    val edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val probe = edges.limit(driverEdgeLimit + 1).collect()
    if (probe.length > driverEdgeLimit)
      return connectedComponents(pairs, aCol, bCol)._1
    // complete edge set in hand: union-find with min-id labelling
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    probe.foreach { row =>
      val (u, v) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(ru) = rv
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keys.foreach { id =>
      val r = find(id)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, id), id)
    }
    val sess = pairs.sparkSession
    import sess.implicits._
    parent.keys.toSeq.sorted.map(id => (id, minOfRoot(find(id))))
      .toDF("id", "component_id")
  }

  /** Component labels plus the deterministic canonical pick:
    * (id, component_id, is_canonical) where the canonical document of a
    * component is its minimum id. */
  def dupComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    adaptiveComponents(pairs, aCol, bCol)
      .withColumn("is_canonical", col("id") === col("component_id"))

  /** Quality-ranked canonical selection: keep the highest-scoring
    * member of each component, ties broken to the LOWEST id — what a
    * production dedup actually retains (the best copy), vs
    * [[dupComponents]]' arbitrary min-id convention.
    *
    * `labels`: (idCol, componentCol) from [[connectedComponents]];
    * `scored`: (idCol, scoreCol) — any deterministic per-id NUMERIC
    * score (it is negated to build the argmax ordering; e.g. the
    * rounded [[graft.text.TextAnalysis.qualityScore]]). idCol may be
    * any orderable type — string keys work.
    *
    * Scale shape: one equi-join on id, one partially-aggregated
    * groupBy(component) whose argmax carries a single struct per
    * group, and a component-keyed join back — all keyed shuffles with
    * map-side combine; nothing all-pairs, nothing on the driver. */
  def keepBest(labels: DataFrame, scored: DataFrame, idCol: String,
      componentCol: String, scoreCol: String): DataFrame = {
    val withScore = labels.join(scored, idCol)
    // argmax as a struct MIN over (-score, id) ⇒ highest score, then
    // lowest id — a total order, so the pick is deterministic. The
    // SCORE is negated (numeric by contract), never the id, so string
    // and other orderable id types work
    val best = withScore.groupBy(componentCol)
      .agg(min(struct((-col(s"`$scoreCol`")).as("negs"),
        col(s"`$idCol`").as("id"))).as("b"))
      .select(col(s"`$componentCol`"), col("b.id").as("__best_id"))
    withScore.join(best, componentCol)
      .withColumn("keep", col(s"`$idCol`") === col("__best_id"))
      .drop("__best_id")
  }

  /** Incremental component maintenance: merge a NEW batch's near-dup
    * pairs into a STORED component labelling without recomputing the
    * corpus closure — the component-level completion of the
    * incremental story ([[graft.dedup.Dedup.crossCorpusNearDuplicates]]
    * finds the new PAIRS; this folds them into the corpus's dup-group
    * state). `stored` is a previous [[connectedComponents]] labelling
    * ((id, component_id), component_id = min member id); `newPairs` is
    * any new undirected pair list (batch↔batch and batch↔corpus).
    *
    * Returns the labelling of stored ∪ new ids, IDENTICAL to a full
    * [[connectedComponents]] over (original corpus pairs ∪ newPairs):
    * a stored component's star edges (member → root) preserve exactly
    * its connectivity and minimum, so re-running the closure over
    * {star edges of TOUCHED components} ∪ newPairs and passing every
    * untouched label through unchanged reproduces the full recompute
    * (IncrementalComponentsSpec pins the equivalence, including root
    * takeover by a smaller new id and stored↔stored merges bridged by
    * a new doc).
    *
    * Scale shape: one distinct over the new pair endpoints, an
    * equi-join against `stored` to find touched roots (a typically
    * tiny, broadcastable frame), a semi-join pulling ONLY touched
    * members' star edges into the closure, and an anti-join passing
    * the untouched corpus through — the closure runs on
    * O(new pairs + touched members), never on the corpus graph. At
    * 100 TB `stored` is a maintained table and the per-dump cost is
    * linear in the dump's blast radius, not the corpus. */
  def incrementalComponents(stored: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val edges = newPairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
    // explode, not select(u)∪select(v): a union of two alias-projections
    // over the SAME filtered frame trips the optimizer's union
    // constraint rewrite (dangling sibling-attr refs, see the labels
    // comment in connectedComponents) — and is two passes besides
    val endpoints = edges
      .select(explode(array(col("u"), col("v"))).as("id")).distinct()
    // roots of stored components incident to any new pair. Checkpointed
    // (tiny: one root per touched component, and consumed by TWO joins
    // below) — also severs the cross-frame constraint lineage that
    // Catalyst's union constraint rewrite mishandles (see labels).
    val touched = StagePersists.checkpoint(endpoints.join(stored, "id")
      .select(col("component_id").as("__root")).distinct())
    val touchedMembers = stored.join(touched,
      stored("component_id") === touched("__root"), "left_semi")
    // closure input: new pairs + star edges of the touched components
    // (root's own (root, root) row self-filters inside the closure).
    // Constraint barrier (lazy, no job): this union mixes the stored
    // frame's lineage with the new-pair lineage, which Catalyst's
    // union constraint rewrite mishandles (dangling sibling refs →
    // NoSuchElementException in the optimizer); the RDD round-trip
    // yields a constraint-free LogicalRDD over a BLAST-RADIUS-sized
    // frame, so the conversion cost is bounded by the dump, not the
    // corpus.
    val subRaw = edges.unionByName(
      touchedMembers.select(col("id").as("u"), col("component_id").as("v")))
    val sub = stored.sparkSession.createDataFrame(subRaw.rdd, subRaw.schema)
    // The closure output is checkpointed before the union: Catalyst's
    // Union constraint rewrite chokes on the union→aggregate→union
    // constraint chains both sides would otherwise carry (dangling
    // internal attr refs → NoSuchElementException during optimize);
    // the checkpoint (tiny: blast-radius-sized, and the closure loop
    // already materialized it) truncates them. Skipped when the
    // adaptive fast path already returned a LocalRelation (r14).
    val relabeled = StagePersists.checkpoint(adaptiveComponents(sub, "u", "v"))
    val untouched = stored.join(touched,
      stored("component_id") === touched("__root"), "left_anti")
    untouched.select("id", "component_id").unionByName(relabeled)
  }

  /** (count, xor-of-row-hashes) — an order-independent edge-set
    * fingerprint; equal fingerprints on consecutive rounds = fixpoint.
    * bit_xor (not sum) so ANSI overflow can't throw; rows are distinct
    * so xor cancellation of duplicate rows cannot occur. */
  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Large-star: every node u links each LARGER neighbor to
    * m = min(N(u) ∪ {u}). Preserves big→small edge orientation
    * (m ≤ u < v). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u")
      .agg(least(min(col("v")), col("u")).as("m"))
    nbrs.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: every node u (edges oriented u > v) links each of its
    * smaller neighbors — and itself — to m = min(N(u)). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("u").agg(min(col("v")).as("m"))
    edges.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }
}
