package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The one module that materializes a stage or releases one.
  *
  *  - [[checkpoint]]: materialize a frame once, here, and cut its
  *    lineage (an eager local checkpoint). Used for pushdown barriers,
  *    frames several jobs reuse, and each round of an iterative loop.
  *  - [[free]]: release one checkpoint [[checkpoint]] returned — the
  *    step an iterative loop takes once the next round's checkpoint has
  *    materialized, so at most two rounds are ever live.
  *  - [[track]]: persist a frame that must outlive the operator that
  *    built it (the operator returns a lazy frame that reads it),
  *    registered for session-scoped [[release]].
  *  - [[scoped]]: persist frames for the length of one call.
  *  - [[release]] / [[dropAll]]: drop what a query left behind.
  *
  * Some composed operators (the corpus pipelines' stage boundaries,
  * trigramFamiliarity's shingle frame) track corpus-sized
  * intermediates because multiple consumers would otherwise re-execute
  * the whole upstream (measured 124s → 11s on the sf1 l2 rehearsal).
  * This engine's entry points (Bench, Verify, Meter) call [[dropAll]]
  * between queries, so nothing accumulates there. A library caller
  * composing several corpus queries in one long-lived session instead
  * calls [[release]] after materializing each result — the documented
  * contract for every operator that persists through [[track]].
  */
object StagePersists {

  // Strong references, with lifecycle hooks: the registry must hold
  // the frames strongly (release() needs them to unpersist — a weak
  // reference would be GC'd as soon as the operator returns, since
  // consumers reference the PLAN, not the DataFrame object), and a
  // WeakHashMap keyed by SparkContext would never clear because the
  // value's frames reference their session, i.e. the key. Instead a
  // plain map drops its bucket on the context's application-end event
  // (the listener lives on that context's bus, so it pins nothing
  // globally), closing the stopped-context pinning hole.
  private val byCtx =
    new java.util.IdentityHashMap[SparkContext, mutable.Buffer[DataFrame]]()

  /** Eagerly materialize `df` and return a frame over the result, with
    * its lineage cut. A driver-local frame (a `LocalRelation`) is
    * returned as is: it has no lineage to cut, and checkpointing it
    * would cost a job for nothing. The returned frame's plan is a
    * `LogicalRDD` over the checkpointed RDD, which is how [[free]]
    * finds what to release — no registry, no lock, safe from
    * concurrent threads. */
  def checkpoint(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case _: LocalRelation => df
    case _ => df.localCheckpoint(true)
  }

  /** Release the checkpoint behind a frame [[checkpoint]] returned. The
    * frame must not be read afterwards. On any other frame (a local
    * one [[checkpoint]] passed through, or a lazy plan) it does
    * nothing. */
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** Persist `df` (MEMORY_AND_DISK — spill, don't OOM, at 100 TB) and
    * register it for session-scoped release. Returns `df`. */
  def track(df: DataFrame): DataFrame = synchronized {
    val ctx = df.sparkSession.sparkContext
    if (!byCtx.containsKey(ctx)) {
      byCtx.put(ctx, mutable.Buffer.empty[DataFrame])
      ctx.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          StagePersists.synchronized { byCtx.remove(ctx) }
      })
    }
    byCtx.get(ctx) += df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Run `body` with `dfs` persisted (MEMORY_AND_DISK), and release
    * them when it returns or throws: for frames one call scans several
    * times and nothing reads afterwards. */
  def scoped[A](dfs: Seq[DataFrame])(body: => A): A = {
    dfs.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try body
    finally dfs.foreach(_.unpersist(blocking = false))
  }

  /** Release every operator-owned stage persist registered in this
    * session. Safe to call any time after the consuming query's
    * terminal action; subsequent re-use of a released frame recomputes
    * it (correct, just unaided by the cache). */
  def release(spark: SparkSession): Unit = synchronized {
    Option(byCtx.remove(spark.sparkContext))
      .foreach(_.foreach(_.unpersist(blocking = false)))
  }

  /** Drop all of the session's cached state between queries: the
    * tracked persists, the catalog cache, and every persisted RDD —
    * the last catches the checkpoints, which no catalog call sees. */
  def dropAll(spark: SparkSession): Unit = {
    release(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Number of live tracked persists for the session (test hook). */
  private[graft] def trackedCount(spark: SparkSession): Int = synchronized {
    Option(byCtx.get(spark.sparkContext)).map(_.size).getOrElse(0)
  }
}
