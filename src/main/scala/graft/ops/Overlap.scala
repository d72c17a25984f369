package graft.ops

/** Overlap INDEPENDENT driver-blocking actions (eager checkpoints,
  * dense-model collects) issued while BUILDING one query — guide §2.6:
  * Spark happily runs several jobs at once inside one application;
  * control-plane actions are only sequential because the building
  * thread calls them sequentially. A batch twin whose control plane
  * trains k independent tables off one materialized base pays k serial
  * job-submission barriers for work that fits the cluster side by side
  * (at sf0.1 the barrier latency IS most of the wall time — the w15
  * finding: task-seconds fell 149→130 in r13 while the wall stayed
  * flat because four checkpoints ran nose to tail).
  *
  * Thunks must be independent (none reads another's result) and
  * side-effect-safe under concurrency — RDD persist materialization
  * coordinates per-partition in the block manager, so two thunks racing
  * to materialize one shared tracked persist compute it once, and each
  * [[StagePersists.checkpoint]] owns its RDD through the frame it
  * returns, so concurrent checkpoints need no lock and [[StagePersists.free]]
  * of one never touches another's. Failures rethrow the original cause
  * on the calling thread.
  * Frames should be CONSTRUCTED on the calling thread; thunks only
  * trigger the actions.
  */
object Overlap {

  private def run[A](thunks: Seq[() => Any]): Seq[Any] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Any] {
          override def call(): Any = t()
        })
      }
      futs.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdown()
  }

  def par2[A, B](a: () => A, b: () => B): (A, B) = {
    val r = run(Seq(a, b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def par3[A, B, C](a: () => A, b: () => B, c: () => C): (A, B, C) = {
    val r = run(Seq(a, b, c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
