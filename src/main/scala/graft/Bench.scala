package graft
import scala.collection.mutable

/** Benchmark main. Prints self-contained JSON lines the driver parses.
  *
  * Timeout-survivable by construction (round-11 post-mortem: a SIGTERM
  * mid-epoch-3 destroyed the whole artifact because the one total line
  * was only printed after all three epochs):
  *   - a wall-clock budget (env SPARK_GRAFT_BENCH_BUDGET_S, default 1350s)
  *     is checked between queries; when it is tight the loop stops
  *     STARTING new work instead of being killed mid-flight,
  *   - the samples / per_query / total lines are printed and
  *     BENCH_SAMPLES.json rewritten after EVERY epoch (latest write
  *     wins; the driver parses the last total line in its stdout tail),
  *   - a JVM shutdown hook emits the artifact from whatever samples
  *     exist if a kill lands anyway,
  *   - heavy queries (epoch-1 time >= SPARK_GRAFT_BENCH_HEAVY_S, default
  *     15s) keep 2 samples instead of 3 — the composed pipelines are
  *     ~100s/epoch combined and the median logic tolerates missing
  *     samples,
  *   - epochs run CHEAP-FIRST (by measured sf0.001 warmup time), so a
  *     budget cut lands in the expensive tail and the partial epoch
  *     still times the maximum number of queries,
  *   - sample codes: >=0 seconds; -1 = query THREW; -2 = never ran
  *     (budget abort or heavy-skip). Only -1 counts as a failure.
  *     per_query uses the same sentinels: -1 only for queries that
  *     actually threw, -2 for queries that never got a sample. With
  *     exactly 2 valid samples per_query reports their MEAN (the
  *     lower-middle "median" of 2 is the min — a systematic low bias).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val t0Wall = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0Wall) / 1e9
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1350").toDouble
    val heavyS = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_S", "15").toDouble
    def remaining: Double = budgetS - elapsedS

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = SparkEntry.queries.keys.toSeq.sorted
    // all samples recorded so far, epoch-major; guarded by `lock` because
    // the shutdown hook reads it from another thread mid-kill
    val lock = new Object
    val samples = mutable.LinkedHashMap(names.map(n => n -> mutable.ArrayBuffer.empty[Double]): _*)
    @volatile var epochsDone = 0
    @volatile var emittedFinal = false
    @volatile var shuttingDown = false

    def d3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // Emit the full artifact from the samples recorded so far. Safe to
    // call repeatedly — the driver keeps a bounded stdout TAIL and parses
    // the LAST total line, so later (more complete) emissions win.
    def emit(tag: String): Unit = lock.synchronized {
      val snap = names.map(n => n -> samples(n).toList)
      val results = snap.map { case (name, ss) =>
        val valid = ss.filter(_ >= 0).sorted
        // median over surviving samples. For exactly 2 (the heavy-skip
        // case) the lower-middle would be the MIN — systematically
        // biasing heavy queries low vs 3-sample rounds — so report the
        // mean instead. Sentinels: -1 = query THREW in every epoch it
        // ran; -2 = never ran (budget abort / heavy-skip) — distinct so
        // a consumer never mistakes unstarted work for a failure.
        val sec =
          if (valid.size == 2) (valid(0) + valid(1)) / 2.0
          else if (valid.nonEmpty) valid((valid.size - 1) / 2)
          else if (ss.isEmpty || ss.forall(_ == -2.0)) -2.0
          else -1.0
        name -> sec
      }.toMap
      // failures = queries that actually THREW (-1) in ANY epoch — a
      // flaky query that later succeeded still surfaces here; a -2 is
      // work the budget guard or heavy-skip chose not to start, not a
      // failure
      val failures = snap.collect { case (n, ss) if ss.contains(-1.0) => n }.map(n => s""""$n"""")
      val nSkipped = snap.count { case (_, ss) => ss.isEmpty || ss.forall(_ == -2.0) }
      val qs = names.map(k => s""""$k":${d3(results(k))}""").mkString("{", ",", "}")
      val total = results.values.filter(_ >= 0).sum
      val samplesJson = snap.map { case (k, ss) =>
        s""""$k":${ss.map(d3).mkString("[", ",", "]")}"""
      }.mkString("{", ",", "}")
      val samplesLine = s"""{"metric":"samples","unit":"sec","epochs_done":$epochsDone,"stage":"$tag","queries":$samplesJson,"sf":"$sfDir"}"""
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES",
        new java.io.File("BENCH_SAMPLES.json").getAbsolutePath)
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          (samplesLine + "\n").getBytes("UTF-8"))
      } catch { case t: Throwable =>
        System.err.println(s"[bench] WARNING: could not write samples to $out: $t")
      }
      println(samplesLine)
      println(s"""{"metric":"per_query","unit":"sec","queries":$qs,"sf":"$sfDir"}""")
      println(s"""{"metric":"total","value":${d3(total)},"unit":"sec","n_queries":${names.size},"epochs_done":$epochsDone,"skipped":$nSkipped,"failures":${failures.mkString("[", ",", "]")},"sf":"$sfDir"}""")
      System.out.flush()
    }
    // The driver keeps a MERGED stdout+stderr byte-tail (round 11's
    // artifact tail was pure WindowExec WARN spam): anything logged
    // AFTER our total line can push it out of the window, so every
    // final emission first silences log4j entirely.
    def quiet(): Unit =
      try {
        org.apache.logging.log4j.core.config.Configurator
          .setRootLevel(org.apache.logging.log4j.Level.OFF)
        spark.sparkContext.setLogLevel("OFF")
      } catch { case _: Throwable => () } // best-effort suppression
    // If a kill lands mid-query anyway, still leave a parseable artifact —
    // but only once at least one real sample exists: a total of 0.000 from
    // a kill during warmup would be worse for the driver than no total.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      shuttingDown = true
      if (!emittedFinal && lock.synchronized(samples.values.exists(_.exists(_ >= 0)))) {
        quiet()
        emit("shutdown-hook")
      }
    }))

    // drop every tracked persist, cached plan and checkpoint so earlier
    // queries can't pressure later ones
    def dropState(): Unit =
      // swallow teardown errors: after a SIGTERM the context is stopping
      // and an uncaught throw here would print a stack trace AFTER the
      // shutdown hook's total line in the driver's merged tail
      try graft.ops.StagePersists.dropAll(spark)
      catch { case t: Throwable =>
        // silent only during shutdown (a stack here would displace the
        // hook's total line from the merged tail); live failures get one
        // line — pinned persists would contaminate later timings
        if (!shuttingDown)
          System.err.println(s"[bench] WARNING: dropState failed: " +
            Option(t.getMessage).getOrElse(t.getClass.getName)
              .takeWhile(_ != '\n').take(200))
      }
    // Force FULL row materialization, not .count(): under count()
    // Catalyst prunes every computed column (and eliminates final
    // unique-key left joins), so a map-shaped query was timed as a bare
    // parquet scan while the DuckDB side of every head-to-head executes
    // the whole query. toRdd runs the query's own executed plan.
    def force(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.toRdd.count(); ()
    }

    // JIT/codegen warmup at the smallest SF: the first execution pays
    // one-time Janino compilation + HotSpot warmup a long-running cluster
    // never sees per query. Time-boxed to 20% of the budget so a degraded
    // host cannot spend the measurement window warming up.
    val warmupCap = budgetS * 0.2
    var warmStop = false
    val warmSec = mutable.HashMap.empty[String, Double]
    names.foreach { name =>
      if (!warmStop && elapsedS < warmupCap) {
        val w0 = System.nanoTime()
        try { force(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")) }
        catch { case _: Throwable => () }
        warmSec(name) = (System.nanoTime() - w0) / 1e9
        dropState()
      } else if (!warmStop) {
        warmStop = true
        System.err.println(f"[bench] warmup budget spent at $elapsedS%.0fs; skipping remaining warmups")
      }
    }
    // Epoch order is CHEAP-FIRST by measured warmup time (un-warmed
    // queries last, alphabetical within ties): when the budget guard
    // cuts an epoch short on a degraded host, the cut lands in the
    // expensive tail, so the partial epoch still times the maximum
    // number of queries. Round 12's driver run aborted epoch 1 at
    // query 57/166 of the ALPHABETICAL order — the 1052s it did spend
    // bought samples for barely a third of the suite.
    val epochOrder = names.sortBy(n => (warmSec.getOrElse(n, Double.MaxValue), n))

    // Median of up to 3 INTERLEAVED suite epochs: this host's load is
    // bursty (±50% run-to-run on identical code) and bad intervals last
    // many seconds — three back-to-back runs of one query all land in the
    // same polluted window, so interleaving decorrelates noise from query:
    // one bad epoch costs every query one sample, which the median drops.
    var aborted = false
    var e = 0
    while (e < 3 && !aborted) {
      e += 1
      epochOrder.foreach { name =>
        val prior = lock.synchronized(samples(name).toList)
        val bestPrior = prior.filter(_ >= 0) match {
          case Nil => Double.NaN; case vs => vs.min
        }
        // stop STARTING new work when the budget is tight: need room for
        // this query (estimated from its best prior sample when known,
        // else ~3× its sf0.001 warmup time) plus a small floor for
        // teardown + the final emit
        val need =
          if (!bestPrior.isNaN) bestPrior * 1.5 + 5.0
          else warmSec.get(name) match {
            case Some(w) => math.max(10.0, w * 3.0 + 5.0)
            case None => 10.0
          }
        val heavySkip = e == 3 && !bestPrior.isNaN && bestPrior >= heavyS
        if (aborted || heavySkip) {
          lock.synchronized { samples(name) += -2.0 }
          if (heavySkip) System.err.println(f"[bench] $name heavy (${bestPrior}%.1fs) — 2 samples")
        } else if (remaining < need) {
          aborted = true
          System.err.println(f"[bench] budget tight at $elapsedS%.0fs/$budgetS%.0fs — aborting epoch $e at $name")
          lock.synchronized { samples(name) += -2.0 }
        } else {
          val t0 = System.nanoTime()
          // A thrown query must never contribute its time-to-failure as a
          // timing sample (usually FASTER than the real query, silently
          // improving the median) — record -1 and keep it out of the median.
          val ok =
            try { force(SparkEntry.queries(name)(spark, sfDir)); true }
            catch { case t: Throwable =>
              // one line, truncated: a dying-SparkContext message embeds a
              // full multi-line stack that would displace the shutdown
              // hook's total line from the driver's merged tail window
              if (!shuttingDown) {
                val msg = Option(t.getMessage).getOrElse("")
                  .takeWhile(_ != '\n').take(200)
                System.err.println(
                  s"[bench] $name FAILED epoch $e: ${t.getClass.getSimpleName}: $msg")
              }
              false
            }
          val s = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          dropState()
          lock.synchronized { samples(name) += s }
        }
      }
      epochsDone = e
      // silence the teardown for the LAST epoch's emission (Spark's
      // stop/unpersist warnings would land after it in the merged tail);
      // same guard as the hook: a total of 0.000 from a budget spent
      // before the first measured query is worse than no total
      if (lock.synchronized(samples.values.exists(_.exists(_ >= 0)))) {
        if (e == 3 || aborted) quiet()
        emit(s"epoch-$e")
      }
    }
    emittedFinal = true
    spark.stop()
  }
}
