package graft

/** Optimization-round measurement harness (spark_optimization_guide §1):
  * times individual queries with the same forced materialization the
  * bench uses (queryExecution.toRdd.count — every column of every row,
  * no sink cost), and/or dumps .explain("formatted") for plan-diff
  * evidence (plans/r13/). Not part of the driver contract; Bench.scala
  * remains the driver's timing surface.
  *
  * Usage: Meter <sfDir> <reps> <planDir|-> [q1,q2,...]
  *   reps = 0 with a planDir dumps plans only.
  */
object Meter {
  /** Local cores for the measurement tools: `SPARK_GRAFT_CPUS` when
    * set, else the cores this JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val planDir = args(2)
    val only = if (args.length > 3)
      args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
    else Set.empty[String]
    // measurement-harness override (NOT the bench contract — Bench.scala
    // is the driver's timing surface and always runs local[$cpus]):
    // SPARK_GRAFT_METER_MASTER=local-cluster[4,8,8192] launches real
    // separate executor JVMs, the experiment that separates shared-JVM
    // contention from engine scaling (see RESULTS_SF1 r14 addendum)
    val master = sys.env.getOrElse("SPARK_GRAFT_METER_MASTER",
      s"local[$cpus]")
    val spark = LocalSession.builder(cpus, master)
      .config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_METER_EXEC_MEM", "4g"))
      .config("spark.executor.extraClassPath",
        sys.env.getOrElse("SPARK_GRAFT_METER_EXEC_CP",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    def drop(): Unit = graft.ops.StagePersists.dropAll(spark)
    // empirical breakdown (guide §1.1): jobs/stages/tasks + task time +
    // shuffle bytes per query run, so scheduling floor (many jobs, tiny
    // task time) separates from real compute at a glance
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val shufR = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          val m = t.taskMetrics
          if (m != null) {
            taskMs.addAndGet(m.executorRunTime)
            gcMs.addAndGet(m.jvmGCTime)
            cpuNs.addAndGet(m.executorCpuTime)
            shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        }
      })
    // whole-stage codegen: classes compiled (cache misses, driver and
    // executor threads alike) and their compile time in ns — JVM-wide
    // counters, read as deltas around each run
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def compileNs(): Long =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    def snap(): (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, taskMs.get, shufR.get, shufW.get,
        gcMs.get, cpuNs.get, compiles(), compileNs())
    names.foreach { name =>
      if (planDir != "-") {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        new java.io.File(planDir).mkdirs()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$planDir/$name.txt"),
          plan.getBytes("UTF-8"))
        drop()
      }
      var best = Double.MaxValue
      (1 to reps).foreach { r =>
        spark.sparkContext.setJobDescription(s"$name rep $r")
        val b0 = snap()
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
          val s = (System.nanoTime() - t0) / 1e9
          val b1 = snap()
          println(f"[meter] $name rep$r $s%.2f s " +
            f"jobs=${b1._1 - b0._1} stages=${b1._2 - b0._2} " +
            f"tasks=${b1._3 - b0._3} taskSec=${(b1._4 - b0._4) / 1e3}%.1f " +
            f"shufMB=${(b1._5 - b0._5 + b1._6 - b0._6) / 1e6}%.1f " +
            f"gcSec=${(b1._7 - b0._7) / 1e3}%.1f " +
            f"cpuSec=${(b1._8 - b0._8) / 1e9}%.1f " +
            f"compiles=${b1._9 - b0._9} " +
            f"compileSec=${(b1._10 - b0._10) / 1e9}%.2f")
          best = math.min(best, s)
        } catch { case t: Throwable =>
          println(s"[meter] $name rep$r FAILED: ${t.getClass.getSimpleName}: " +
            Option(t.getMessage).getOrElse("").takeWhile(_ != '\n').take(200))
        }
        drop()
      }
      if (reps > 0 && best < Double.MaxValue)
        println(f"[meter] $name BEST $best%.2f s")
    }
    spark.stop()
  }
}
