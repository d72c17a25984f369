package graft.tools

/** Per-stage breakdown of one declared query: stage id, task-seconds,
  * tasks, shuffle bytes, and the stage's callsite (operator hint) —
  * the guide §1.1 "which stage is the time going to" loop without the
  * UI. Usage: StageProbe <name> <sfDir> [reps]. */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = graft.Meter.cpus
    val spark = graft.LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0w = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          val m = i.taskMetrics
          val sub = i.submissionTime.getOrElse(0L)
          val done = i.completionTime.getOrElse(0L)
          rows.add(f"stage=${i.stageId}%4d wall=${(done - sub) / 1e3}%6.2f " +
            f"taskSec=${m.executorRunTime / 1e3}%7.1f tasks=${i.numTasks}%4d " +
            f"shufMB=${(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten) / 1e6}%7.1f " +
            s"site=${i.details.linesIterator.take(1).mkString} :: ${i.name.take(80)}")
        }
      })
    (1 to reps).foreach { r =>
      rows.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      println(f"[probe] $name rep$r total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (r == reps) rows.forEach(s => println("  " + s))
      graft.ops.StagePersists.dropAll(spark)
    }
    spark.stop()
  }
}
