package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Counters one key (a call of one pass, a probe, a step) collects. */
final class Acc {
  var jobs = 0L; var stages = 0L; var stagesListed = 0L; var tasks = 0L
  var failedTasks = 0L; var taskMs = 0L; var cpuNs = 0L; var shuffleRead = 0L
  var shuffleWrite = 0L; var spill = 0L; var waitMs = 0L; var inputRows = 0L
  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"stages_listed":$stagesListed,"tasks":$tasks,""" +
    s""""failed_tasks":$failedTasks,"task_ms":$taskMs,"cpu_ns":$cpuNs,""" +
    s""""shuffle_read":$shuffleRead,"shuffle_write":$shuffleWrite,""" +
    s""""spill":$spill,"wait_ms":$waitMs,"input_rows":$inputRows}"""
}

/** Charges every job, stage and task to the key the submitting thread
  * carried (`perfbench.key`, inherited by threads the program spawns)
  * and, when `attribute` is on, to the module whose source file
  * submitted the job, read from the job's call site, or else from the
  * call site of the SQL execution the job belongs to (the stage jobs
  * adaptive execution submits from its own threads). */
final class Recorder(moduleOf: String => Option[String]) extends SparkListener {
  @volatile var attribute = false
  val KeyProp = "perfbench.key"
  // (key, module) → counters; module is "" when attribution is off
  val accs = new ConcurrentHashMap[(String, String), Acc]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]()
  /** (key, module, start ms, end ms) of every finished job. */
  val jobSpans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private val jobOpen = new ConcurrentHashMap[Int, (String, String, Long)]()
  // SQL execution id → its call site, "<action> at <File>.scala:<line>"
  private val executionSite = new ConcurrentHashMap[Long, String]()

  private def acc(o: (String, String)): Acc = accs.computeIfAbsent(o, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(KeyProp))).getOrElse("-")
    def moduleAt(site: String): Option[String] =
      moduleOf(site.split(" at ").lastOption.getOrElse("").split(":").head)
    val module =
      if (!attribute) ""
      else {
        // the result stage is the one this job created; its name is the
        // job's short call site
        val execution = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(executionSite.get(id.toLong)))
        moduleAt(e.stageInfos.maxBy(_.stageId).name)
          .orElse(execution.flatMap(moduleAt)).getOrElse("")
      }
    val o = (key, module)
    val a = acc(o)
    a.jobs += 1
    a.stagesListed += e.stageInfos.size
    e.stageInfos.foreach(s => stageOwner.putIfAbsent(s.stageId, o))
    if (attribute) jobOpen.put(e.jobId, (key, module, e.time))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if attribute =>
      executionSite.put(x.executionId, x.description)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (attribute) {
    Option(jobOpen.remove(e.jobId)).foreach { case (k, m, t0) =>
      jobSpans.synchronized { jobSpans += ((k, m, t0, e.time)) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach(o => acc(o).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { o =>
      val a = acc(o)
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failedTasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      a.taskMs += info.duration
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputRows += m.inputMetrics.recordsRead
        // scheduler delay as the Spark UI derives it, plus fetch wait
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime
        a.waitMs += math.max(0L, delay) + m.shuffleReadMetrics.fetchWaitTime
      }
    }
}

/** Runs one workload's call list in a closed loop and writes what it
  * measured as JSON. Arguments are `--name value` pairs:
  *   --calls   name,...         SparkEntry.queries names, in run order
  *   --input   dir              generated input tables
  *   --passes  n                measured passes (a fixed count, so every
  *                              run stops at the same point of JIT warm-up)
  *   --trace   0|1              module attribution on passes 2, 4, …,
  *                              then layer probes
  *   --tables  t1,...           input tables the calls read (traced scans)
  *   --src     dir              graft sources, mapped file → module
  *   --dump    dir              where each call's set-up output is written
  *   --out     file             result JSON
  *   --cores   n
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val calls = args("calls").split(",").toSeq
    val input = args("input")
    val passes = args("passes").toInt
    val trace = args("trace") == "1"
    val cores = args("cores")
    val tables = args.getOrElse("tables", "").split(",").toSeq.filter(_.nonEmpty)

    val moduleByFile: Map[String, String] = {
      val root = new java.io.File(args("src"))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".scala")).map { f =>
        val rel = root.toPath.relativize(f.toPath)
        val module =
          if (rel.getNameCount == 1)
            (if (f.getName == "Tables.scala") "tables" else "queries")
          else rel.getName(0).toString match {
            case "transfer" => "matching"
            case m => m
          }
        f.getName -> module
      }.toMap
    }

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val rec = new Recorder(moduleByFile.get)
    sc.addSparkListener(rec)

    def dropState(): Unit = {
      graft.ops.StagePersists.release(spark)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def force(df: DataFrame): Long = df.queryExecution.toRdd.count()
    def now: Long = System.currentTimeMillis()
    val tracer = new Tracer(sc, rec.KeyProp)
    import tracer.{keyed, span}
    def fn(name: String) = graft.SparkEntry.queries(name)
    val errors = mutable.ArrayBuffer.empty[(String, String)]
    val probeCounts = mutable.ArrayBuffer.empty[(String, Double)]

    def floorProbe(key: String): Double = keyed(key) {
      val t0 = System.nanoTime()
      force(spark.range(0, 1, 1, 1).toDF())
      (System.nanoTime() - t0) / 1e9
    }

    // ---- set-up: the session above, then one cold pass of the calls; it
    // pays the codegen warm-up. Each call runs the plan the measured
    // passes run (toRdd), and its rows (a few dozen) are kept for the
    // oracle check instead of counted.
    val setupRows = mutable.ArrayBuffer.empty[(String, Long)]
    val outputs = mutable.ArrayBuffer.empty[(String, StructType, Array[InternalRow])]
    calls.foreach { n =>
      try keyed("setup") {
        val df = fn(n)(spark, input)
        val rows = df.queryExecution.toRdd.map(_.copy()).collect()
        setupRows += n -> rows.length.toLong
        outputs += ((n, df.schema, rows))
      }
      catch { case t: Throwable => errors += (("setup:" + n) -> msg(t)) }
      dropState()
    }
    floorProbe("setup")
    BusDrain(sc)
    val setupS = (now - jvmStart) / 1e3

    // ---- after set-up, untimed: the set-up outputs, written for the
    // oracle check
    val dump = args("dump")
    outputs.foreach { case (n, schema, rows) =>
      try keyed("dump") {
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        val external = rows.toSeq.map(r => toRow(r).asInstanceOf[Row])
        spark.createDataFrame(external.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dump/$n.parquet")
      }
      catch { case t: Throwable => errors += (("dump:" + n) -> msg(t)) }
    }

    // ---- measured passes
    val passWall = mutable.ArrayBuffer.empty[Double]
    // (pass, call, wall s, rows forced; -1 when the call threw)
    val callWall = mutable.ArrayBuffer.empty[(Int, String, Double, Long)]
    val floorWall = mutable.ArrayBuffer.empty[Double]
    val materialized = mutable.ArrayBuffer.empty[Long]
    for (pass <- 1 to passes) {
      BusDrain(sc)
      val traced = trace && pass % 2 == 0
      rec.attribute = traced
      var stored = 0L
      (1 to 3).foreach(i => floorWall += floorProbe(s"floor:$pass:$i"))
      val p0 = System.nanoTime()
      calls.foreach { n =>
        val c0 = System.nanoTime()
        val rows =
          try span(s"$pass:$n", "queries")(force(fn(n)(spark, input)))
          catch { case t: Throwable => errors += (s"$pass:$n" -> msg(t)); -1L }
        val s = (System.nanoTime() - c0) / 1e9
        callWall += ((pass, n, s, rows))
        if (traced) stored += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        System.err.println(f"[perfbench] pass $pass $n $s%.3fs")
        dropState()
      }
      passWall += (System.nanoTime() - p0) / 1e9
      materialized += stored
    }
    // layer probes, charged to the traced passes, after the timed ones
    for (p <- 2 to passes by 2 if trace) {
      BusDrain(sc)
      rec.attribute = true
      try Probes.run(spark, tracer, s"probe:$p", input, tables, calls, force)
      catch { case t: Throwable => errors += (s"probe:$p" -> msg(t)) }
      dropState()
    }
    // row counts only: the key "yield" is charged to no pass and no layer
    if (trace && calls.exists(_.startsWith("d"))) {
      try probeCounts ++= Probes.pairYield(spark, tracer, "yield", input, force,
        () => dropState())
      catch { case t: Throwable => errors += ("yield" -> msg(t)) }
    }
    BusDrain(sc)

    val peakRssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val accJson = rec.accs.asScala.toSeq.sortBy(_._1).map { case ((k, m), a) =>
      s"""{"key":${q(k)},"module":${q(m)},"acc":${a.json}}"""
    }.mkString("[", ",\n", "]")
    val spanJson = (tracer.spans.map { case (k, l, s, e) => (k, l, s, e, "span") } ++
        rec.jobSpans.map { case (k, m, s, e) => (k, m, s, e, "job") })
      .map { case (k, l, s, e, kind) =>
        s"""{"key":${q(k)},"layer":${q(l)},"start":$s,"end":$e,"kind":"$kind"}"""
      }.mkString("[", ",\n", "]")
    val out =
      s"""{"setup_s":$setupS,"session_s":$sessionS,"peak_rss_kb":$peakRssKb,"passes":$passes,""" +
      s""""pass_s":${passWall.mkString("[", ",", "]")},""" +
      s""""materialized_bytes":${materialized.mkString("[", ",", "]")},""" +
      s""""oracle_sql":${calls.flatMap { n => graft.SparkEntry.oracleSql.get(n)
        .map(s => s"${q(n)}:${q(s)}") }.mkString("{", ",", "}")},""" +
      s""""floor_s":${floorWall.mkString("[", ",", "]")},""" +
      s""""setup_rows":${setupRows.map { case (n, r) => s"${q(n)}:$r" }.mkString("{", ",", "}")},""" +
      s""""calls":${callWall.map { case (p, n, s, r) =>
        s"""{"pass":$p,"name":${q(n)},"s":$s,"rows":$r}""" }.mkString("[", ",\n", "]")},""" +
      s""""probe_counts":${probeCounts.map { case (k, v) => s"[${q(k)},$v]" }.mkString("[", ",", "]")},""" +
      s""""errors":${errors.map { case (k, m) => s"[${q(k)},${q(m)}]" }.mkString("[", ",", "]")},""" +
      s""""accs":$accJson,"spans":$spanJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), out)
    spark.stop()
  }

  private def msg(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse(""))
      .takeWhile(_ != '\n').take(300)
}

/** Spans (key, layer, start ms, end ms) kept in memory; the key also
  * travels with every job the body submits. */
final class Tracer(sc: org.apache.spark.SparkContext, prop: String) {
  val spans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  def keyed[A](key: String)(body: => A): A = {
    val outer = sc.getLocalProperty(prop)
    sc.setLocalProperty(prop, key)
    try body finally sc.setLocalProperty(prop, outer)
  }
  def span[A](key: String, layer: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    try keyed(key)(body)
    finally spans += ((key, layer, t0, System.currentTimeMillis()))
  }
}

