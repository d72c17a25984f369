package graft.tools
/** Dev utility: run ONE SparkEntry query by name, print result head +
  * timing, optionally write parquet. Usage: QProbe <name> <sfDir> [out]. */
object QProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val cpus = graft.Meter.cpus
    val spark = graft.LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(name)(spark, dir)
    if (args.length > 2 && args(2) == "--explain") {
      df.explain("formatted")
    } else if (args.length > 2) {
      df.coalesce(1).write.mode("overwrite").parquet(s"${args(2)}/$name.parquet")
      // one-entry oracle_sql.json so tools/check_oracle.py works on the dir
      graft.SparkEntry.oracleSql.get(name).foreach { sql =>
        val q = sql.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\t", "\\t")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"${args(2)}/oracle_sql.json"),
          s"""{"$name": "$q", "$name.parquet": "$q"}""")
      }
    } else df.show(20, truncate = false)
    println(f"[$name] ${(System.nanoTime() - t0) / 1e9}%.1fs, rows=${df.count()}")
    spark.stop()
  }
}
