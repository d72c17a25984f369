package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    writeOracleSql(outDir)
    // local-iteration subset (comma-separated names); the driver never
    // sets it, so its run always dumps the full suite
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.ops.StagePersists.dropAll(spark)
    }
    spark.stop()
  }

  /** oracle_sql.json is pure static content (SparkEntry.oracleSql) —
    * written FIRST, before any query runs, so a kill landing anywhere
    * in the dump loop still leaves the driver the SQL plus however
    * many parquet results completed: a PARTIAL correctness artifact
    * instead of the empty `{}` round 12 got when the window blew. */
  private def writeOracleSql(outDir: String): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // DuckDB inlines every CTE reference; on the composed-pipeline
    // oracles (a deep CTE chain where stages are referenced several
    // times) the copied-out plan tree sends the OPTIMIZER super-linear
    // — w13 planned for 140+ s against 5 s of actual execution, and on
    // a degraded host the round-12 compare phase blew the driver's
    // window entirely (CORRECTNESS_r12 = {}). `AS MATERIALIZED` is the
    // documented optimization barrier for exactly this; it cannot
    // change results. Applied at emission so SparkEntry.oracleSql
    // stays plain ANSI. The `name AS (` shape only occurs at CTE
    // definitions (aliases are `expr AS name`; inline windows are
    // `OVER (`) — except named-WINDOW declarations (`WINDOW w AS (`),
    // excluded by the lookbehind — so the rewrite is safe text-wide.
    def duckMaterialize(sql: String): String =
      sql.replaceAll("(?<!WINDOW )\\b([A-Za-z_][A-Za-z0-9_]*) AS \\(",
        "$1 AS MATERIALIZED (")
    // The driver iterates the parquet outputs it finds and looks up the
    // oracle SQL by the literal filename ("<name>.parquet") — round 1
    // keyed by bare name and every query came back no_oracle. Emit both
    // key forms so either lookup convention resolves.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => k -> duckMaterialize(v) }
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
