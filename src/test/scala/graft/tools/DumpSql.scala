package graft.tools

/** Prints oracle SQL strings. With names, prints each one's SQL; with
  * no arguments, prints every `SparkEntry.oracleSql` entry in sorted
  * name order, each behind a `-- <name>` line, so two builds' full
  * dumps can be diffed. Run: `tools/run.sh graft.tools.DumpSql [name…]`. */
object DumpSql {
  def main(args: Array[String]): Unit = {
    // UTF-8 explicitly: the JVM's default stdout charset can be ASCII
    // under redirection, which silently turns accented regex ranges
    // into '?' in the dumped SQL
    val out = new java.io.PrintStream(System.out, true, "UTF-8")
    val sql = graft.SparkEntry.oracleSql
    if (args.isEmpty)
      sql.keys.toSeq.sorted.foreach { n =>
        out.println(s"-- $n")
        out.println(sql(n))
      }
    else args.foreach(n => out.println(sql(n)))
  }
}
