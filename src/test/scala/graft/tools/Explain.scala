package graft.tools
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { n =>
      println(s"===== $n =====")
      graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.01").explain("formatted")
    }
    spark.stop()
  }
}
