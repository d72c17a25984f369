package graft.tools

import org.apache.spark.sql.functions._

/** Documents-table ×N scale-up with DENSE ids (doc_id·N + copy) for
  * the planted-offset queries (l8/l10/d21/t41 require doc_id < 10⁶,
  * which [[ScaleUp]]'s copy·10⁸ key shift violates by design). Each
  * copy's text carries a copy-specific suffix so the scaled corpus
  * does not consist of N byte-identical copies of every document —
  * the RESULTS_SF1 d7 artifact where identical copies quadratically
  * blow up every pair machinery. Other tables are NOT written; point
  * the run at a directory holding the rest (or symlink them).
  *
  * Usage: ScaleDocs <srcDir> <outDir> [factor=10]
  */
object ScaleDocs {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = graft.Meter.cpus
    val spark = graft.LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val out = docs
      .crossJoin(spark.range(factor).select(col("id").as("__copy")))
      .select(docs.columns.map {
        case "doc_id" => (col("doc_id") * factor + col("__copy")).as("doc_id")
        case "text" =>
          concat(col("text"), lit(" copyvariant"), col("__copy")).as("text")
        case c => col(c)
      }.toSeq: _*)
    out.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"[scaledocs] wrote ${outDir}/documents.parquet x$factor")
    spark.stop()
  }
}
