package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic ×N scale-up of a testdata directory for scale rehearsals
  * (TESTDATA.md ships sf ≤ 0.1; the sketch/approx branches only engage on
  * bigger inputs). Fact tables are unioned as N key-shifted copies via an
  * exploded copy index — one distributed pass, no driver loop; join keys
  * shift consistently across tables so join selectivity is preserved.
  * Dimension tables (region, nation) pass through unscaled, TPC-H style.
  *
  * Usage: ScaleUp <srcDir> <outDir> [factor=10]
  */
object ScaleUp {
  // larger than any key at sf0.1 (max is l_orderkey ≈ 6e5) by a wide margin,
  // and 10 copies stay far below Long overflow
  private val Off = 100000000L

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = graft.Meter.cpus
    val spark = graft.LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def src(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")

    /** N copies of df with each named Long key shifted by copy*Off.
      * REFUSES source keys ≥ Off: re-scaling an already-scaled dir
      * (e.g. sf1 → ×10) collides copy-0 keys with the source's shifted
      * keys, and the duplicate ids silently violate the one-row-per-id
      * contract of every dedup operator downstream (surfaced as a 2×
      * inflated `common` → ANSI DIVIDE_BY_ZERO in d7 at sf10). Scale
      * from the ORIGINAL testdata with a bigger factor instead. */
    def scaled(df: DataFrame, keys: String*): DataFrame = {
      // ONE scan for all key maxima; empty source → null maxima → pass
      val maxRow = df.agg(max(col(keys.head)),
        keys.tail.map(k => max(col(k))): _*).head()
      keys.zipWithIndex.foreach { case (k, i) =>
        if (!maxRow.isNullAt(i)) {
          val mx = maxRow.getLong(i)
          require(mx < Off,
            s"$k max $mx >= offset $Off: source is already scaled; " +
              "rerun from the original dir with a larger factor")
        }
      }
      // divide, don't multiply: the product form overflows Long INSIDE
      // the guard for large factors and can wrap past the check
      require(factor.toLong <= (Long.MaxValue / 2) / Off, s"factor $factor too large")
      val exploded = df.withColumn("__copy", explode(sequence(lit(0L), lit(factor - 1L))))
      keys.foldLeft(exploded) { (d, k) =>
        d.withColumn(k, col(k) + col("__copy") * Off)
      }.drop("__copy")
    }

    def write(name: String, df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(f"[scaleup] $name in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    write("region", src("region"))
    write("nation", src("nation"))
    write("customer", scaled(src("customer"), "c_custkey"))
    write("supplier", scaled(src("supplier"), "s_suppkey"))
    write("part", scaled(src("part"), "p_partkey"))
    write("orders", scaled(src("orders"), "o_orderkey", "o_custkey"))
    write("lineitem", scaled(src("lineitem"), "l_orderkey", "l_partkey", "l_suppkey"))
    write("events", scaled(src("events"), "event_id", "user_id"))
    write("documents", scaled(src("documents"), "doc_id"))
    write("embeddings", scaled(src("embeddings"), "vec_id"))
    spark.stop()
  }
}
