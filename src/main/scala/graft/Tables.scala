package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lake catalog access for the driver-generated testdata tables
  * (TESTDATA.md). Mirrors the reference's lake-directory discovery
  * (reference: profiling/profiler.py:42-63, main.py:79-99) re-expressed
  * as parquet reads: one table per file, schema carried by parquet.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A parquet file smaller than this reads as one (or few) splits; a
    * single row group is one task no matter how Spark splits the file.
    * Such inputs leave the whole map side of every downstream operator
    * on one core, so rebalance them across the cluster — the shuffle
    * moves less data than one row group, and at real scale (files with
    * many row groups) the rule never fires. Filters/pruning still reach
    * the scan: Catalyst pushes both through Repartition. */
  private val rebalanceBytes = 256L * 1024 * 1024

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.parquet(path)
    // data bytes, not the directory-entry size: a Spark-written table
    // is a DIRECTORY of part files, and a directory's own length is
    // the ~4 KB inode size — under the 64 KB floor, which silently
    // disabled the rebalance for every ScaleUp-shaped input and left
    // each downstream map side on one core (t21's quality scoring ran
    // 15s serial at sf1 vs ~1s rebalanced)
    // recurse: hive-partitioned layouts (split=.../lang=.../part-*)
    // keep their data files in SUBDIRECTORIES — a top-level-only sum
    // reads 0 and silently disables the rebalance again
    // sized through the path's Hadoop FileSystem, the one the read
    // uses: java.io.File reads 0 bytes for a file:/hdfs: URI
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataBytes(st: org.apache.hadoop.fs.FileStatus): Long =
      if (st.isDirectory)
        fs.listStatus(st.getPath)
          .filter(p => !p.getPath.getName.startsWith(".") &&
            !p.getPath.getName.startsWith("_"))
          .map(dataBytes).sum
      else st.getLen
    val size =
      try dataBytes(fs.getFileStatus(root))
      catch { case _: Throwable => Long.MaxValue }
    // floor: sub-64KB dimension tables are broadcast fodder; spreading
    // 25 rows over 32 tasks only adds scheduling overhead
    if (size > 64L * 1024 && size < rebalanceBytes)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /** `events` has shipped with two physical `ts` encodings across
    * testdata generations: nanosecond parquet timestamps (which Spark
    * reads as raw Long nanos under spark.sql.legacy.parquet.nanosAsLong
    * =true, set by every session in this project) and plain
    * microsecond timestamps (read as TIMESTAMP_NTZ). This loader
    * normalizes either to session-zone TimestampType (UTC sessions →
    * identical values either way). */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}
    val ev = load(spark, sfDir, "events")
    ev.schema("ts").dataType match {
      case LongType =>
        // nanos → micros must be EXACT integer division: epoch nanos
        // (~1.7e18) exceed double's 2^53, so a float divide would drift.
        // Decimal divide is exact at scale 6 (true quotient has 3
        // decimals), floor drops them, and the long cast is lossless.
        ev.withColumn("ts", timestamp_micros(
          floor(col("ts").cast(DecimalType(38, 0)) / lit(1000L))
            .cast(LongType)))
      case TimestampNTZType =>
        // session-zone reinterpretation; correct because every entry
        // point pins spark.sql.session.timeZone=UTC
        ev.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => ev
      case other =>
        // fail fast: a new testdata encoding must surface as an error,
        // not as silently-shifted or null timestamps
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — extend loadEvents for it")
    }
  }

  /** Guard for the synthetic dump constructions that offset planted ids
    * by +1e6/+2e6/+3e6: if the id space ever grows past the offset,
    * constructed ids collide with real ids IDENTICALLY on both engines
    * — the oracle keeps passing while the stage-bite contracts (Bloom
    * hits, keep-best eviction) silently stop being tested. Fail loudly
    * instead. One max() scan, control-plane sized. */
  def requireIdHeadroom(df: org.apache.spark.sql.DataFrame, idCol: String,
      offset: Long = 1000000L): Unit = {
    val row = df.agg(org.apache.spark.sql.functions
      .max(org.apache.spark.sql.functions.col(idCol))).head()
    val maxId = if (row.isNullAt(0)) -1L else row.getLong(0)
    require(maxId < offset,
      s"planted-id offset $offset assumes $idCol < $offset; got max=$maxId" +
        " — raise the offsets in BOTH the query construction and its oracle")
  }

  /** Register every table as a temp view so spark.sql(...) works too.
    * `events` goes through [[loadEvents]] so the SQL surface sees the
    * same normalized TimestampType ts as the DataFrame callers. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") loadEvents(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
