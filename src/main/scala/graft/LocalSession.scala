package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of this repository's entry points (Bench,
  * Verify, Meter, the test suites and tools): `cores` shuffle
  * partitions, UTC session time, parquet nanosecond timestamps read as
  * longs, no UI. Each caller picks its master and core count, adds
  * its own confs, then calls `getOrCreate()`; between queries it drops
  * the session's state with [[graft.ops.StagePersists.dropAll]]. */
object LocalSession {

  def builder(cores: String, master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** [[builder]] on `local[cores]`. */
  def builder(cores: String): SparkSession.Builder =
    builder(cores, s"local[$cores]")
}
