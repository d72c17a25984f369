package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale primitives the 100 TB deployment leans on (north-star
  * mandate): skew-safe aggregation via salting, and co-located joins
  * via bucketing. Both preserve exact semantics — specs assert
  * equality with the naive plans.
  */
object Scale {

  /** Two-phase salted count for skewed keys: phase 1 aggregates
    * (key, salt) — spreading one hot key over `salts` reducers —
    * phase 2 merges the partials per key. Identical result to
    * groupBy(key).count(); the second shuffle carries only
    * #keys × salts pre-aggregated rows.
    *
    * Spark's map-side partial aggregation already absorbs most skew
    * for algebraic aggregates; salting matters when the DISTINCT
    * combination space under one hot key is itself huge (e.g.
    * collect_set-like states) or when AQE skew handling is off. */
  def saltedCount(df: DataFrame, keyCol: String, salts: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() +
        monotonically_increasing_id(), lit(salts.toLong)))
      .groupBy(col(s"`$keyCol`"), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(s"`$keyCol`"))
      .agg(sum("__partial").as("cnt"))

  /** Exact per-group top-k without buffering a whole group in one
    * task: a single `row_number().over(partitionBy(group))` window
    * puts each group in ONE task, so a hot group (a dominant language,
    * a high-vocabulary column) becomes an unsplittable straggler.
    * Phase 1 ranks within `salts` hash buckets of `saltOn` (parallel,
    * each ~group/salts); the global top-k is a subset of the
    * per-bucket top-ks (any of the true top-k rows outranks its
    * bucket-mates), so phase 2's exact window sees at most salts·k
    * rows per group. Emits the top-k rows per group with a 1-based
    * `rankCol`; `orderCols` must be a total order (tie-broken) for a
    * deterministic result. */
  def saltedTopK(df: DataFrame, partCols: Seq[Column], orderCols: Seq[Column],
      k: Int, saltOn: Column, rankCol: String, salts: Int = 32): DataFrame = {
    val saltWin = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols :+ col("__salt"): _*).orderBy(orderCols: _*)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols: _*).orderBy(orderCols: _*)
    df.withColumn("__salt", pmod(xxhash64(saltOn), lit(salts)))
      .withColumn("__prk", row_number().over(saltWin))
      .filter(col("__prk") <= k)
      .withColumn(rankCol, row_number().over(win))
      .filter(col(rankCol) <= k)
      .drop("__salt", "__prk")
  }

  /** Write both sides of a repeated equi-join bucketed on the join key:
    * subsequent joins of the saved tables are exchange-free (each
    * bucket pair joins in place — the plan shows no ShuffleExchange on
    * either side). The standard co-location strategy for a join that
    * runs every day at 100 TB. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Join two bucketed tables saved by [[writeBucketed]] on their
    * bucket key. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Distributed prefix sums in `orderCol` order — the scale-safe form
    * of `sum(c).over(Window.orderBy(orderCol))`, which would pull every
    * row into one task. Range-partition by the order column, run the
    * cumulative sums per partition in parallel windows keyed by the
    * physical partition id, and add each partition's offset (collected
    * per-partition totals — an O(#partitions) control-plane frame —
    * broadcast back).
    *
    * Returns the frame with `__cum_<c>` (INCLUSIVE running sum) per
    * requested column and, when `withNext`, `__next` (the following
    * row's order value — per-partition lead with the boundary handed
    * off from the next partition's first value), plus the grand total
    * per column. The input should be one row per order value (group
    * first); the returned frame is persisted (two consumers minimum:
    * the stats pass already ran, the caller's pass follows). */
  def prefixSums(df: DataFrame, orderCol: String, sumCols: Seq[String],
      withNext: Boolean = false): (DataFrame, Map[String, Long]) = {
    sumCols.foreach { c =>
      val dt = df.schema(s"$c").dataType
      require(dt == org.apache.spark.sql.types.LongType,
        s"prefixSums accumulates in Long; column $c is $dt — cast first")
    }
    // An eager checkpoint, not persist: repartitionByRange samples its
    // boundaries, so a lineage replay (lost block after executor
    // failure) could land rows in DIFFERENT partitions than the ones
    // whose offsets were collected below — silently corrupting every
    // cumulative sum. The checkpoint freezes the __pid→rows mapping,
    // and its blocks are released when the frame is GC'd instead of
    // pinning the cache for the session lifetime (the old persist
    // handle was dropped on return and could never be unpersisted).
    //
    // The partition count is pinned EXPLICITLY: a bare
    // repartitionByRange(col) is REPARTITION_BY_COL, which AQE may
    // coalesce to ONE post-shuffle partition on a small-byte-estimate
    // frame — serializing the caller's entire upstream compute (t21's
    // per-document quality regexes ran 17s in one task at sf1 vs ~1s
    // parallel; row-count small, per-row cost large). With an explicit
    // count AQE leaves the layout alone, and the cost of a few
    // near-empty partitions on tiny inputs is nil.
    val ranged = StagePersists.checkpoint(df
      .repartitionByRange(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        col(s"`$orderCol`"))
      .sortWithinPartitions(orderCol)
      .withColumn("__pid", spark_partition_id()))
    val aggs = sumCols.map(c => sum(col(s"`$c`")).as(s"__p_$c")) :+
      min(col(s"`$orderCol`")).as("__first")
    val pidStats = ranged.groupBy("__pid").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getInt(0), sumCols.map(c => r.getAs[Long](s"__p_$c")),
        r.get(r.fieldIndex("__first"))))
      .sortBy(_._1)
    val offs = Array.fill(sumCols.size)(0L)
    val offsetRows = pidStats.zipWithIndex.map { case ((pid, ps, _), i) =>
      val row = org.apache.spark.sql.Row.fromSeq(
        pid +: offs.toSeq :+
          (if (i + 1 < pidStats.length) pidStats(i + 1)._3 else null))
      ps.zipWithIndex.foreach { case (p, j) => offs(j) += p }
      row
    }
    val totals = sumCols.zip(offs).toMap
    val spark = df.sparkSession
    val orderType = df.schema(orderCol).dataType
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
      sumCols.map(c => org.apache.spark.sql.types.StructField(s"__off_$c",
        org.apache.spark.sql.types.LongType, nullable = false)) :+
      org.apache.spark.sql.types.StructField("__nextfirst", orderType))
    val offsets = spark.createDataFrame(
      java.util.Arrays.asList(offsetRows: _*), offSchema)

    val pidWin = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(orderCol)
    val cumWin = pidWin.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    var out = ranged.join(broadcast(offsets), Seq("__pid"))
    sumCols.foreach { c =>
      out = out.withColumn(s"__cum_$c",
        sum(col(s"`$c`")).over(cumWin) + col(s"__off_$c"))
    }
    if (withNext)
      out = out.withColumn("__next",
        coalesce(lead(col(s"`$orderCol`"), 1).over(pidWin), col("__nextfirst")))
    (out.drop("__pid" +: "__nextfirst" +: sumCols.map(c => s"__off_$c"): _*),
      totals)
  }
}
