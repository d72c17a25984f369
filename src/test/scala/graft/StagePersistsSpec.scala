package graft

import graft.ops.{Overlap, StagePersists}
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{LongType, StructField, StructType}

class StagePersistsSpec extends SparkSpec {
  import spark.implicits._

  test("release() returns session persist state to baseline") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with many unusual trigrams here"),
      (4L, "zz")).toDF("doc_id", "text")

    // two operators that persist through the registry
    val fam = TextAnalysis.trigramFamiliarity(docs, "text", "doc_id")
    assert(fam.count() == 4)
    val pairs = graft.dedup.Dedup.minhashNearDuplicates(
      docs, "text", "doc_id", shingleSize = 3, numPerms = 8,
      rowsPerBand = 4, threshold = 0.5)
    assert(pairs.count() >= 1)

    assert(StagePersists.trackedCount(spark) >= 2,
      "operator persists were not registered")
    StagePersists.release(spark)
    assert(StagePersists.trackedCount(spark) == 0)
    // only non-registry state (the operator's localCheckpoint of a tiny
    // bucket frame) may remain persisted; the corpus-sized PLAIN stage
    // persists must all be gone
    val plainPersists = spark.sparkContext.getPersistentRDDs.values
      .count(!_.isCheckpointed)
    assert(plainPersists == 0,
      s"$plainPersists plain persists survived StagePersists.release")
    // released frames recompute correctly after release
    assert(fam.count() == 4)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("corpus pipeline stage persists are registered and releasable") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = StagePersists.trackedCount(spark)
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.CorpusQueries.corpusPipeline(spark, sf)
    assert(out.count() > 0)
    assert(StagePersists.trackedCount(spark) > before,
      "corpusPipeline stage boundaries were not registered")
    StagePersists.release(spark)
    assert(StagePersists.trackedCount(spark) == 0)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private def rddOf(df: DataFrame): Int =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.id
      case p => fail(s"not a checkpoint plan: ${p.getClass.getSimpleName}")
    }

  test("checkpoint of a driver-local frame runs no job and returns it") {
    val local = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L), Row(2L), Row(3L)),
      StructType(Seq(StructField("x", LongType))))
    var out: DataFrame = null
    assert(jobsOf { out = StagePersists.checkpoint(local) } == 0)
    assert(out eq local)
    // free on a frame checkpoint passed through is a no-op
    StagePersists.free(out)
    assert(out.count() == 3)
  }

  test("checkpoint of a distributed frame materializes it behind a LogicalRDD") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val lazyDf = spark.range(0, 100, 1, 4).toDF("x").filter("x % 3 = 0")
    var out: DataFrame = null
    assert(jobsOf { out = StagePersists.checkpoint(lazyDf) } >= 1)
    val id = rddOf(out)
    assert(spark.sparkContext.getPersistentRDDs.keySet == Set(id))
    assert(out.count() == 34)
    StagePersists.free(out)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("concurrent checkpoints each own their RDD: free releases only its own") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val a0 = spark.range(0, 1000, 1, 4).toDF("x").filter("x % 2 = 0")
    val b0 = spark.range(0, 1000, 1, 4).toDF("x").filter("x % 5 = 0")
    val (a, b) = Overlap.par2(
      () => StagePersists.checkpoint(a0), () => StagePersists.checkpoint(b0))
    val (ia, ib) = (rddOf(a), rddOf(b))
    assert(ia != ib)
    assert(spark.sparkContext.getPersistentRDDs.keySet == Set(ia, ib))
    StagePersists.free(a)
    assert(spark.sparkContext.getPersistentRDDs.keySet == Set(ib))
    assert(b.count() == 200)
    assert(b.agg(org.apache.spark.sql.functions.sum("x")).head().getLong(0) ==
      (0L until 1000L by 5L).sum)
    StagePersists.free(b)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("dropAll leaves no persisted RDD behind") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    StagePersists.track(docs.select("doc_id")).count()
    StagePersists.checkpoint(spark.range(0, 10, 1, 2).toDF("x")).count()
    spark.range(0, 10).toDF("x").cache().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    StagePersists.dropAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(StagePersists.trackedCount(spark) == 0)
  }
}
