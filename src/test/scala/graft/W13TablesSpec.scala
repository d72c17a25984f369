package graft

import graft.queries.StreamQueries
import graft.text.{Importance, LanguageModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** w13's trained control tables: the one-gram-pass DSIR weights and
  * LM arrays equal the two-model trainers they replace, the sampling
  * thresholds equal Spark's own √(n_min/n), and the batch twin runs
  * in a bounded number of Spark jobs. */
class W13TablesSpec extends SparkSpec {

  /** Jobs of one streamCorpusPipeline plus its collect on the sf0.001
    * corpus. With separate DSIR and LM trainers, four per-band probe
    * broadcasts and crossJoin-checkpointed thresholds the same call
    * took 35 (37 per call in the benchmark's curation workload). */
  private val MaxJobs = 17

  /** The dense tables the separate trainers build: DSIR over raw =
    * `docs`, target = its `en` rows, and the hashed LM over the `en`
    * rows. */
  private def reference(docs: DataFrame)
      : (Seq[Long], (Seq[Long], Seq[Long])) = {
    val en = docs.filter(col("lang") === "en")
    val weights = Importance.denseWeights(
      Importance.hashedWeights(docs, en, "text", "doc_id",
        n = 2, buckets = 4096), buckets = 4096)
    val (c2, c1) = LanguageModel.hashedCounts(en, "text",
      StreamQueries.LmB2, StreamQueries.LmB1)
    (weights, LanguageModel.denseCounts(c2, c1,
      StreamQueries.LmB2, StreamQueries.LmB1))
  }

  private def assertSameTables(docs: DataFrame): (Seq[Long], (Seq[Long], Seq[Long])) = {
    val (dense, (d2, d1)) = StreamQueries.w13Tables(docs)
    val (refDense, (ref2, ref1)) = reference(docs)
    assert(dense.size === 4096 && d2.size === StreamQueries.LmB2 &&
      d1.size === StreamQueries.LmB1)
    assert(dense === refDense)
    assert(d2 === ref2)
    assert(d1 === ref1)
    (dense, (d2, d1))
  }

  test("one gram pass = hashedWeights+denseWeights and hashedCounts+denseCounts") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "lang", "text")
    val (dense, (d2, d1)) = assertSameTables(docs)
    assert(dense.exists(_ > 0) && dense.exists(_ < 0))
    assert(d2.sum > 0 && d2.sum === d1.sum)
  }

  test("one gram pass without en rows: zero target, zero weights, empty LM") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text").filter(col("lang") =!= "en")
    assert(docs.count() > 0)
    val (dense, (d2, d1)) = assertSameTables(docs)
    assert(dense.forall(_ == 0L) && d2.forall(_ == 0L) && d1.forall(_ == 0L))
  }

  test("one gram pass over documents with fewer than 2 tokens") {
    import spark.implicits._
    val docs = Seq[(Long, String, String)](
      (1L, "en", ""), (2L, "en", "one"), (3L, "de", "solo!"),
      (4L, "en", null), (5L, null, "  ...  "), (6L, "en", "two words"),
      (7L, "fr", "x y z"), (8L, null, "null lang twice twice"))
      .toDF("doc_id", "lang", "text")
    val (_, (d2, d1)) = assertSameTables(docs)
    assert(d2.sum === 1L && d1.sum === 1L)
    // only short documents: no grams at all
    val (dense0, (e2, e1)) = assertSameTables(docs.filter(col("doc_id") <= 5L))
    assert(dense0.forall(_ == 0L) && e2.forall(_ == 0L) && e1.forall(_ == 0L))
  }

  test("sampling thresholds equal Spark's sqrt(n_min/n); no survivors, no probs") {
    import spark.implicits._
    val gated = Seq("en", "en", "en", "de", "fr", "fr", null).toDF("lang")
    val probs = StreamQueries.samplingProbs(gated, "lang")
      .as[(String, Double)].collect().toSet
    val counts = gated.groupBy("lang").agg(count(lit(1)).as("__n"))
    val expected = counts.crossJoin(counts.agg(min("__n").as("__nmin")))
      .select(col("lang"),
        sqrt(col("__nmin").cast("double") / col("__n").cast("double")))
      .as[(String, Double)].collect().toSet
    assert(probs === expected)
    assert(probs.size === 4)
    assert(StreamQueries.samplingProbs(gated.filter(lit(false)), "lang")
      .isEmpty)
  }

  test("w13's batch twin runs in a fixed number of Spark jobs") {
    // one gram pass for the DSIR and LM tables, one probe broadcast
    // reused by the four band joins, one collect for the thresholds;
    // a reintroduced per-model trainer or per-band broadcast raises
    // the count above the bound
    val jobs = jobsOf(StreamQueries.streamCorpusPipeline(spark, sf).collect())
    assert(jobs <= MaxJobs, s"$jobs jobs, bound $MaxJobs")
  }
}
