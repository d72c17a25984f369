package graft

import graft.pipeline.MultiTablePipeline
import org.apache.spark.sql.functions._

/** End-to-end multi-table pipeline spec (reference main.py --mode
  * multi): split one table into halves, cluster columns across the
  * halves, derive shared rules, and detect planted violations. */
class MultiPipelineSpec extends SparkSpec {

  /** Jobs of one [[runOnLake]] plus its collect. */
  private val MaxJobs = 11

  /** The pipeline over the split-table lake: orders halves, with an
    * error planted in half 2 — a totalprice far outside any IQR hull. */
  private def runOnLake(orders: org.apache.spark.sql.DataFrame) = {
    val half1 = orders.filter(col("o_orderkey") % 2 === 0)
    val half2 = orders.filter(col("o_orderkey") % 2 === 1)
      .withColumn("o_totalprice",
        when(col("o_orderkey") === 1, -9.0e9).otherwise(col("o_totalprice")))
    MultiTablePipeline.run(spark,
      Map("orders_a" -> half1, "orders_b" -> half2),
      Map("orders_a" -> "o_orderkey", "orders_b" -> "o_orderkey"),
      eps = 0.5, minPts = 2)
  }

  test("split-table lake: shared rules detect planted errors") {
    val violations = runOnLake(Tables.load(spark, sf, "orders"))
    assert(!violations.isEmpty)
    // the planted extreme value must be flagged by the shared range rule
    val planted = violations.filter(
      col("table") === "orders_b" && col("row_id") === 1 &&
        col("column") === "o_totalprice")
    assert(planted.count() >= 1)
    // the clean half produces no spurious violations from shared rules
    val tables = violations.select("table").distinct().collect()
      .map(_.getString(0)).toSet
    assert(tables === Set("orders_b"))
  }

  test("the pipeline runs in a fixed number of Spark jobs") {
    // profile = one histogram shuffle and one fold (+ the quartiles
    // branch); scan = one predicate pass and one semi-join for all
    // unique rules per table. A reintroduced feature-branch join or a
    // per-rule rescan raises the count above the bound.
    val orders = Tables.load(spark, sf, "orders")
    val jobs = jobsOf(runOnLake(orders).collect())
    assert(jobs <= MaxJobs, s"$jobs jobs, bound $MaxJobs")
  }

  test("shared rules only emerge from multi-member clusters") {
    val rows = graft.profile.Profiler.profileAuto(
      Tables.load(spark, sf, "nation"), "nation",
      features = Set("quartiles", "mode", "pattern")).collect().toSeq
    // every column its own singleton cluster → no shared rules
    val singletons = rows.zipWithIndex
      .map { case (r, i) => graft.cluster.Clustering.columnId(r) -> i }.toMap
    assert(singletons.size === rows.size)
    assert(MultiTablePipeline.sharedClusterRulesLocal(rows, singletons).isEmpty)
    // the same rows in one cluster do share rules, so the empty result
    // above comes from the singletons, not from the profile
    val together = singletons.view.mapValues(_ => 0).toMap
    assert(MultiTablePipeline.sharedClusterRulesLocal(rows, together).nonEmpty)
  }
}
