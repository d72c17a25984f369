package perfbench

import graft.Tables
import graft.cluster.Clustering
import graft.dedup.Dedup
import graft.eval.Metrics
import graft.pipeline.MultiTablePipeline
import graft.profile.{Profiler, ProfilerConfig}
import graft.rules.{RuleGenerator, ViolationScanner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layer probes of the traced run. Each calls one layer's public
  * functions under a span of that layer, outside the timed pass; the
  * pair-yield probe only counts rows. */
object Probes {
  def run(spark: SparkSession, tracer: Tracer, key: String, input: String,
      tables: Seq[String], calls: Seq[String], force: DataFrame => Long): Unit = {
    import tracer.span
    // tables: the scan and rebalance of every input the workload reads
    tables.foreach { t =>
      span(s"$key:tables:$t", "tables")(force(Tables.load(spark, input, t)))
    }
    if (calls.contains("mp1_multi_pipeline")) mp1Steps(spark, tracer, key, input, force)
  }

  /** Row counts of `Dedup`'s LSH candidate and pair functions on the
    * corpus, for `dedup.pair_yield`. No workload call runs these
    * functions, so their work is keyed apart from every layer. */
  def pairYield(spark: SparkSession, tracer: Tracer, key: String, input: String,
      force: DataFrame => Long, drop: () => Unit): Seq[(String, Double)] =
    tracer.keyed(key) {
      val docs = Tables.load(spark, input, "documents")
      val sh = Dedup.wordShingles(docs, "text", "doc_id", 3)
      val cands = force(Dedup.lshCandidatesFromShingles(sh, 16, 4))
      drop()
      val pairs = force(Dedup.minhashPairsFromShingles(sh, 16, 4, 0.8))
      drop()
      Seq("dedup.candidates" -> cands.toDouble, "dedup.pairs" -> pairs.toDouble)
    }

  /** `MultiTablePipeline.run`'s public steps on the mp1 inputs, one span
    * per step, then the scoring of the violations against the truth. */
  private def mp1Steps(spark: SparkSession, tracer: Tracer, key: String,
      input: String, force: DataFrame => Long): Unit = {
    import tracer.span
    val orders = Tables.load(spark, input, "orders")
    val cleanA = orders.filter(col("o_orderkey") % 2 === 0)
    val cleanB = orders.filter(col("o_orderkey") % 2 === 1)
    val dirtyA = cleanA
      .withColumn("o_orderstatus", when(col("o_orderkey") % 103 === 0, lit("ZZ"))
        .otherwise(col("o_orderstatus")))
      .withColumn("o_orderpriority", when(col("o_orderkey") % 97 === 0, lit("X" * 20))
        .otherwise(col("o_orderpriority")))
    val dirtyB = cleanB
      .withColumn("o_orderpriority", when(col("o_orderkey") % 89 === 0,
        lit(null).cast("string")).otherwise(col("o_orderpriority")))
      .withColumn("o_custkey", when(col("o_orderkey") % 101 === 0,
        lit(null).cast("long")).otherwise(col("o_custkey")))
    val dirty = Map("orders_a" -> dirtyA, "orders_b" -> dirtyB)
    val clean = Map("orders_a" -> cleanA, "orders_b" -> cleanB)
    val consumed = ("table" +: RuleGenerator.consumedProfileColumns) ++
      Clustering.defaultFeatures.filterNot(RuleGenerator.consumedProfileColumns.contains)
    val profRows = span(s"$key:mp1:profile", "profile")(
      Profiler.profileManyRows(clean.toSeq.sortBy(_._1),
        ProfilerConfig(exact = false, features = Set("mode", "pattern")),
        columns = consumed))
    val assign = span(s"$key:mp1:cluster", "cluster") {
      val pts = profRows.map { r =>
        (r.getAs[String]("table") + "::" + r.getAs[String]("column")) ->
          Clustering.featureVectorLocal(r)
      }
      Clustering.dbscan(Clustering.minMaxScaleLocal(pts), 0.5, 2)
    }
    val bound = span(s"$key:mp1:rules", "pipeline")(
      MultiTablePipeline.sharedClusterRulesLocal(profRows, assign))
    bound.groupBy(_.table).toSeq.sortBy(_._1).foreach { case (t, brs) =>
      val violations = ViolationScanner.scan(dirty(t), t, brs.map(_.rule).distinct,
        "o_orderkey").localCheckpoint(false)
      span(s"$key:mp1:scan:$t", "rules")(force(violations))
      span(s"$key:mp1:score:$t", "eval") {
        val actual = Metrics.actualErrorCells(dirty(t), clean(t), "o_orderkey")
        force(Metrics.score(violations.select("row_id", "column"), actual))
      }
    }
  }
}
