package graft

import graft.cluster.{CharNgramEmbedder, Clustering, StrategyPredictor, TwoStage}
import graft.profile.{HeuristicTyper, Profiler, SemanticTyping}
import org.apache.spark.sql.functions._

/** Specs for NMI (M11), two-stage clustering (M5/M6), semantic typing
  * (M8/M9) and GBT strategy prediction (M10). */
class ClusterExtrasSpec extends SparkSpec {

  test("NMI: identical, permuted, and independent assignments") {
    val a = Map("x" -> 0, "y" -> 0, "z" -> 1, "w" -> 1)
    // same partition under different labels → NMI 1
    val b = Map("x" -> 5, "y" -> 5, "z" -> 9, "w" -> 9)
    assert(math.abs(Clustering.normalizedMutualInfo(a, b) - 1.0) < 1e-9)
    assert(math.abs(Clustering.normalizedMutualInfo(a, a) - 1.0) < 1e-9)
    // one big cluster vs the split → MI 0
    val c = Map("x" -> 0, "y" -> 0, "z" -> 0, "w" -> 0)
    assert(Clustering.normalizedMutualInfo(a, c) === 0.0)
  }

  test("ARI and NMI of a split cluster match the sklearn definitions") {
    // [0,0,1,1] vs [0,0,1,2]: sklearn's adjusted_rand_score = 4/7 and
    // normalized_mutual_info_score (arithmetic mean) = 0.8
    val a = Map("p" -> 0, "q" -> 0, "r" -> 1, "s" -> 1)
    val b = Map("p" -> 0, "q" -> 0, "r" -> 1, "s" -> 2)
    assert(math.abs(Clustering.adjustedRandIndex(a, b) - 4.0 / 7) < 1e-12)
    assert(math.abs(Clustering.normalizedMutualInfo(a, b) - 0.8) < 1e-12)
    // ids only one side assigns are left out of the contingency table
    assert(Clustering.adjustedRandIndex(a, b + ("extra" -> 7)) ===
      Clustering.adjustedRandIndex(a, b))
  }

  test("the driver-side clustering steps start no Spark job") {
    val rows = Profiler.profileManyAutoRows(
      Seq("customer", "supplier", "nation").map(t => t -> Tables.load(spark, sf, t)),
      features = Set("mode", "pattern"),
      columns = "table" +: "column" +: Clustering.defaultFeatures)
    val protos = Map(
      "is_unique" -> Array.tabulate(Clustering.defaultFeatures.size)(i =>
        if (i == 1) 1.0 else 0.0),
      "is_nullable" -> Array.tabulate(Clustering.defaultFeatures.size)(i =>
        if (i == 0) 1.0 else 0.0))
    var pts: Seq[(String, Array[Double])] = Nil
    val jobs = jobsOf {
      pts = Clustering.vectorize(rows)
      val db = Clustering.dbscan(pts, eps = 0.5, minPts = 2)
      val km = Clustering.kmeansLocalPoints(pts, k = 4).toMap
      Clustering.ruleCentricAssign(pts, protos)
      Clustering.clusterOutlierColumns(pts, km)
      Clustering.mergeSuggestions(pts, km)
      Clustering.adjustedRandIndex(db, km)
      Clustering.normalizedMutualInfo(db, km)
      Clustering.pairingAccuracy(km)
    }
    assert(jobs === 0)
    assert(pts.map(_._1) === pts.map(_._1).sorted)
    assert(pts.size === rows.size)
  }

  test("char-ngram embedder: similar names closer than dissimilar") {
    val e = new CharNgramEmbedder()
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val simNear = cos(e.embed("customer_2019"), e.embed("customer_2020"))
    val simFar = cos(e.embed("customer_2019"), e.embed("supplier"))
    assert(simNear > simFar)
    assert(simNear > 0.5)
  }

  test("two-stage clustering groups split tables and clusters columns") {
    val need = Set("mode", "pattern")
    val rows = Profiler.profileManyAutoRows(Seq("customer", "supplier", "nation")
      .map(t => t -> Tables.load(spark, sf, t)), features = need)
    val out = TwoStage.cluster(rows)
    assert(out.length === rows.size)
    // every column got a table group; ids are "table::column"
    val groups = out.map(r => r._1.split("::")(0) -> r._2).toMap
    assert(groups.keySet === Set("customer", "supplier", "nation"))
  }

  test("semantic typing heuristics") {
    val profiles = Profiler.profileAuto(Tables.load(spark, sf, "customer"),
      "customer", features = Set("mode"))
    val typed = SemanticTyping.annotate(profiles, HeuristicTyper)
      .select("column", "semantic_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(typed("c_custkey") === "identifier")
    assert(typed("c_name") === "name")
    assert(typed("c_acctbal") === "amount")
  }

  test("k-distance curve is sorted and sized like the input") {
    val pts = Seq(
      "a" -> Array(0.0, 0.0), "b" -> Array(0.0, 1.0),
      "c" -> Array(1.0, 0.0), "d" -> Array(10.0, 10.0))
    val curve = Clustering.kDistance(pts, k = 1)
    assert(curve.length === 4)
    assert(curve === curve.sorted)
    assert(curve.last > 9.0) // the isolated point's nearest neighbor is far
  }

  test("rule-centric assignment picks the most similar prototype") {
    val pts = Seq(
      "t::unique_col" -> Array(1.0, 0.0),
      "t::nullable_col" -> Array(0.0, 1.0))
    val protos = Map(
      "is_unique" -> Array(1.0, 0.0), "is_nullable" -> Array(0.0, 1.0))
    val assigned = Clustering.ruleCentricAssign(pts, protos)
      .map(r => r._1 -> r._2).toMap
    assert(assigned("t::unique_col") === "is_unique")
    assert(assigned("t::nullable_col") === "is_nullable")
  }

  test("vectorize supports standard and maxabs scaler blocks") {
    val rows = Profiler.profileAuto(Tables.load(spark, sf, "nation"),
      "nation", features = Set("mode", "pattern")).collect().toSeq
    val raw = rows.map(r => Clustering.featureVectorLocal(r))
    val dims = Clustering.defaultFeatures.indices
    Seq("minmax", "standard", "maxabs").foreach { s =>
      val v = Clustering.vectorize(rows, scaler = s)
      assert(v.size === 3)
      assert(v.map(_._1) === v.map(_._1).sorted)
    }
    // standard: per-feature mean 0; a constant feature scales to 0.0
    val std = Clustering.vectorize(rows, scaler = "standard").map(_._2)
    dims.foreach { i =>
      assert(math.abs(std.map(_(i)).sum) < 1e-9)
      if (raw.map(_(i)).distinct.size == 1) assert(std.forall(_(i) == 0.0))
    }
    // maxabs: every feature's largest magnitude is 1 unless all zero
    val maxabs = Clustering.vectorize(rows, scaler = "maxabs").map(_._2)
    dims.foreach { i =>
      val m = maxabs.map(v => math.abs(v(i))).max
      assert(m == 1.0 || raw.forall(_(i) == 0.0))
    }
    assertThrows[IllegalArgumentException](
      Clustering.vectorize(rows, scaler = "nope"))
  }

  test("GBT predicts a planted monotone relation") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    // label = null_ratio (planted signal), other features noise
    val rows = (1 to 200).map { i =>
      val nullRatio = rng.nextDouble()
      ("t", s"c$i", nullRatio, nullRatio, rng.nextDouble(), rng.nextDouble())
    }
    val df = rows.toDF("table", "column", "label", "null_ratio",
      "unique_ratio", "avg_len")
    val feats = Seq("null_ratio", "unique_ratio", "avg_len")
    val model = StrategyPredictor.fit(df, feats)
    val preds = StrategyPredictor.predict(model, df, feats)
    val mae = preds.agg(avg(abs(col("prediction") - col("label"))))
      .head().getDouble(0)
    assert(mae < 0.05)
  }
}
