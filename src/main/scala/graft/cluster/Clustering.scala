package graft.cluster

import graft.ops.StagePersists
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Column clustering over profile vectors (SURVEY.md §2.9 M1-M6, M11;
  * reference: utils/clustering.py:23-165,
  * utils/two_stage_clustering.py:127-235).
  *
  * The data plane here is tiny by construction — one row per (table,
  * column) — so DBSCAN runs driver-side on collected vectors exactly
  * like the reference (there is no MLlib DBSCAN), while KMeans uses
  * MLlib. Collecting profiles is correct at any lake scale because
  * cardinality is #columns, not #rows (SURVEY.md §7.3).
  */
object Clustering {

  /** Default numeric profile features used as the clustering space
    * (mirrors the reference's profile-vector selection). */
  val defaultFeatures: Seq[String] = Seq(
    "null_ratio", "unique_ratio", "avg_len", "avg_word_len",
    "ratio_int", "ratio_float", "ratio_date", "mode_ratio",
    "dominant_pattern_ratio")

  /** MinMax-scaled feature vectors (M1): one row per column, column id
    * = "table::column" (reference: utils/clustering.py:48-50).
    * `scaler` picks the M12 feature-block scaling: "minmax" (default),
    * "standard" (z-score) or "maxabs" (reference:
    * experiment/cluster_feature_ablation_study/cluster_experiment.py:929-1047). */
  def vectorize(profiles: DataFrame, features: Seq[String] = defaultFeatures,
      scaler: String = "minmax"): DataFrame = {
    if (!Set("minmax", "standard", "maxabs")(scaler))
      throw new IllegalArgumentException(s"unknown scaler: $scaler")
    val cleaned = profiles.select(
      concat_ws("::", col("table"), col("column")).as("column_id") +:
        features.map(f => coalesce(col(f).cast(DoubleType), lit(0.0)).as(f)): _*)
    // One row per (table, column) — broadcast-sized at any lake scale —
    // but its lineage is the full profiling agg over every table.
    // A checkpoint (not cache) both materializes it once AND
    // truncates the plan: everything downstream (the stats agg here,
    // driver clustering, MLlib fits) would otherwise re-plan the
    // ~10³-expression profiling tree on every job.
    val checkpointed = StagePersists.checkpoint(cleaned)
    // Scaling statistics come from ONE tiny agg and compile into plain
    // column expressions — an MLlib Scaler.fit costs extra jobs and
    // non-codegen transform overhead for the same arithmetic
    // (semantics mirror MinMaxScaler / StandardScaler(withMean=true) /
    // MaxAbsScaler, including their constant-feature conventions).
    val statAggs = features.flatMap { f =>
      Seq(min(col(f)).as(s"min_$f"), max(col(f)).as(s"max_$f"),
        avg(col(f)).as(s"mean_$f"),
        coalesce(stddev_samp(col(f)), lit(0.0)).as(s"std_$f"),
        max(abs(col(f))).as(s"maxabs_$f"))
    }
    val st = checkpointed.agg(statAggs.head, statAggs.tail: _*).head()
    def stat(n: String, f: String): Double = st.getAs[Double](s"${n}_$f")
    val scaledCols = features.map { f =>
      scaler match {
        case "minmax" =>
          val (lo, hi) = (stat("min", f), stat("max", f))
          if (hi == lo) lit(0.5) else (col(f) - lo) / (hi - lo)
        case "standard" =>
          val (mu, sd) = (stat("mean", f), stat("std", f))
          if (sd == 0.0) lit(0.0) else (col(f) - mu) / sd
        case "maxabs" =>
          val m = stat("maxabs", f)
          col(f) / (if (m == 0.0) 1.0 else m)
      }
    }
    checkpointed.select(col("column_id"),
      org.apache.spark.ml.functions.array_to_vector(
        array(scaledCols: _*)).as("features"))
  }

  /** MLlib KMeans over profile vectors (M3), fixed seed. The
    * distributed path — use [[kmeansLocal]] when the vectors are
    * control-plane-sized (one row per column), which is every profile
    * clustering: MLlib's ~20 iterative jobs dominate at that size. */
  def kmeans(vectors: DataFrame, k: Int, seed: Long = 42L): DataFrame =
    new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .setPredictionCol("cluster_id")
      .fit(vectors).transform(vectors)
      .select("column_id", "cluster_id")

  /** Seeded driver-side KMeans (kmeans++ init + Lloyd's) over a
    * collected vector frame — the control-plane twin of [[kmeans]].
    * Profiles are O(#columns) at any lake scale, so local iteration
    * replaces ~20 MLlib jobs with microseconds of driver work.
    * Cluster ids are relabeled by first appearance in `column_id`
    * order, so output is deterministic for a fixed seed. */
  def kmeansLocal(vectors: DataFrame, k: Int, seed: Long = 42L,
      maxIter: Int = 50): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val pts = vectors.collect().map { r =>
      r.getAs[String]("column_id") ->
        r.getAs[org.apache.spark.ml.linalg.Vector]("features").toArray
    }.toSeq
    kmeansLocalPoints(pts, k, seed, maxIter).toDF("column_id", "cluster_id")
  }

  /** The driver core of [[kmeansLocal]] on already-collected points —
    * the entry for callers that hold profile rows locally and skip the
    * vectorize frame entirely. */
  def kmeansLocalPoints(points: Seq[(String, Array[Double])], k: Int,
      seed: Long = 42L, maxIter: Int = 50): Seq[(String, Int)] = {
    // Sort by column_id: collect() order follows physical partitioning
    // (thread count, shuffle partitions), and the seeded kmeans++ draw
    // indexes into this array — without the sort the "deterministic"
    // fit silently depends on the session's parallelism.
    val pts = points.sortBy(_._1)
    require(pts.nonEmpty, "kmeansLocal on empty vectors")
    val kk = math.min(k, pts.length)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val rng = new scala.util.Random(seed)
    // kmeans++ seeding
    val centers = scala.collection.mutable.ArrayBuffer(
      pts(rng.nextInt(pts.length))._2.clone())
    while (centers.length < kk) {
      val dists = pts.map(p => centers.map(c => d2(p._2, c)).min)
      val total = dists.sum
      if (total == 0.0) centers += pts(rng.nextInt(pts.length))._2.clone()
      else {
        var r = rng.nextDouble() * total
        var i = 0
        while (i < pts.length - 1 && r > dists(i)) { r -= dists(i); i += 1 }
        centers += pts(i)._2.clone()
      }
    }
    var assign = Array.fill(pts.length)(-1)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      changed = false
      val next = pts.map(p => centers.indices.minBy(c => d2(p._2, centers(c))))
      if (!java.util.Arrays.equals(next.toArray, assign)) {
        assign = next.toArray; changed = true
      }
      for (c <- centers.indices) {
        val members = pts.indices.filter(assign(_) == c)
        if (members.nonEmpty) {
          val dim = centers(c).length
          val m = new Array[Double](dim)
          members.foreach(i => (0 until dim).foreach(j => m(j) += pts(i)._2(j)))
          centers(c) = m.map(_ / members.length)
        }
      }
      iter += 1
    }
    // relabel by first appearance for stable output
    val relabel = scala.collection.mutable.LinkedHashMap[Int, Int]()
    val ordered = pts.map(_._1).zip(assign).sortBy(_._1)
    ordered.foreach { case (_, c) => relabel.getOrElseUpdate(c, relabel.size) }
    ordered.map { case (id, c) => (id, relabel(c)) }.toSeq
  }

  /** Driver-side twin of [[vectorize]]'s minmax scaler for rows that
    * are ALREADY collected (the multi-table pipeline holds the profile
    * rows for rule derivation anyway): identical arithmetic —
    * (x−min)/(max−min), constant feature → 0.5 — without the
    * checkpoint + stats-agg Spark jobs, which at control-plane size
    * cost more in scheduling than the math. */
  def minMaxScaleLocal(
      pts: Seq[(String, Array[Double])]): Seq[(String, Array[Double])] = {
    if (pts.isEmpty) pts
    else {
      val dim = pts.head._2.length
      val lo = Array.fill(dim)(Double.PositiveInfinity)
      val hi = Array.fill(dim)(Double.NegativeInfinity)
      pts.foreach { case (_, v) =>
        var i = 0
        while (i < dim) {
          if (v(i) < lo(i)) lo(i) = v(i)
          if (v(i) > hi(i)) hi(i) = v(i)
          i += 1
        }
      }
      pts.map { case (id, v) =>
        id -> Array.tabulate(dim)(i =>
          if (hi(i) == lo(i)) 0.5 else (v(i) - lo(i)) / (hi(i) - lo(i)))
      }
    }
  }

  /** Numeric feature vector of one collected profile row, mirroring
    * [[vectorize]]'s `coalesce(cast(f as double), 0.0)`. */
  def featureVectorLocal(r: Row,
      features: Seq[String] = defaultFeatures): Array[Double] =
    features.map { f =>
      val i = r.fieldIndex(f)
      if (r.isNullAt(i)) 0.0
      else r.get(i) match {
        case d: Double => d
        case n: java.lang.Number => n.doubleValue()
        case _ => 0.0
      }
    }.toArray

  /** Driver-side DBSCAN (M2) — the reference's default clusterer
    * (eps-neighborhood density, noise dropped to cluster -1). Operates
    * on collected vectors: O(n²) with n = #columns, intentionally local. */
  def dbscan(points: Seq[(String, Array[Double])], eps: Double,
      minPts: Int): Map[String, Int] = {
    val n = points.size
    val ids = points.map(_._1)
    val vs = points.map(_._2)
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val neighbors = Array.tabulate(n)(i =>
      (0 until n).filter(j => dist(vs(i), vs(j)) <= eps).toArray)
    val labels = Array.fill(n)(-2) // -2 unvisited, -1 noise
    var cluster = -1
    for (i <- 0 until n if labels(i) == -2) {
      if (neighbors(i).length < minPts) labels(i) = -1
      else {
        cluster += 1
        labels(i) = cluster
        var frontier = neighbors(i).toList
        while (frontier.nonEmpty) {
          val j = frontier.head
          frontier = frontier.tail
          if (labels(j) == -1) labels(j) = cluster
          if (labels(j) == -2) {
            labels(j) = cluster
            if (neighbors(j).length >= minPts) frontier = neighbors(j).toList ++ frontier
          }
        }
      }
    }
    ids.zip(labels).toMap
  }

  /** DBSCAN over a vectorized profile frame; collects (tiny) then
    * returns a DataFrame of assignments. */
  def dbscanAssign(vectors: DataFrame, eps: Double, minPts: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val pts = vectors.collect().map { r =>
      r.getAs[String]("column_id") ->
        r.getAs[org.apache.spark.ml.linalg.Vector]("features").toArray
    }.toSeq
    dbscan(pts, eps, minPts).toSeq.toDF("column_id", "cluster_id")
  }

  /** k-distance curve for DBSCAN eps selection (M4; reference:
    * utils/clustering.py:9-21): sorted distance to the k-th nearest
    * neighbor of every point. Driver-side (control plane). */
  def kDistance(points: Seq[(String, Array[Double])], k: Int): Seq[Double] = {
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    points.map { case (_, v) =>
      val ds = points.map { case (_, w) => dist(v, w) }.sorted
      ds(math.min(k, ds.length - 1))
    }.sorted
  }

  /** Rule-centric cosine assignment (M7; reference:
    * utils/strategy2_rule_centric.py:23-57): each column goes to the
    * rule whose feature unit-vector it is most cosine-similar to.
    * `rulePrototypes` maps rule name → unit vector over the same
    * feature space as the profile vectors. */
  def ruleCentricAssign(vectors: DataFrame,
      rulePrototypes: Map[String, Array[Double]]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val protos = rulePrototypes.toSeq.sortBy(_._1)
    vectors.collect().toSeq.map { r =>
      val id = r.getAs[String]("column_id")
      val v = r.getAs[org.apache.spark.ml.linalg.Vector]("features").toArray
      val (best, score) = protos.map { case (n, p) => (n, cos(v, p)) }
        .maxBy { case (n, s) => (s, n) }
      (id, best, score)
    }.toDF("column_id", "rule", "cosine")
  }

  /** Within-cluster outlier columns (M14; reference:
    * rules/cluster_matcher.py:146-175): columns whose average cosine
    * similarity to their cluster peers falls below `threshold`.
    * Driver-side pairwise over collected vectors (control plane). */
  def clusterOutlierColumns(vectors: DataFrame, assignments: DataFrame,
      threshold: Double = 0.5): Seq[(String, Int, Double)] = {
    val joined = vectors.join(assignments, "column_id").collect().map { r =>
      (r.getAs[String]("column_id"), r.getAs[Int]("cluster_id"),
        r.getAs[org.apache.spark.ml.linalg.Vector]("features").toArray)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    joined.groupBy(_._2).toSeq.flatMap { case (cluster, members) =>
      if (members.length < 2) Nil
      else members.toSeq.map { case (id, _, v) =>
        val avgSim = members.filter(_._1 != id)
          .map(m => cos(v, m._3)).sum / (members.length - 1)
        (id, cluster, avgSim)
      }.filter(_._3 < threshold)
    }.sortBy(_._1)
  }

  /** Cluster-merge suggestions (M15; reference:
    * rules/cluster_matcher.py:177-198): cluster pairs whose centroid
    * cosine similarity exceeds `threshold`. */
  def mergeSuggestions(vectors: DataFrame, assignments: DataFrame,
      threshold: Double = 0.75): Seq[(Int, Int, Double)] = {
    val joined = vectors.join(assignments, "column_id").collect().map { r =>
      (r.getAs[Int]("cluster_id"),
        r.getAs[org.apache.spark.ml.linalg.Vector]("features").toArray)
    }
    val centroids = joined.groupBy(_._1).map { case (c, ms) =>
      val dim = ms.head._2.length
      val sum = ms.map(_._2).foldLeft(new Array[Double](dim)) { (acc, v) =>
        acc.indices.foreach(i => acc(i) += v(i)); acc
      }
      c -> sum.map(_ / ms.length)
    }.toSeq.sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    for {
      ((ci, vi), i) <- centroids.zipWithIndex
      (cj, vj) <- centroids.drop(i + 1)
      sim = cos(vi, vj) if sim > threshold
    } yield (ci, cj, sim)
  }

  /** Adjusted Rand Index between two assignments, computed from
    * join-based contingency counts (M11; reference ARI at
    * experiment/cluster_feature_ablation_study/cluster_experiment.py:1118-1130). */
  def adjustedRandIndex(a: DataFrame, b: DataFrame): Double = {
    val joined = a.withColumnRenamed("cluster_id", "ca")
      .join(b.withColumnRenamed("cluster_id", "cb"), "column_id")
    def comb2(c: org.apache.spark.sql.Column) = c * (c - 1) / 2.0
    val n = joined.count().toDouble
    if (n < 2) return 1.0
    val sumIj = joined.groupBy("ca", "cb").count()
      .agg(sum(comb2(col("count")))).head().getDouble(0)
    val sumI = joined.groupBy("ca").count()
      .agg(sum(comb2(col("count")))).head().getDouble(0)
    val sumJ = joined.groupBy("cb").count()
      .agg(sum(comb2(col("count")))).head().getDouble(0)
    val expected = sumI * sumJ / (n * (n - 1) / 2.0)
    val maxIdx = (sumI + sumJ) / 2.0
    if (maxIdx == expected) 1.0 else (sumIj - expected) / (maxIdx - expected)
  }

  /** Normalized Mutual Information between two assignments, from the
    * same join-based contingency counts as ARI (M11; reference NMI at
    * experiment/cluster_feature_ablation_study/cluster_experiment.py:1118-1130).
    * Arithmetic-mean normalization (sklearn's default). */
  def normalizedMutualInfo(a: DataFrame, b: DataFrame): Double = {
    val joined = a.withColumnRenamed("cluster_id", "ca")
      .join(b.withColumnRenamed("cluster_id", "cb"), "column_id")
      .groupBy("ca", "cb").count()
      .collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
    val n = joined.map(_._3).sum.toDouble
    if (n == 0) return 1.0
    val pa = joined.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum / n }
    val pb = joined.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum / n }
    def entropy(p: Iterable[Double]): Double =
      -p.filter(_ > 0).map(x => x * math.log(x)).sum
    val mi = joined.map { case (i, j, c) =>
      val pij = c / n
      if (pij > 0) pij * math.log(pij / (pa(i) * pb(j))) else 0.0
    }.sum
    val ha = entropy(pa.values)
    val hb = entropy(pb.values)
    if (ha == 0 && hb == 0) 1.0
    else if (ha + hb == 0) 0.0
    else mi / ((ha + hb) / 2.0)
  }

  /** Pairing accuracy (M11): share of same-named columns from different
    * tables landing in the same cluster (reference's split-table
    * metric). */
  def pairingAccuracy(assignments: DataFrame): Double = {
    val parts = assignments
      .withColumn("table", split(col("column_id"), "::").getItem(0))
      .withColumn("column", split(col("column_id"), "::").getItem(1))
    val pairs = parts.as("x").join(parts.as("y"),
      col("x.column") === col("y.column") && col("x.table") < col("y.table"))
    val total = pairs.count()
    if (total == 0) 1.0
    else pairs.filter(col("x.cluster_id") === col("y.cluster_id")).count()
      .toDouble / total
  }
}
