package graft.cluster

import org.apache.spark.sql.Row

/** Column clustering over profile vectors (SURVEY.md §2.9 M1-M7,
  * M11-M15; reference: utils/clustering.py:23-165,
  * utils/two_stage_clustering.py:127-235).
  *
  * Every step runs on the driver over the collected profile rows
  * (`Profiler.profileMany*Rows`): the data is one row per (table,
  * column) at any lake scale (SURVEY.md §7.3), so a Spark job per step
  * would cost more in scheduling than the arithmetic. Points are
  * `(table::column, features)` pairs and assignments are
  * `table::column → cluster id` maps.
  */
object Clustering {

  type Points = Seq[(String, Array[Double])]

  /** Default numeric profile features used as the clustering space
    * (mirrors the reference's profile-vector selection). */
  val defaultFeatures: Seq[String] = Seq(
    "null_ratio", "unique_ratio", "avg_len", "avg_word_len",
    "ratio_int", "ratio_float", "ratio_date", "mode_ratio",
    "dominant_pattern_ratio")

  /** Scaled feature points (M1), one per profile row, keyed
    * "table::column" and sorted by that id (reference:
    * utils/clustering.py:48-50). `scaler` picks the M12 feature-block
    * scaling: "minmax" (default; constant feature → 0.5), "standard"
    * (z-score with the sample std; constant feature → 0.0) or "maxabs"
    * (max |x| = 0 → divide by 1) (reference:
    * experiment/cluster_feature_ablation_study/cluster_experiment.py:929-1047). */
  def vectorize(rows: Seq[Row], features: Seq[String] = defaultFeatures,
      scaler: String = "minmax"): Points = {
    val pts = rows.map(r => columnId(r) -> featureVectorLocal(r, features))
      .sortBy(_._1)
    scaler match {
      case "minmax" => minMaxScaleLocal(pts)
      case "standard" => scaleEach(pts) { xs =>
        val mu = xs.sum / xs.length
        val sd = if (xs.length < 2) 0.0
          else math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1))
        if (sd == 0.0) _ => 0.0 else x => (x - mu) / sd
      }
      case "maxabs" => scaleEach(pts) { xs =>
        val m = xs.map(x => math.abs(x)).max
        x => x / (if (m == 0.0) 1.0 else m)
      }
      case other => throw new IllegalArgumentException(s"unknown scaler: $other")
    }
  }

  /** The "table::column" id of one collected profile row. */
  def columnId(r: Row): String =
    r.getAs[String]("table") + "::" + r.getAs[String]("column")

  /** Numeric feature vector of one collected profile row: a null or
    * non-numeric feature reads 0.0. */
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

  /** MinMax scaling of collected points: (x−min)/(max−min) per feature,
    * constant feature → 0.5. */
  def minMaxScaleLocal(pts: Points): Points = scaleEach(pts) { xs =>
    var lo = Double.PositiveInfinity
    var hi = Double.NegativeInfinity
    xs.foreach { x => if (x < lo) lo = x; if (x > hi) hi = x }
    if (hi == lo) _ => 0.5 else x => (x - lo) / (hi - lo)
  }

  /** Per-feature scaling: `fit` sees one feature's values over all
    * points and returns that feature's transform. */
  private def scaleEach(pts: Points)(
      fit: Array[Double] => Double => Double): Points =
    if (pts.isEmpty) pts
    else {
      val fs = Array.tabulate(pts.head._2.length)(i =>
        fit(pts.map(_._2(i)).toArray))
      pts.map { case (id, v) => id -> Array.tabulate(fs.length)(i => fs(i)(v(i))) }
    }

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }

  /** Seeded KMeans (M3): kmeans++ init + Lloyd's. Cluster ids are
    * relabeled by first appearance in id order, so output is
    * deterministic for a fixed seed. */
  def kmeansLocalPoints(points: Points, k: Int,
      seed: Long = 42L, maxIter: Int = 50): Seq[(String, Int)] = {
    // Sort by id: collect() order follows physical partitioning
    // (thread count, shuffle partitions), and the seeded kmeans++ draw
    // indexes into this array — without the sort the "deterministic"
    // fit silently depends on the session's parallelism.
    val pts = points.sortBy(_._1)
    require(pts.nonEmpty, "kmeansLocalPoints on empty vectors")
    val kk = math.min(k, pts.length)
    val rng = new scala.util.Random(seed)
    // kmeans++ seeding
    val centers = scala.collection.mutable.ArrayBuffer(
      pts(rng.nextInt(pts.length))._2.clone())
    while (centers.length < kk) {
      val dists = pts.map(p => centers.map(c => dist2(p._2, c)).min)
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
      val next = pts.map(p => centers.indices.minBy(c => dist2(p._2, centers(c))))
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

  /** DBSCAN (M2) — the reference's default clusterer (eps-neighborhood
    * density, noise dropped to cluster -1). O(n²) with n = #columns. */
  def dbscan(points: Points, eps: Double, minPts: Int): Map[String, Int] = {
    val n = points.size
    val ids = points.map(_._1)
    val vs = points.map(_._2)
    val neighbors = Array.tabulate(n)(i =>
      (0 until n).filter(j => math.sqrt(dist2(vs(i), vs(j))) <= eps).toArray)
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

  /** k-distance curve for DBSCAN eps selection (M4; reference:
    * utils/clustering.py:9-21): sorted distance to the k-th nearest
    * neighbor of every point. */
  def kDistance(points: Points, k: Int): Seq[Double] =
    points.map { case (_, v) =>
      val ds = points.map { case (_, w) => math.sqrt(dist2(v, w)) }.sorted
      ds(math.min(k, ds.length - 1))
    }.sorted

  /** Rule-centric cosine assignment (M7; reference:
    * utils/strategy2_rule_centric.py:23-57): each column goes to the
    * rule whose feature unit-vector it is most cosine-similar to.
    * `rulePrototypes` maps rule name → unit vector over the same
    * feature space as the points. Returns (id, rule, cosine) by id. */
  def ruleCentricAssign(points: Points,
      rulePrototypes: Map[String, Array[Double]]): Seq[(String, String, Double)] = {
    val protos = rulePrototypes.toSeq.sortBy(_._1)
    points.sortBy(_._1).map { case (id, v) =>
      val (best, score) = protos.map { case (n, p) => (n, cos(v, p)) }
        .maxBy { case (n, s) => (s, n) }
      (id, best, score)
    }
  }

  /** The assigned points grouped by cluster id. */
  private def members(points: Points,
      assign: Map[String, Int]): Map[Int, Points] =
    points.filter(p => assign.contains(p._1)).groupBy(p => assign(p._1))

  /** Within-cluster outlier columns (M14; reference:
    * rules/cluster_matcher.py:146-175): columns whose average cosine
    * similarity to their cluster peers falls below `threshold`. */
  def clusterOutlierColumns(points: Points, assign: Map[String, Int],
      threshold: Double = 0.5): Seq[(String, Int, Double)] =
    members(points, assign).toSeq.flatMap { case (cluster, ms) =>
      if (ms.length < 2) Nil
      else ms.map { case (id, v) =>
        val avgSim = ms.filter(_._1 != id)
          .map(m => cos(v, m._2)).sum / (ms.length - 1)
        (id, cluster, avgSim)
      }.filter(_._3 < threshold)
    }.sortBy(_._1)

  /** Cluster-merge suggestions (M15; reference:
    * rules/cluster_matcher.py:177-198): cluster pairs whose centroid
    * cosine similarity exceeds `threshold`. */
  def mergeSuggestions(points: Points, assign: Map[String, Int],
      threshold: Double = 0.75): Seq[(Int, Int, Double)] = {
    val centroids = members(points, assign).map { case (c, ms) =>
      val sum = new Array[Double](ms.head._2.length)
      ms.foreach { case (_, v) => sum.indices.foreach(i => sum(i) += v(i)) }
      c -> sum.map(_ / ms.length)
    }.toSeq.sortBy(_._1)
    for {
      ((ci, vi), i) <- centroids.zipWithIndex
      (cj, vj) <- centroids.drop(i + 1)
      sim = cos(vi, vj) if sim > threshold
    } yield (ci, cj, sim)
  }

  /** Contingency table of two assignments over the ids both assign:
    * (cluster in a, cluster in b) → count. */
  private def contingency(a: Map[String, Int],
      b: Map[String, Int]): Map[(Int, Int), Int] =
    a.toSeq.flatMap { case (id, ca) => b.get(id).map(ca -> _) }
      .groupBy(identity).map { case (cell, ids) => cell -> ids.size }

  /** Adjusted Rand Index between two assignments (M11; reference ARI
    * at experiment/cluster_feature_ablation_study/cluster_experiment.py:1118-1130). */
  def adjustedRandIndex(a: Map[String, Int], b: Map[String, Int]): Double = {
    val cells = contingency(a, b)
    val n = cells.values.sum.toDouble
    if (n < 2) return 1.0
    def comb2(c: Double) = c * (c - 1) / 2.0
    def sumComb(counts: Iterable[Int]) = counts.map(c => comb2(c)).sum
    val sumIj = sumComb(cells.values)
    val sumI = sumComb(cells.groupMapReduce(_._1._1)(_._2)(_ + _).values)
    val sumJ = sumComb(cells.groupMapReduce(_._1._2)(_._2)(_ + _).values)
    val expected = sumI * sumJ / comb2(n)
    val maxIdx = (sumI + sumJ) / 2.0
    if (maxIdx == expected) 1.0 else (sumIj - expected) / (maxIdx - expected)
  }

  /** Normalized Mutual Information between two assignments, from the
    * same contingency table as ARI (M11; reference NMI at
    * experiment/cluster_feature_ablation_study/cluster_experiment.py:1118-1130).
    * Arithmetic-mean normalization (sklearn's default). */
  def normalizedMutualInfo(a: Map[String, Int], b: Map[String, Int]): Double = {
    val cells = contingency(a, b)
    val n = cells.values.sum.toDouble
    if (n == 0) return 1.0
    val pa = cells.groupMapReduce(_._1._1)(_._2 / n)(_ + _)
    val pb = cells.groupMapReduce(_._1._2)(_._2 / n)(_ + _)
    def entropy(p: Iterable[Double]): Double =
      -p.filter(_ > 0).map(x => x * math.log(x)).sum
    val mi = cells.map { case ((i, j), c) =>
      val pij = c / n
      pij * math.log(pij / (pa(i) * pb(j)))
    }.sum
    val ha = entropy(pa.values)
    val hb = entropy(pb.values)
    if (ha == 0 && hb == 0) 1.0
    else mi / ((ha + hb) / 2.0)
  }

  /** Pairing accuracy (M11): share of same-named columns from different
    * tables landing in the same cluster (reference's split-table
    * metric). Ids are "table::column". */
  def pairingAccuracy(assign: Map[String, Int]): Double = {
    val byColumn = assign.toSeq.collect { case (id, c) if id.contains("::") =>
      val Array(t, col) = id.split("::", 2)
      (t, col, c)
    }.groupBy(_._2).values
    val pairs = byColumn.toSeq.flatMap(ms =>
      for (x <- ms; y <- ms if x._1 < y._1) yield x._3 == y._3)
    if (pairs.isEmpty) 1.0 else pairs.count(identity).toDouble / pairs.size
  }
}
