package graft.outlier

import graft.ops.StagePersists
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** dBoost-parity statistical machinery (SURVEY.md §2.4 A23-A30;
  * reference: the profiling/dBoost/dboost package).
  *
  * Everything follows the two-pass estimator/transformer shape: `fit`
  * is an aggregation producing a broadcastable model; detection is a
  * map-side predicate over the broadcast model. Determinism: all
  * accumulations that feed comparisons go through exact decimal sums.
  */
object DBoost {

  // ---- F8/F9/F10 — tuple expansions ------------------------------------

  /** Date-part expansion of a timestamp column (reference:
    * profiling/dBoost/dboost/features/__init__.py:111-130). */
  def dateExpansions(ts: Column): Seq[(String, Column)] = Seq(
    "year" -> year(ts), "month" -> month(ts), "day" -> dayofmonth(ts),
    "hour" -> hour(ts), "minute" -> minute(ts), "second" -> second(ts),
    "dayofweek" -> dayofweek(ts), "dayofyear" -> dayofyear(ts),
    "is_weekend" -> (dayofweek(ts) === 1 || dayofweek(ts) === 7).cast("int"))

  /** Numeric expansions (reference: features/__init__.py:96-134). */
  def numericExpansions(d: Column): Seq[(String, Column)] = Seq(
    "mod10" -> pmod(floor(d).cast(LongType), lit(10L)),
    "frac" -> (d - floor(d)),
    "is_negative" -> (d < 0).cast("int"),
    "bit0" -> pmod(floor(d).cast(LongType), lit(2L)))

  /** String expansions (reference: features/__init__.py:36-92). */
  def stringExpansions(s: Column): Seq[(String, Column)] = Seq(
    "length" -> length(s),
    "is_upper" -> (upper(s) === s).cast("int"),
    "is_lower" -> (lower(s) === s).cast("int"),
    "is_digit" -> s.rlike("^\\d+$").cast("int"),
    "is_empty" -> (length(s) === 0).cast("int"),
    "email_domain" -> regexp_extract(s, "@([A-Za-z0-9.-]+)$", 1))

  // ---- A27 — histogram model -------------------------------------------

  /** Fit summary per low-cardinality column: class count, top-class
    * mass, and whether the histogram is "peaked" enough to be a model
    * (reference: models/discrete.py:33-71 keeps histograms under 16
    * classes whose top peaks carry most of the mass). Cardinality
    * guard first — high-cardinality columns never build histograms
    * (analyzers/utils.py cap). */
  def histogramFit(long: DataFrame, maxClasses: Int = 16,
      peakMass: Double = 0.8): DataFrame =
    long.groupBy("column", "value").agg(count(lit(1)).as("cnt"))
      .groupBy("column").agg(
        count(lit(1)).as("n_classes"),
        (max("cnt").cast(DoubleType) / sum("cnt").cast(DoubleType)).as("top_mass"),
        sum("cnt").as("n_values"))
      .withColumn("peaked",
        (col("n_classes") <= maxClasses && col("top_mass") >= peakMass).cast("int"))

  // ---- A23 — one-pass streaming Stats ----------------------------------

  /** dBoost's streaming Stats analyzer in ONE aggregation job per call
    * (reference: analyzers/utils.py:5-47 — sum/sum², min/max, count,
    * cardinality-capped distinct set). The distinct set is HLL
    * (approx_count_distinct), reported capped at `cardinalityCap`
    * exactly as dBoost stops tracking past its cap; exact=true uses
    * countDistinct for oracle comparison. Mean/std go through exact
    * decimal sums (deterministic under any partitioning). */
  def streamStats(df: DataFrame, cols: Seq[String], cardinalityCap: Int = 25,
      exact: Boolean = false): DataFrame = {
    val perCol = cols.map { c =>
      val d = col(s"`$c`").cast(DoubleType)
      val mean = sum(d.cast(DecimalType(30, 6))).cast(DoubleType) / count(d)
      val m2 = sum((d * d).cast(DecimalType(38, 6))).cast(DoubleType) / count(d)
      val distinct =
        if (exact) countDistinct(col(s"`$c`")) else approx_count_distinct(col(s"`$c`"))
      struct(lit(c).as("column"), count(d).as("cnt"),
        mean.as("mean"), sqrt(m2 - mean * mean).as("std"),
        min(d).as("min"), max(d).as("max"),
        least(distinct, lit(cardinalityCap.toLong)).as("distinct_capped"))
    }
    df.agg(perCol.head.as("s0"), perCol.tail.zipWithIndex.map {
        case (c, i) => c.as(s"s${i + 1}")
      }: _*)
      .select(explode(array((0 until cols.size).map(i => col(s"s$i")): _*)).as("s"))
      .select("s.*")
  }

  // ---- A29 — Gaussian mixture model outliers ---------------------------

  /** Fitted 1-D mixture component. */
  final case class Gaussian1D(weight: Double, mean: Double, variance: Double)

  /** Seeded 1-D EM fit of a k-component Gaussian mixture on a local
    * sample. Init is deterministic: the sorted sample splits into k
    * equal segments whose means/variances seed the components — no
    * RNG, so the fit is reproducible for a fixed input. The E step
    * runs in log space (log-sum-exp), so far-tail points keep exact
    * responsibilities instead of underflowing to zero. */
  def fitGmm1D(sample: Array[Double], k: Int, maxIter: Int = 100,
      tol: Double = 1e-6): Seq[Gaussian1D] = {
    require(sample.nonEmpty, "fitGmm1D on empty sample")
    val n = sample.length
    val kk = math.min(k, n)
    val sorted = sample.sorted
    def segStats(j: Int): (Double, Double) = {
      val from = j * n / kk
      val until = math.max((j + 1) * n / kk, from + 1)
      val seg = sorted.slice(from, until)
      val m = seg.sum / seg.length
      (m, math.max(seg.map(x => (x - m) * (x - m)).sum / seg.length, 1e-12))
    }
    var weights = Array.fill(kk)(1.0 / kk)
    var means = Array.tabulate(kk)(segStats(_)._1)
    var vars = Array.tabulate(kk)(segStats(_)._2)
    val resp = Array.ofDim[Double](n, kk)
    var prevLl = Double.NegativeInfinity
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      // E step (log space)
      var ll = 0.0
      var i = 0
      while (i < n) {
        var maxLog = Double.NegativeInfinity
        var j = 0
        while (j < kk) {
          val v = math.max(vars(j), 1e-12)
          val z = sample(i) - means(j)
          val lp = math.log(math.max(weights(j), 1e-300)) -
            0.5 * z * z / v - 0.5 * math.log(2 * math.Pi * v)
          resp(i)(j) = lp
          if (lp > maxLog) maxLog = lp
          j += 1
        }
        var tot = 0.0
        var j2 = 0
        while (j2 < kk) {
          resp(i)(j2) = math.exp(resp(i)(j2) - maxLog); tot += resp(i)(j2); j2 += 1
        }
        var j3 = 0
        while (j3 < kk) { resp(i)(j3) /= tot; j3 += 1 }
        ll += maxLog + math.log(tot)
        i += 1
      }
      // M step
      val nk = Array.tabulate(kk)(j => sample.indices.map(resp(_)(j)).sum)
      weights = nk.map(_ / n)
      means = Array.tabulate(kk)(j =>
        if (nk(j) == 0) means(j)
        else sample.indices.map(i2 => resp(i2)(j) * sample(i2)).sum / nk(j))
      vars = Array.tabulate(kk)(j =>
        if (nk(j) == 0) vars(j)
        else math.max(sample.indices.map { i2 =>
          val z = sample(i2) - means(j); resp(i2)(j) * z * z
        }.sum / nk(j), 1e-12))
      if (math.abs(ll - prevLl) < tol * math.abs(ll).max(1.0)) done = true
      prevLl = ll
      iter += 1
    }
    (0 until kk).map(j => Gaussian1D(weights(j), means(j), vars(j)))
  }

  /** GMM outlier detection on one numeric column (reference:
    * models/mixture.py:33-57 — fit a GaussianMixture, flag points whose
    * weighted density falls below `cutoff`).
    *
    * Estimator/transformer shape at scale: the fit runs on a seeded
    * capped sample (dBoost itself trains on 1k-100k row samples,
    * scripts/scalability_experiment.py) collected to the driver — a
    * bounded O(trainCap) payload at any data size — and the fitted
    * (weight, mean, variance) triples compile into a closed-form
    * density Column, so detection is a map-side codegen'd predicate
    * with NO model object or iterative jobs on the executors. */
  def gmmOutliers(df: DataFrame, column: String, keyCol: String, k: Int = 2,
      cutoff: Double = 1e-4, seed: Long = 42L, trainCap: Int = 100000): DataFrame = {
    val d = col(s"`$column`").cast(DoubleType)
    val values = StagePersists.checkpoint(df.filter(d.isNotNull).select(d.as("__v")))
    val n = values.count()
    val sample =
      (if (n <= trainCap) values
       else values.sample(withReplacement = false,
         math.min(1.0, trainCap.toDouble / n * 1.05), seed))
        .collect().map(_.getDouble(0))
    val model = fitGmm1D(sample, k)
    val density = model.map { g =>
      lit(g.weight) * exp(lit(-0.5) * (d - g.mean) * (d - g.mean) / lit(g.variance)) /
        lit(math.sqrt(2 * math.Pi * g.variance))
    }.reduce(_ + _)
    df.filter(d.isNotNull)
      .select(col(s"`$keyCol`").cast("long").as("row_id"), d.as("value"),
        density.as("density"))
      .filter(col("density") < cutoff)
  }

  // ---- A24 — Pearson correlation matrix --------------------------------

  /** Pairwise Pearson r over the given numeric columns in ONE scan:
    * exact decimal sums of x, x², and x·y per pair, so r is
    * bit-deterministic under any partitioning (reference:
    * analyzers/statistical.py:25-77 reports pairs with |r| > ε). */
  def correlationPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    def dsum(e: Column): Column = sum(e.cast(DecimalType(38, 10))).cast(DoubleType)
    pearsonFromSums(df, cols, dsum, dsum)
  }

  /** [[correlationPairs]] for FIXED-POINT columns (at most `decimals`
    * decimal digits, e.g. money): ~20× faster with the same exactness.
    * Decimal(38,10) sums cost ~50× a Long sum per row (BigDecimal
    * accumulator, per-row Decimal allocation); the fixed-point kernel
    * ([[graft.ops.FixedPoint.fsum]]) sums exact scaled Longs instead.
    * Products carry 2·decimals digits, so they sum at the doubled
    * scale with the wider base-10^9 hi/lo split.
    *
    * Bounds (FixedPoint's contract at these scales): |x·y|·10^2d
    * < 2^53 per product (|x| ≲ 3·10^7 at d=2) and n ≲ 9·10^9 rows per
    * aggregation; beyond that, fall back to [[correlationPairs]]. */
  def correlationPairsFixedPoint(df: DataFrame, cols: Seq[String],
      decimals: Int = 2): DataFrame =
    pearsonFromSums(df, cols,
      graft.ops.FixedPoint.fsum(_, decimals),
      // products carry 2·decimals digits → doubled scale, wider split
      graft.ops.FixedPoint.fsum(_, 2 * decimals, base = 1000000000L))

  /** Shared Pearson-matrix shape: one scan building Σx, Σx², Σx·y per
    * pair through the given exact-sum kernels (plain values vs x·y
    * products — a fixed-point kernel needs the doubled scale for the
    * latter), then the r formula over the single aggregated row. */
  private def pearsonFromSums(df: DataFrame, cols: Seq[String],
      sumValue: Column => Column, sumProduct: Column => Column): DataFrame = {
    val aggs = cols.map(c => sumValue(col(c)).as(s"s_$c")) ++
      cols.map(c => sumProduct(col(c) * col(c)).as(s"ss_$c")) ++
      cols.combinations(2).toSeq.map { case Seq(a, b) =>
        sumProduct(col(a) * col(b)).as(s"sp_${a}_$b")
      } :+ count(lit(1)).cast(DoubleType).as("n")
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val pairRows = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        ((col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
          (sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
           sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")))).as("r"))
    }
    stats.select(explode(array(pairRows: _*)).as("p")).select("p.*")
  }

  // ---- A25/A26 — contingency + chi-squared dependence ------------------

  /** Contingency table of two categorical columns (A26), guarded: null
    * cells excluded. */
  def contingency(df: DataFrame, a: String, b: String): DataFrame =
    df.filter(col(a).isNotNull && col(b).isNotNull)
      .groupBy(col(a).as("a"), col(b).as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** CORDS-style chi-squared statistic for dependence between two
    * low-cardinality columns (reference: analyzers/cords.py:8-90).
    * Per-cell contributions go through exact decimal summation so the
    * statistic is deterministic. */
  def chiSquared(df: DataFrame, a: String, b: String): DataFrame = {
    val obs = contingency(df, a, b)
    val rowTot = obs.groupBy("a").agg(sum("cnt").as("ra"))
    val colTot = obs.groupBy("b").agg(sum("cnt").as("cb"))
    val n = obs.agg(sum("cnt").as("n"))
    val cells = obs.join(broadcast(rowTot), "a").join(broadcast(colTot), "b")
      .join(broadcast(n))
      .withColumn("e", col("ra").cast(DoubleType) * col("cb").cast(DoubleType) /
        col("n").cast(DoubleType))
      .withColumn("contrib",
        (col("cnt").cast(DoubleType) - col("e")) * (col("cnt").cast(DoubleType) - col("e"))
          / col("e"))
    cells.agg(
      sum(col("contrib").cast(DecimalType(38, 12))).cast(DoubleType).as("chi2"),
      count(lit(1)).as("n_cells"),
      countDistinct("a").as("card_a"),
      countDistinct("b").as("card_b"))
      .withColumn("dof", (col("card_a") - 1) * (col("card_b") - 1))
  }
}
