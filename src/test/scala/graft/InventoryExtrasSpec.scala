package graft

import graft.cluster.Clustering
import graft.eval.Metrics
import graft.matching.ColumnMatcher
import graft.profile.Histograms
import graft.rules._
import org.apache.spark.sql.functions._

/** Specs for rule JSON round-trip (S6), bins (A12/A13), keyword overlap
  * (J8), cluster diagnostics (M14/M15), and repair eval (A33). */
class InventoryExtrasSpec extends SparkSpec {

  test("rule specs round-trip through JSON") {
    val rules: Seq[RuleSpec] = Seq(
      NotNullRule("a"), RegexRule("b", "^\\d+$"), RangeRule("c", 1.5, 9.75),
      EnumRule("d", Seq("x", "y")), DateFormatRule("e", "yyyy-MM-dd"),
      DecimalPrecisionRule("f", 2), LengthRule("g", 1, 10),
      SingleValueRule("h", "only"), UniqueRule("i"),
      CompositeUniqueRule(Seq("j1", "j2")),
      CrossFieldRule("dates", "start_date <= end_date"),
      FunctionalDependencyRule("zip", "city"),
      InclusionRule("k", "parent", "pk"))
    assert(RuleSerde.fromJson(RuleSerde.toJson(rules)) === rules)
  }

  test("equi-width bins partition the range; equi-depth balance counts") {
    import spark.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val ew = Histograms.equiWidthBins(df, "x", 10).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(ew.keySet === (0 to 9).toSet)
    // width (100-1)/10 = 9.9 → bin 0 holds 1..10.9 → 10 values
    assert(ew(0) === 10L)
    val ed = Histograms.equiDepthBins(df, "x", 10).collect()
    assert(ed.map(_.getLong(3)).toSet === Set(10L))
    val share = Histograms.maxBinShare(Histograms.equiWidthBins(df, "x", 10))
      .collect().head
    assert(share.getAs[Double]("max_bin_share") === 0.1)
  }

  test("equi-depth splits ties across bins exactly like ntile") {
    import spark.implicits._
    // 8 rows, 3 bins → ntile sizes 3,3,2; the five 1.0s straddle the
    // bin 0/1 boundary and the two 2.0s straddle bin 1/2
    val df = Seq(1.0, 1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 3.0).toDF("x")
    val ed = Histograms.equiDepthBins(df, "x", 3).collect()
      .map(r => r.getInt(0) -> ((r.getLong(3), r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(ed(0) === ((3L, 1.0, 1.0)))
    assert(ed(1) === ((3L, 1.0, 2.0)))
    assert(ed(2) === ((2L, 2.0, 3.0)))
    // fewer rows than bins: one row per occupied bin
    val tiny = Seq(5.0, 7.0).toDF("x")
    val tb = Histograms.equiDepthBins(tiny, "x", 10).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(tb === Map(0 -> 1L, 1 -> 1L))
    // empty input: no bins
    assert(Histograms.equiDepthBins(Seq.empty[Double].toDF("x"), "x", 4)
      .count() === 0L)
  }

  test("keyword overlap jaccard") {
    import spark.implicits._
    val src = Seq(("t", "c1", Seq("apple", "pear", "plum"))).toDF(
      "table", "column", "top_keywords")
    val tgt = Seq(("u", "d1", Seq("apple", "pear", "kiwi")),
      ("u", "d2", Seq.empty[String])).toDF("table", "column", "top_keywords")
    val sim = ColumnMatcher.keywordSimilarity(src, tgt).collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(sim("d1") === 0.5) // |{apple,pear}| / |{apple,pear,plum,kiwi}|
    assert(sim("d2") === 0.0)
  }

  test("cluster outliers and merge suggestions") {
    val vecs = Seq(
      "a1" -> Array(1.0, 0.0), "a2" -> Array(0.99, 0.05),
      "a3" -> Array(0.0, 1.0), // outlier inside cluster 0
      "b1" -> Array(0.98, 0.01), "b2" -> Array(1.0, 0.02))
    val assign = Map("a1" -> 0, "a2" -> 0, "a3" -> 0, "b1" -> 1, "b2" -> 1)
    // the outlier drags every 3-member average down (~0.5 for a1/a2,
    // ~0.03 for a3) — threshold between those
    val outliers = Clustering.clusterOutlierColumns(vecs, assign, threshold = 0.3)
    assert(outliers.map(_._1) === Seq("a3"))
    // clusters 0 and 1 are nearly identical directions → merge suggested
    val merges = Clustering.mergeSuggestions(vecs, assign, threshold = 0.75)
    assert(merges.map(m => (m._1, m._2)) === Seq((0, 1)))
  }

  test("repair score separates detection from correction") {
    import spark.implicits._
    val dirty = Seq((1L, "x", "bad"), (2L, "x", "ok"), (3L, "x", "wrong"))
      .toDF("id", "col_x", "col_y")
      .select(col("id"), col("col_x").as("x"), col("col_y").as("y"))
    val clean = Seq((1L, "x", "good"), (2L, "x", "ok"), (3L, "x", "right"))
      .toDF("id", "col_x", "col_y")
      .select(col("id"), col("col_x").as("x"), col("col_y").as("y"))
    // repairs: row 1 fixed correctly, row 3 repaired WRONG value,
    // row 2 false positive
    val repairs = Seq((1L, "y", "good"), (3L, "y", "also_wrong"), (2L, "y", "oops"))
      .toDF("row_id", "column", "repaired_value")
    val s = Metrics.repairScore(repairs, dirty, clean, "id").collect().head
    assert(s.getAs[Long]("ed_tp") === 2L)
    assert(s.getAs[Long]("ed_fp") === 1L)
    assert(s.getAs[Long]("ed_fn") === 0L)
    assert(s.getAs[Long]("ec_tp") === 1L)
    assert(s.getAs[Double]("ed_precision") === 2.0 / 3)
    assert(s.getAs[Double]("ec_precision") === 1.0 / 3)
    assert(s.getAs[Double]("ed_recall") === 1.0)
  }
}
