package graft

import graft.cluster.Clustering
import graft.matching.ColumnMatcher
import graft.rules._
import graft.transfer.{LeveledRule, RuleTransfer}

class ClusterMatchSpec extends SparkSpec {
  import spark.implicits._

  test("record linkage links planted variants inside blocks only") {
    import spark.implicits._
    import graft.matching.RecordLinkage._
    import org.apache.spark.sql.functions.{col, substring}
    // 1/2: same block, near-identical → link (name lev 1 of 10 → 0.9;
    // score = 0.6·0.9 + 0.2·1 + 0.2·1 = 0.94). 3: same block, every
    // field off → far below threshold. 4: identical fields to 1 but a
    // DIFFERENT block — never even compared (blocking is the scale
    // contract, not an optimization).
    val df = Seq(
      (1L, "alpha-0001", "A", 100.0),
      (2L, "alpha-0002", "A", 100.0),
      (3L, "alpha-0xyz", "B", -5.0),
      (4L, "beta-a0001", "A", 100.0))
      .toDF("id", "name", "seg", "bal")
    val links = linkRecords(df, "id", substring(col("name"), 1, 6),
        Seq(StringField("name", 0.6), StringField("seg", 0.2),
          NumericField("bal", 0.2)), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(links == Seq((1L, 2L, 0.94)))
  }

  test("dbscan separates dense groups and flags noise") {
    val pts = Seq(
      "a1" -> Array(0.0, 0.0), "a2" -> Array(0.1, 0.0), "a3" -> Array(0.0, 0.1),
      "b1" -> Array(5.0, 5.0), "b2" -> Array(5.1, 5.0), "b3" -> Array(5.0, 5.1),
      "noise" -> Array(10.0, 0.0))
    val labels = Clustering.dbscan(pts, eps = 0.5, minPts = 2)
    assert(labels("a1") == labels("a2") && labels("a2") == labels("a3"))
    assert(labels("b1") == labels("b2") && labels("b2") == labels("b3"))
    assert(labels("a1") != labels("b1"))
    assert(labels("noise") == -1)
  }

  test("ARI of identical assignments is 1") {
    val a = Map("x" -> 0, "y" -> 0, "z" -> 1)
    assert(math.abs(Clustering.adjustedRandIndex(a, a) - 1.0) < 1e-9)
  }

  test("pairing accuracy counts same-named columns across tables") {
    val assign = Map(
      "t1::id" -> 0, "t2::id" -> 0, // paired correctly
      "t1::name" -> 1, "t2::name" -> 2) // split — incorrect
    assert(Clustering.pairingAccuracy(assign) == 0.5)
  }

  test("hungarian finds the obvious best assignment") {
    val scores = Map(
      ("a", "x") -> 0.9, ("a", "y") -> 0.1,
      ("b", "x") -> 0.2, ("b", "y") -> 0.8)
    assert(ColumnMatcher.hungarian(scores).toSet == Set("a" -> "x", "b" -> "y"))
  }

  test("hungarian maximizes total score, not greedy per-row") {
    // greedy would give a->x (0.9) forcing b->y (0.1): total 1.0
    // optimal is a->y (0.8) + b->x (0.7): total 1.5
    val scores = Map(
      ("a", "x") -> 0.9, ("a", "y") -> 0.8,
      ("b", "x") -> 0.7, ("b", "y") -> 0.1)
    assert(ColumnMatcher.hungarian(scores).toSet == Set("a" -> "y", "b" -> "x"))
  }

  test("matcher scores same-name same-type columns highest") {
    val src = graft.profile.Profiler.profile(
      Seq((1L, "x"), (2L, "y")).toDF("id", "name"), "t1")
    val tgt = graft.profile.Profiler.profile(
      Seq((3L, "z"), (4L, "w")).toDF("id", "label"), "t2")
    val cands = ColumnMatcher.candidates(src, tgt).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(cands(("id", "id")) > cands(("id", "label")))
    assert(cands(("id", "id")) > 0.9)
  }

  test("rule binding remaps columns") {
    val bound = ColumnMatcher.bindRules(
      Seq(NotNullRule("a"), RangeRule("b", 0, 1), RegexRule("c", "x")),
      Map("a" -> "a2", "b" -> "b2"))
    assert(bound.map(_.column).toSet == Set("a2", "b2"))
  }

  test("rule binding remaps composite keys only when every column matches") {
    val bound = ColumnMatcher.bindRules(
      Seq(CompositeUniqueRule(Seq("a", "b")), CompositeUniqueRule(Seq("a", "c"))),
      Map("a" -> "a2", "b" -> "b2"))
    assert(bound == Seq(CompositeUniqueRule(Seq("a2", "b2"))))
  }

  test("transfer gates by level and decays confidence") {
    val rules = Seq(
      LeveledRule(NotNullRule("a"), 1, 1.0),
      LeveledRule(RegexRule("a", "x"), 3, 1.0),
      LeveledRule(SingleValueRule("a", "v"), 4, 1.0))
    val out = RuleTransfer.transfer(rules, similarity = 0.7)
    // level 4 gated out (needs 0.8); level 1 kept at 0.7; level 3 decays
    assert(out.map(_.rule.name).toSet ==
      Set("not_null(a)", "regex(a)"))
    val l3 = out.find(_.level == 3).get
    assert(math.abs(l3.confidence - 1.0 * 0.75 * 0.7) < 1e-9)
  }

  test("adaptation widens ranges") {
    val RangeRule(_, lo, hi, _) =
      RuleTransfer.adapt(RangeRule("x", 0.0, 10.0)): @unchecked
    assert(lo == -1.0 && hi == 11.0)
  }

  test("c2 gate query: exact DBSCAN membership at sf0.001") {
    // The driver only rows-checks c2 (no SQL oracle exists for DBSCAN);
    // this pins the exact deterministic partition: name columns cluster,
    // key columns with matching profiles cluster, account balances
    // cluster, everything else is noise.
    val rows = graft.queries.MatchQueries.dbscanClusters(spark, sf)
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val byCluster = rows.groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).toMap
    assert(byCluster(-1) === Set(
      "customer::c_mktsegment", "customer::c_nationkey", "nation::n_name",
      "nation::n_regionkey", "supplier::s_nationkey", "supplier::s_suppkey"))
    val clusters = byCluster.removed(-1).values.toSet
    assert(clusters === Set(
      Set("customer::c_name", "supplier::s_name"),
      Set("customer::c_custkey", "nation::n_nationkey"),
      Set("customer::c_acctbal", "supplier::s_acctbal")))
  }

  test("c1 gate query: exact seeded KMeans partition at sf0.001") {
    // The driver only rows-checks c1 (an iterative seeded fit has no SQL
    // oracle); this pins the exact deterministic partition the seeded
    // kmeans++ produces, stated as cluster-member sets so a label
    // permutation cannot hide a real assignment change: monetary/text
    // amounts, key columns, name-ish strings, small-int codes.
    val rows = graft.profile.Profiler.profileManyAutoRows(
      Seq("customer", "supplier", "part", "orders", "nation")
        .map(t => t -> graft.Tables.load(spark, sf, t)),
      features = Set("mode", "pattern"))
    val assign = Clustering.kmeansLocalPoints(Clustering.vectorize(rows), k = 4)
    val clusters = assign.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(clusters === Set(
      Set("customer::c_acctbal", "orders::o_totalprice",
        "part::p_retailprice", "supplier::s_acctbal"),
      Set("customer::c_custkey", "customer::c_nationkey",
        "nation::n_nationkey", "nation::n_regionkey", "orders::o_custkey",
        "orders::o_orderkey", "part::p_partkey", "part::p_size",
        "supplier::s_nationkey", "supplier::s_suppkey"),
      Set("customer::c_mktsegment", "orders::o_orderpriority",
        "orders::o_orderstatus", "part::p_brand", "part::p_name",
        "part::p_type"),
      Set("customer::c_name", "nation::n_name", "orders::o_orderdate",
        "supplier::s_name")))
    // and the gate query's shape on top of it: 4 clusters sized 10/6/4/4
    val sizes = graft.queries.MatchQueries.kmeansClusters(spark, sf)
      .collect().map(r => r.getLong(1))
    assert(sizes.sorted.toSeq === Seq(4L, 4L, 6L, 10L))
  }
}
