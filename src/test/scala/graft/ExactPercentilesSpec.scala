package graft

import graft.profile.ExactPercentiles
import org.apache.spark.sql.functions._

/** Parity of the sketch-bracketed exact-percentile kernel against the
  * window-ranked reference kernel and the builtin exact `percentile`,
  * on distributions chosen to stress the bracket logic: heavy
  * duplicates (bracket values carry large mass), high cardinality,
  * tiny groups (n = 1, 2), and exact-hit ranks (p·(n−1) integral). */
class ExactPercentilesSpec extends SparkSpec {
  import spark.implicits._

  private val ps = Seq("p05" -> 0.05, "q1" -> 0.25, "med" -> 0.5, "p95" -> 0.95)

  /** Window-ranked reference kernel (the original product formulation,
    * retired from src/main once the sketched kernel became the only
    * production path; kept here as the independent parity reference —
    * its own correctness is pinned against the builtin below). */
  private def byGroupsSorted(long: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], valueCol: String,
      ps: Seq[(String, Double)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col(s"`$valueCol`").cast("double")
    val gs = groupCols.map(g => col(s"`$g`"))
    val hist = long.filter(x.isNotNull)
      .groupBy(gs :+ x.as("__x"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(gs: _*).orderBy("__x")
    val ranked = hist
      .withColumn("__cum", sum("__cnt").over(w).cast("double"))
      .withColumn("__n",
        sum("__cnt").over(Window.partitionBy(gs: _*)).cast("double"))
      .withColumn("__start", col("__cum") - col("__cnt"))
    val pAggs = ps.map { case (name, p) =>
      val rowTarget = lit(p) * (col("__n") - 1)
      def covers(r: org.apache.spark.sql.Column) =
        col("__start") <= r && r < col("__cum")
      val lower = max(when(covers(floor(rowTarget)), col("__x")))
      val upper = max(when(covers(ceil(rowTarget)), col("__x")))
      val target = lit(p) * (max(col("__n")) - 1)
      (lower + (upper - lower) * (target - floor(target))).as(name)
    }
    ranked.groupBy(gs: _*).agg(pAggs.head, pAggs.tail: _*)
  }

  private def crossCheck(rows: Seq[(String, Double)], clue: String): Unit = {
    val long = rows.toDF("g", "x")
    val a = ExactPercentiles.byGroupsSketched(long, Seq("g"), "x", ps)
      .collect().map(r => r.getString(0) -> r).toMap
    val b = byGroupsSorted(long, Seq("g"), "x", ps)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(a.keySet == b.keySet, clue)
    for (g <- a.keySet; (name, _) <- ps) {
      val va = a(g).getAs[Double](name)
      val vb = b(g).getAs[Double](name)
      assert(!va.isNaN && math.abs(va - vb) < 1e-12,
        s"$clue: group $g $name sketched=$va sorted=$vb")
    }
  }

  test("sketched kernel matches sorted kernel on mixed distributions") {
    val rng = new scala.util.Random(7)
    val highCard = Seq.fill(5000)("hc" -> rng.nextDouble() * 1000)
    val dupHeavy = Seq.fill(5000)("dup" -> (rng.nextInt(7).toDouble))
    // half the mass on one single value: percentile brackets land ON it
    val spiked = Seq.fill(2500)("spike" -> 42.0) ++
      Seq.fill(2500)("spike" -> rng.nextDouble() * 100)
    val tiny1 = Seq("t1" -> 3.14)
    val tiny2 = Seq("t2" -> 1.0, "t2" -> 2.0)
    // n = 21 makes p·(n−1) integral for q1/med/p95 (exact-hit ranks)
    val exactHit = (0 to 20).map(i => "eh" -> i.toDouble)
    crossCheck(highCard ++ dupHeavy ++ spiked ++ tiny1 ++ tiny2 ++ exactHit,
      "mixed")
  }

  test("sketched AND reference kernels match builtin exact percentile") {
    val rng = new scala.util.Random(11)
    val rows = Seq.tabulate(4000)(i => ("g" + i % 3) -> rng.nextGaussian() * 50)
    val long = rows.toDF("g", "x")
    val ours = ExactPercentiles.byGroupsSketched(long, Seq("g"), "x", ps)
      .collect().map(r => r.getString(0) -> r).toMap
    val ref = byGroupsSorted(long, Seq("g"), "x", ps)
      .collect().map(r => r.getString(0) -> r).toMap
    val builtin = long.groupBy("g")
      .agg(percentile(col("x"), lit(0.05)).as("p05"),
        percentile(col("x"), lit(0.25)).as("q1"),
        percentile(col("x"), lit(0.5)).as("med"),
        percentile(col("x"), lit(0.95)).as("p95"))
      .collect().map(r => r.getString(0) -> r).toMap
    for (g <- builtin.keySet; (name, _) <- ps) {
      assert(math.abs(ours(g).getAs[Double](name) -
        builtin(g).getAs[Double](name)) < 1e-9, s"sketched $g $name")
      // the parity reference must itself agree with the independent
      // oracle, or crossCheck could bless two identically-wrong kernels
      assert(math.abs(ref(g).getAs[Double](name) -
        builtin(g).getAs[Double](name)) < 1e-9, s"sorted $g $name")
    }
  }

  test("refinement path: candidate count capped independent of n, result exact") {
    // accuracy=100, cap=200 → the theoretical screen (10n/accuracy)
    // trips for n > 2000, forcing bracket refinement. A 10× larger
    // group must obey the SAME cap — the n-independence contract.
    val ps2 = Seq("q1" -> 0.25, "med" -> 0.5, "p95" -> 0.95)
    val rng = new scala.util.Random(13)
    for (n <- Seq(5000, 50000)) {
      val long = Seq.fill(n)("g" -> rng.nextDouble() * 1e6).toDF("g", "x")
      val (hist, state) = ExactPercentiles.bracketedState(
        long, Seq("g"), "x", ps2, accuracy = 100, candidateCap = 200)
      val counts = hist.join(state, Seq("g"))
        .groupBy("g")
        .agg(ps2.indices.map(i => sum(when(
          col("__x") >= col(s"__lo_$i") && col("__x") <= col(s"__hi_$i"),
          lit(1L))).as(s"c$i")).reduce((a, b) => greatest(a, b)).as("worst"))
        .collect()
      assert(counts.nonEmpty)
      counts.foreach(r => assert(r.getAs[Long]("worst") <= 200L,
        s"n=$n in-bracket candidates ${r.getAs[Long]("worst")} > cap 200"))
      // and the refined kernel stays exact
      val a = ExactPercentiles.byGroupsSketched(long, Seq("g"), "x", ps2,
        accuracy = 100, candidateCap = 200).collect().head
      val b = byGroupsSorted(long, Seq("g"), "x", ps2).collect().head
      for ((name, _) <- ps2)
        assert(math.abs(a.getAs[Double](name) - b.getAs[Double](name)) < 1e-12,
          s"n=$n $name refined=${a.getAs[Double](name)} sorted=${b.getAs[Double](name)}")
    }
  }

  test("refinement path releases its persists (bounded retention)") {
    // The refinement path persists the value histogram and checkpoints
    // the bracket state per round; both must be RELEASED once the
    // query completes — retaining an O(distinct values) frame per
    // profiled table is a scale leak (same class as the CC-loop fix).
    // Only the final state checkpoint may survive.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val ps2 = Seq("med" -> 0.5)
    val rng = new scala.util.Random(23)
    val long = Seq.fill(20000)("g" -> rng.nextDouble() * 1e6).toDF("g", "x")
    val out = ExactPercentiles.byGroupsSketched(long, Seq("g"), "x", ps2,
      accuracy = 100, candidateCap = 200).collect()
    assert(out.nonEmpty)
    val retained = spark.sparkContext.getPersistentRDDs.size
    assert(retained <= 1,
      s"$retained persisted RDDs retained after a refinement-path query (expected ≤ 1: the final state checkpoint)")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("refinement takes over the screen state: one checkpoint, no copy job") {
    import graft.ops.StagePersists
    val rng = new scala.util.Random(23)
    val long = Seq.fill(20000)("g" -> rng.nextDouble() * 1e6).toDF("g", "x")
    // a state already under the cap is returned as is: the candidate
    // count is the only work, no checkpoint copies it
    val hist = long.groupBy($"g", $"x".as("__x")).agg(count(lit(1)).as("__cnt"))
    val state0 = StagePersists.checkpoint(long.groupBy("g")
      .agg(count(lit(1)).as("__na"))
      .select($"g", $"__na", lit(Double.NegativeInfinity).as("__lo_0"),
        lit(Double.PositiveInfinity).as("__hi_0")))
    var out: org.apache.spark.sql.DataFrame = null
    val roundZero = jobsOf {
      out = ExactPercentiles.refineBrackets(hist, state0, Seq("g"), Seq(0.5),
        cap = 1000000)
    }
    assert(out eq state0)
    // re-checkpointing the state it was handed cost one job more: 6
    assert(roundZero == 5, s"$roundZero jobs")
    StagePersists.free(state0)
    // the whole refinement-path call: 24 jobs with the second
    // checkpoint of the screen state
    val jobs = jobsOf(ExactPercentiles.byGroupsSketched(long, Seq("g"), "x",
      Seq("med" -> 0.5), accuracy = 100, candidateCap = 200).collect())
    assert(jobs == 23, s"$jobs jobs")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("refinement handles duplicate-heavy and tiny-gap distributions") {
    val ps2 = Seq("med" -> 0.5)
    // 90% of mass on one value, the rest microscopically spread around
    // it: bins collapse onto near-identical doubles, exercising the
    // width-shrink progress argument
    val rng = new scala.util.Random(17)
    val rows = Seq.fill(9000)("g" -> 5.0) ++
      Seq.fill(3000)("g" -> (5.0 + (rng.nextDouble() - 0.5) * 1e-9))
    val long = rows.toDF("g", "x")
    val a = ExactPercentiles.byGroupsSketched(long, Seq("g"), "x", ps2,
      accuracy = 100, candidateCap = 200).collect().head
    val b = byGroupsSorted(long, Seq("g"), "x", ps2).collect().head
    assert(a.getAs[Double]("med") == b.getAs[Double]("med"))
  }

  test("groups with only nulls are absent; null values ignored") {
    val long = Seq(("a", Some(1.0)), ("a", None), ("b", None))
      .toDF("g", "x")
    val out = ExactPercentiles.byGroupsSketched(long, Seq("g"), "x",
      Seq("med" -> 0.5)).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a"))
    assert(out.head.getAs[Double]("med") == 1.0)
  }
}
