package graft.profile

import graft.ops.StagePersists
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exact interpolated percentiles by group — same math as SQL
  * `quantile_cont` (index p·(n−1), linear interpolation between the
  * bracketing ranks).
  *
  * Spark's builtin exact `percentile` is an ObjectHashAggregate that
  * materializes a value→count map per partition; on high-cardinality
  * doubles that map IS the data and the aggregate degrades badly
  * (measured 20 s vs 3 s on 600 k×3 values, and 400 s on a wide
  * table). This kernel instead aggregates a (group, value) → count
  * histogram first — map-side combine shrinks the shuffle to distinct
  * values — and reads the bracketing order statistics off a bounded
  * candidate set with a cumulative-walk `aggregate` expression.
  */
object ExactPercentiles {

  /** Input: a long frame with `groupCol` and numeric `valueCol` (nulls
    * ignored). Output: one row per group with one column per requested
    * percentile; groups with no values are absent. */
  def byGroup(long: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)],
      maxGroupRows: Option[Long] = None): DataFrame =
    byGroups(long, Seq(groupCol), valueCol, ps, maxGroupRows)

  /** Default kernel: the sketch-bracketed exact path — every stage is a
    * partially-aggregable groupBy, so it parallelizes within a group
    * (the window kernel serializes each group into one task). */
  def byGroups(long: DataFrame, groupCols: Seq[String], valueCol: String,
      ps: Seq[(String, Double)],
      maxGroupRows: Option[Long] = None): DataFrame =
    byGroupsSketched(long, groupCols, valueCol, ps,
      maxGroupRows = maxGroupRows)

  /** Exact percentiles with NO per-group sort anywhere and a
    * group-size-INDEPENDENT memory bound — the 100 TB path.
    *
    * A `percentile_approx` sketch (rank error ≤ n/accuracy,
    * Greenwald-Khanna guarantee) brackets each target percentile p with
    * values at p±4/accuracy; the exact answer's order statistics are
    * then guaranteed to lie inside the bracket. One more pass computes,
    * per group: the exact count below the bracket (a plain conditional
    * sum) and the in-bracket distinct-value histogram, whose sorted
    * candidates a cumulative-walk `aggregate` expression turns into the
    * exact interpolated answer. Every aggregation partial-combines
    * map-side: a single group spread over 1000 executors does 1/1000 of
    * the work on each, where a window kernel would sort the whole group
    * on one.
    *
    * The collected candidate set is bounded by `candidateCap`
    * regardless of n: the sketch bracket covers ≤ ~10n/accuracy ranks,
    * so when 10·n_max/accuracy exceeds the cap, [[refineBrackets]]
    * narrows each over-cap bracket by equi-width bin counting — a
    * groupBy(group, bin) pass whose per-group collected state is ≤
    * bins+2 rows — until every group's in-bracket DISTINCT count fits
    * the cap. Each refinement divides the bracket's value width by
    * `RefineBins`, so the loop is O(log_bins(width/gap)) rounds and in
    * practice 0 rounds below ~10^7 rows per group at the default cap.
    *
    * Brackets only select candidates — the result is exact no matter
    * how the sketch merges, so percentile_approx's partition-order
    * sensitivity cannot leak into the output. Coverage failure (a
    * bracket narrower than the guarantee promises) would surface as a
    * NULL percentile, not a wrong value; the parity spec cross-checks
    * against the window kernel on adversarial distributions. */
  def byGroupsSketched(long: DataFrame, groupCols: Seq[String],
      valueCol: String, ps: Seq[(String, Double)],
      accuracy: Int = 1000, candidateCap: Int = 131072,
      maxGroupRows: Option[Long] = None): DataFrame = {
    val gs = groupCols.map(g => col(s"`$g`"))
    val (hist, state) = bracketedState(long, groupCols, valueCol, ps,
      accuracy, candidateCap, maxGroupRows)
    val joined = hist.join(broadcast(state), groupCols)
    val bAggs: Seq[Column] =
      sum("__cnt").cast(DoubleType).as("__n") +: ps.indices.toSeq.flatMap { i =>
        Seq(
          coalesce(sum(when(col("__x") < col(s"__lo_$i"), col("__cnt"))), lit(0L))
            .as(s"__below_$i"),
          array_sort(collect_list(when(
            col("__x") >= col(s"__lo_$i") && col("__x") <= col(s"__hi_$i"),
            struct(col("__x").as("x"), col("__cnt").as("cnt")))))
            .as(s"__cand_$i"))
      }
    val b = joined.groupBy(gs: _*).agg(bAggs.head, bAggs.tail: _*)
    // cumulative walk over the sorted candidate histogram: carry
    // (cum rank, bracketing lo/hi once their rank interval is hit)
    val outCols = gs ++ ps.zipWithIndex.map { case ((name, p), i) =>
      val target = lit(p) * (col("__n") - 1)
      val loRank = floor(target)
      val hiRank = ceil(target)
      def pick(rank: Column, field: String, acc: Column, e: Column): Column =
        when(acc.getField(field).isNull && rank >= acc.getField("cum") &&
          rank < acc.getField("cum") + e.getField("cnt"), e.getField("x"))
          .otherwise(acc.getField(field))
      aggregate(
        col(s"__cand_$i"),
        struct(col(s"__below_$i").cast("bigint").as("cum"),
          lit(null).cast(DoubleType).as("lo"),
          lit(null).cast(DoubleType).as("hi")),
        (acc, e) => struct(
          (acc.getField("cum") + e.getField("cnt")).as("cum"),
          pick(loRank, "lo", acc, e).as("lo"),
          pick(hiRank, "hi", acc, e).as("hi")),
        acc => acc.getField("lo") +
          (acc.getField("hi") - acc.getField("lo")) * (target - loRank))
        .as(name)
    }
    b.select(outCols: _*)
  }

  /** The (value-histogram, bracket-state) pair the final exact walk
    * consumes: hist = (group, __x, __cnt) distinct-value counts; state =
    * one row per group with __na and per-percentile [__lo_i, __hi_i]
    * value brackets guaranteed to cover the bracketing order statistics
    * and hold ≤ candidateCap distinct values. Exposed private[graft]
    * so the bound spec can measure the in-bracket candidate count
    * directly.
    *
    * `maxGroupRows`: a caller-supplied upper bound on rows per group
    * (e.g. the table row count a profiler already measured for its
    * exact/sketch switch). When the bound proves 10n/accuracy ≤
    * candidateCap, the screen job is skipped and the whole state stays
    * LAZY — the sketch then evaluates inside the caller's job, where
    * its stages overlap the other branches (measured 2× on the p2
    * profile, whose unpivot stages have few tasks and live or die by
    * stage overlap). Without it, one eager control-plane job decides. */
  private[graft] def bracketedState(long: DataFrame, groupCols: Seq[String],
      valueCol: String, ps: Seq[(String, Double)],
      accuracy: Int, candidateCap: Int,
      maxGroupRows: Option[Long] = None): (DataFrame, DataFrame) = {
    require(2L * accuracy <= candidateCap,
      s"candidateCap ($candidateCap) must cover the small-group path (2*accuracy = ${2L * accuracy})")
    val x0 = col(s"`$valueCol`").cast(DoubleType)
    val gs = groupCols.map(g => col(s"`$g`"))
    val present = long.filter(x0.isNotNull).select(gs :+ x0.as("__x"): _*)
    val delta = 4.0 / accuracy
    val brackets: Seq[Column] =
      count(lit(1)).as("__na") +: ps.zipWithIndex.map { case ((_, p), i) =>
        percentile_approx(col("__x"),
          array(lit(math.max(0.0, p - delta)), lit(math.min(1.0, p + delta))),
          lit(accuracy)).as(s"__b_$i")
      }
    val sketch = present.groupBy(gs: _*).agg(brackets.head, brackets.tail: _*)
    val hist = present.groupBy(gs :+ col("__x"): _*)
      .agg(count(lit(1)).as("__cnt"))
    // Small groups (n < 2·accuracy) take the whole histogram as
    // candidates, encoded as a ±∞ bracket: below that size the sketch's
    // rank margin (3εn) can undershoot the ≤2-rank slack between p·n and
    // the floor/ceil order statistics of p·(n−1), and "whole histogram"
    // is ≤ 2·accuracy rows — under the cap by the require above. Large
    // groups keep the bracket, whose margin 3εn ≥ 6 ranks then provably
    // covers.
    val small = col("__na") < lit(2L * accuracy)
    val lazyState = sketch.select(gs ++ Seq(col("__na")) ++ ps.indices.flatMap(i => Seq(
      when(small, lit(Double.NegativeInfinity))
        .otherwise(col(s"__b_$i").getItem(0)).as(s"__lo_$i"),
      when(small, lit(Double.PositiveInfinity))
        .otherwise(col(s"__b_$i").getItem(1)).as(s"__hi_$i"))): _*)
    // Theoretical screen: a non-small group's bracket spans ≤
    // 8n/accuracy target ranks plus ≤ 2·εn GK slack → ≤ 10n/accuracy
    // candidate values.
    def underCap(n: Long): Boolean = 10.0 * n / accuracy <= candidateCap
    if (maxGroupRows.exists(underCap)) return (hist, lazyState)
    // No caller bound: one eager control-plane job decides. The
    // checkpoint runs the sketch aggregation ONCE for the screen and
    // the final join (it's a tiny frame, one row per group); the
    // refinement path hands it to refineBrackets, which frees it once
    // a refined state supersedes it, so one state checkpoint survives
    // the call.
    val state = StagePersists.checkpoint(lazyState)
    val naMax = state.agg(max(col("__na"))).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)
    if (!underCap(naMax)) {
      // the scoped persist covers refineBrackets' ≤ maxRounds·(1+|ps|)
      // rescans of the histogram; the refined state it returns is
      // eagerly checkpointed (independent of hist), so the persist is
      // released on return rather than retained past the query — the
      // caller's final walk recomputes hist once, which beats pinning
      // an O(distinct values) frame on the executors indefinitely.
      StagePersists.scoped(Seq(hist)) {
        (hist, refineBrackets(hist, state, groupCols, ps.map(_._2), candidateCap))
      }
    } else (hist, state)
  }

  /** Bins per refinement round: each round divides every over-cap
    * bracket's value width by this, so even a bracket spanning the full
    * double range hits ULP separation within a handful of rounds. */
  val RefineBins = 4096

  /** Narrows each group's per-percentile bracket until the in-bracket
    * DISTINCT value count is ≤ `cap` (group-size-independent collected
    * state). One round = a distinct-count check plus, per percentile, a
    * groupBy(group, bin) equi-width bin pass whose per-group collected
    * walk state is ≤ RefineBins+2 rows. The new bracket is
    * [min x of the bin holding rank ⌊p(n−1)⌋, max x of the bin holding
    * ⌈p(n−1)⌉] — real data values, so the final exact walk is
    * unchanged.
    *
    * Takes ownership of `state0`, a checkpointed state: it is returned
    * as is when already under the cap, else freed once the first
    * refined state supersedes it. Each round's checkpoint frees the one
    * it supersedes, so ≤ 2 state snapshots are ever live and exactly
    * one survives the call, on the exception path too. */
  private[graft] def refineBrackets(hist: DataFrame, state0: DataFrame,
      groupCols: Seq[String], ps: Seq[Double], cap: Int,
      maxRounds: Int = 8): DataFrame = {
    val gs = groupCols.map(g => col(s"`$g`"))
    var state = state0
    var round = 0
    while (round < maxRounds) {
      val joined = hist.join(broadcast(state), groupCols)
      val candAggs = ps.indices.map(i => sum(when(
        col("__x") >= col(s"__lo_$i") && col("__x") <= col(s"__hi_$i"),
        lit(1L))).as(s"__c_$i"))
      val worstCols = ps.indices.map(i => coalesce(col(s"__c_$i"), lit(0L)))
      val worst = joined.groupBy(gs: _*).agg(candAggs.head, candAggs.tail: _*)
        .agg(max(worstCols.reduce((a, b) => greatest(a, b)))).collect()
        .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
        .getOrElse(0L)
      if (worst <= cap) return state
      val next = StagePersists.checkpoint(ps.indices.foldLeft(state) { (s, i) =>
        refineOne(hist, s, groupCols, ps(i), i)
      })
      StagePersists.free(state)
      state = next
      round += 1
    }
    throw new IllegalStateException(
      s"percentile bracket refinement did not reach cap=$cap in $maxRounds rounds " +
        s"(${RefineBins}^$maxRounds width reduction exceeds double precision — " +
        "this indicates NaN/corrupt values in the column)")
  }

  /** One equi-width bin refinement of percentile `i`'s bracket. Bin −1
    * collects everything below the bracket (the exact rank offset), bin
    * RefineBins everything above; the walk locates the bins holding the
    * two bracketing order statistics of rank p·(n−1). Groups whose
    * bracket the sketch failed to cover (pick never fires) keep their
    * old bracket and surface NULL downstream, as documented. */
  private def refineOne(hist: DataFrame, state: DataFrame,
      groupCols: Seq[String], p: Double, i: Int): DataFrame = {
    val gs = groupCols.map(g => col(s"`$g`"))
    val lo = col(s"__lo_$i")
    val hi = col(s"__hi_$i")
    val x = col("__x")
    val w = (hi - lo) / lit(RefineBins.toDouble)
    val bin = when(x < lo, lit(-1))
      .when(x > hi, lit(RefineBins))
      .when(w <= lit(0.0) || !isnotnull(w) || w === Double.PositiveInfinity, lit(0))
      .otherwise(least(greatest(floor((x - lo) / w).cast("int"), lit(0)),
        lit(RefineBins - 1)))
    val g1 = hist.join(broadcast(state), groupCols)
      .groupBy(gs :+ bin.as("__bin"): _*)
      .agg(sum("__cnt").as("__c"), min(x).as("__mn"), max(x).as("__mx"))
    val g2 = g1.groupBy(gs: _*)
      .agg(array_sort(collect_list(struct(col("__bin"), col("__c"),
        col("__mn"), col("__mx")))).as("__bs"))
      .join(state, groupCols)
    val target = lit(p) * (col("__na") - 1).cast(DoubleType)
    val loRank = floor(target)
    val hiRank = ceil(target)
    def pick(rank: Column, field: String, value: Column, acc: Column, e: Column): Column =
      when(acc.getField(field).isNull && e.getField("__bin") >= 0 &&
        e.getField("__bin") < RefineBins &&
        rank >= acc.getField("cum") && rank < acc.getField("cum") + e.getField("__c"),
        value).otherwise(acc.getField(field))
    val walked = aggregate(
      col("__bs"),
      struct(lit(0L).as("cum"),
        lit(null).cast(DoubleType).as("lo"),
        lit(null).cast(DoubleType).as("hi")),
      (acc, e) => struct(
        (acc.getField("cum") + e.getField("__c")).as("cum"),
        pick(loRank, "lo", e.getField("__mn"), acc, e).as("lo"),
        pick(hiRank, "hi", e.getField("__mx"), acc, e).as("hi")))
    g2.withColumn("__w", walked)
      .withColumn(s"__lo_$i", coalesce(col("__w.lo"), lo))
      .withColumn(s"__hi_$i", coalesce(col("__w.hi"), hi))
      .drop("__bs", "__w")
  }
}
