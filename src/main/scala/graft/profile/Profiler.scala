package graft.profile

import graft.model.ColumnProfile
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed column profiler — the engine's heart (SURVEY.md §2.4
  * A1-A17; reference: profiling/profiler.py:169-357).
  *
  * Design for 100 TB — and for Catalyst:
  *  - Every pass operates on the SAME long format (column, value): one
  *    scan exploded to #rows × #cols rows, aggregated by column key with
  *    map-side partial aggregation — the shuffle carries only
  *    #columns × #partitions pre-aggregated rows, never data rows.
  *  - The aggregate expressions are IDENTICAL for every table (no
  *    per-column expression trees), so whole-stage codegen compiles the
  *    profiling kernel once per JVM and Janino's cache serves every
  *    subsequent table — a per-column wide agg was measured 10-20×
  *    slower purely on codegen compilation (column names baked into the
  *    generated source defeat the cache).
  *  - Quartiles (object-buffer `percentile`) live in a separate
  *    aggregation job: fusing an ObjectHashAggregate with the ~30
  *    codegen-friendly features disables whole-stage codegen for all of
  *    them.
  *  - Pass-A, mode, distinct count and dominant pattern are ONE fold
  *    of decomposable accumulators over the value histogram; only
  *    quartiles, first digits, distinct chars and keywords add a
  *    branch. The job count depends on the requested feature groups,
  *    never on #columns (the reference's per-column Python loop must
  *    not be translated literally).
  *  - `exact = false` switches distinct-chars to HLL sketches and
  *    quartiles to percentile_approx — the configuration for scale;
  *    exact mode exists for the DuckDB-oracle tests.
  * The result has cardinality O(#columns): it broadcasts anywhere.
  */
final case class ProfilerConfig(
    exact: Boolean = true,
    topK: Int = 10,
    /** Which optional feature groups to compute. Pass-A scalar features
      * are always on; mode and pattern fold into Pass-A, the rest are
      * independent join branches that cost real jobs — callers that only
      * read a subset should request only that subset (Catalyst cannot
      * prune an unused outer-join branch).
      * Valid: quartiles, mode, pattern, digits, chars, keywords. */
    features: Set[String] = Profiler.AllFeatures,
    /** Compute the per-char census with the fused native
      * [[graft.functions.CharClassCensus]] Expression (one codegen'd
      * byte loop) instead of four regexp_replace passes. Semantics are
      * identical (spec-checked). Measured on sf0.1: 6× faster on the
      * text-heavy documents table cold (3.6s → 0.6s — no regex Pattern
      * JIT), parity on short numeric cells warm; the regex formulation
      * also allocates a rewritten string per class per cell, which
      * matters at real document lengths. */
    fusedCensus: Boolean = true,
    /** Upper bound on rows per profiled table, when the caller already
      * knows it (the Auto entry points measured it for the exact/sketch
      * switch). Lets the exact-percentile kernel prove its candidate
      * bound WITHOUT an extra screening job. */
    maxGroupRows: Option[Long] = None)

object Profiler {

  val AllFeatures: Set[String] =
    Set("quartiles", "mode", "pattern", "digits", "chars", "keywords")

  private val INT_RE = "^[+-]?\\d+$"
  private val FLOAT_RE = "^[+-]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][+-]?\\d+)?$"
  private val BOOL_RE = "^(?i)(true|false|yes|no|t|f|y|n)$"
  private val DATE_RE = "^\\d{4}-\\d{2}-\\d{2}([ T].*)?$"
  private val NUM_CELL_RE = "^[+-]?\\d+(\\.\\d+)?$"
  private val ALPHA_CELL_RE = "^[A-Za-z ]+$"

  /** Missing = SQL NULL or blank string (reference reads CSV with
    * keep_default_na=False and treats "" as the null marker). */
  private def isMissing(s: Column): Column = s.isNull || trim(s) === ""

  /** One scan exploded to (column, value) long format; missing values
    * KEPT (null-counting features need them). */
  def longFormat(df: DataFrame): DataFrame = {
    val entries = df.columns.toSeq.map { c =>
      struct(lit(c).as("column"), col(s"`$c`").cast(StringType).as("value"))
    }
    df.select(explode(array(entries: _*)).as("cv"))
      .select(col("cv.column").as("column"), col("cv.value").as("value"))
  }

  /** Long format over a whole lake slice: every table's rows in one
    * frame keyed by (table, column). One union of scans → one shuffle
    * per aggregation pass for ALL tables, instead of a job set per
    * table. */
  private[graft] def longFormatMany(tables: Seq[(String, DataFrame)]): DataFrame =
    tables.map { case (t, df) =>
      longFormat(df).select(lit(t).as("table"), col("column"), col("value"))
    }.reduce(_.unionByName(_))

  /** Long format restricted to present (non-missing) values. */
  def longValues(df: DataFrame): DataFrame =
    longFormat(df).filter(!isMissing(col("value")))

  /** One decomposable Pass-A accumulator: `agg` is sum, min or max,
    * each its own combiner, so partial results over any finer grouping
    * of the rows (the per-pattern level of the fold in [[assemble]])
    * merge into the column's result by applying `agg` again. */
  private final case class Acc(name: String, agg: Column => Column, in: Column) {
    def part: Column = agg(in).as(name)
    def combine: Column = agg(col(name)).as(name)
  }

  /** Pass-A accumulators over the long format — table-independent
    * expressions, so the profiling kernel compiles once per JVM.
    * [[profileColumns]] finishes them into the profile's features.
    *
    * Every accumulator is weighted by `w`: `lit(1L)` when aggregating
    * data rows directly, or the histogram count when aggregating the
    * (table, column, value) → cnt frame — the per-value expressions
    * (census, type votes, word splits, regex scans) then evaluate once
    * per DISTINCT value instead of once per row, with bit-identical
    * results (counts and sums scale linearly in the multiplicity;
    * min/max are multiplicity-blind; the decimal sum is exact under
    * any grouping of its terms). */
  private def passAAccs(cfg: ProfilerConfig, w: Column): Seq[Acc] = {
    val s = col("value")
    val miss = isMissing(s)
    val nn = !miss
    val d = s.try_cast(DoubleType)
    def cntIf(name: String, p: Column) = Acc(name, sum, when(p, w))
    def perCell(name: String, x: Column) = Acc(name, sum, when(nn, x.cast(LongType) * w))
    // fused path: ONE byte-loop per cell instead of 4 regex rewrites
    val census = graft.functions.CharClassCensus(s)
    def chars(name: String, i: Int, re: String) = perCell(name,
      if (cfg.fusedCensus) census.getItem(i) else length(regexp_replace(s, re, "")))
    val words = split(trim(s), "\\s+")
    // word-class counts (A5; reference: profiling/profiler.py:212-227):
    // whitespace tokens classified whole-token
    def wordClass(name: String, re: String) =
      perCell(name, size(filter(words, t => t.rlike(re))))
    // fused path: ONE byte-loop evaluates all six type votes per cell
    // (regex parity spec-checked, incl. trailing-terminator semantics)
    val vote = graft.functions.CellTypeVote(s)
    def cells(name: String, bit: Long, re: String) = cntIf(name, nn &&
      (if (cfg.fusedCensus) vote.bitwiseAND(lit(bit)) =!= 0 else s.rlike(re)))
    import graft.functions.CellTypeVote._
    Seq(
      Acc("row_count", sum, w),
      cntIf("null_count", miss),
      chars("alpha_chars", 0, "[^A-Za-z]"),
      chars("digit_chars", 1, "[^0-9]"),
      chars("punct_chars", 2, "[^\\p{Punct}]"),
      chars("space_chars", 3, "[^\\s]"),
      perCell("total_chars", length(s)),
      perCell("word_count", size(words)),
      wordClass("alpha_words", "^[A-Za-z]+$"),
      wordClass("digit_words", "^[0-9]+$"),
      wordClass("punct_words", "^\\p{Punct}+$"),
      cells("numeric_cells", NumCellBit, NUM_CELL_RE),
      cells("alpha_cells", AlphaCellBit, ALPHA_CELL_RE),
      cells("int_cells", IntBit, INT_RE),
      cells("float_cells", FloatBit, FLOAT_RE),
      cells("bool_cells", BoolBit, BOOL_RE),
      cells("date_cells", DateBit, DATE_RE),
      Acc("min_len", min, when(nn, length(s))),
      Acc("max_len", max, when(nn, length(s))),
      cntIf("num_count", d.isNotNull),
      Acc("num_min", min, d),
      Acc("num_max", max, d),
      // decimal-exact sum for the mean: deterministic under any
      // partitioning and under the histogram grouping. The value cast
      // must admit int64-magnitude columns (epoch nanos ~ 1.7e18 — a
      // (24,6) cast throws NUMERIC_VALUE_OUT_OF_RANGE under ANSI for any
      // value >= 10^18): (30,6)×(13,0) caps to (38,6), which is still
      // exact while the actual value·count product stays below 10^32.
      Acc("num_sum", sum, d.cast(DecimalType(30, 6)) * w.cast(DecimalType(13, 0))),
      Acc("max_digits", max, when(nn, length(regexp_replace(s, "[^0-9]", "")))),
      Acc("max_decimals", max, length(regexp_extract(s, "^[+-]?\\d+\\.(\\d*?)0*$", 1))))
  }

  /** Mode and distinct-count accumulators; over the value histogram
    * only (`cnt` is a value's multiplicity). A null ordering struct
    * keeps missing values out of the mode, and the min over
    * (−cnt, value) breaks count ties toward the smallest value. */
  private def modeAccs: Seq[Acc] = {
    val nn = !isMissing(col("value"))
    Seq(
      Acc("mode_key", min, when(nn, struct((-col("cnt")).as("n"), col("value").as("v")))),
      Acc("mode_max", max, when(nn, col("cnt"))),
      Acc("mode_sum", sum, when(nn, col("cnt"))),
      Acc("distinct_count", sum, when(nn, lit(1L))))
  }

  /** Dominant pattern over the per-pattern partials of the fold's first
    * level: a pattern's weight is its present-value count, so a pattern
    * only blank or NULL cells generalize to never wins, and count ties
    * break toward the smallest pattern. */
  private def patternAggs: Seq[Column] = {
    val n = col("row_count") - coalesce(col("null_count"), lit(0L))
    val present = when(n > 0, n)
    Seq(
      min(when(n > 0, struct((-n).as("n"), col("pattern").as("v")))).as("pattern_key"),
      (max(present).cast(DoubleType) / sum(present).cast(DoubleType))
        .as("dominant_pattern_ratio"))
  }

  /** The finishing projection: every profile column from the folded
    * accumulators and the joined feature branches. A feature group that
    * was not requested gets its schema-stable default (distinct_count =
    * -1 marks "not computed" so type inference does not mistake it for
    * a real low cardinality). */
  private def profileColumns(cfg: ProfilerConfig): Seq[Column] = {
    def n(name: String): Column = coalesce(col(name), lit(0L))
    // ANSI mode (Spark 4 default) throws on x/0 — guard every ratio
    def safeDiv(a: Column, b: Column, dflt: Column): Column =
      when(b =!= 0, a / b).otherwise(dflt)
    def feature(f: String, c: Column, dflt: Column): Column =
      if (cfg.features(f)) coalesce(c, dflt) else dflt
    val rows = n("row_count")
    val nulls = n("null_count")
    val nnCnt = rows - nulls
    val charCols = Seq("alpha_chars", "digit_chars", "punct_chars", "space_chars")
    val wordCols = Seq("alpha_words", "digit_words", "punct_words")
    def ratio(c: String): Column =
      safeDiv(n(c).cast(DoubleType), nnCnt.cast(DoubleType), lit(0.0))
    val distinct =
      if (cfg.features("mode")) coalesce(col("distinct_count"), lit(0L)) else lit(-1L)
    val uniqueRatio = distinct.cast(DoubleType) / rows.cast(DoubleType)
    // type-vote cascade (reference: profiling/profiler.py:74-127; vote
    // threshold 0.7, categorical when few distinct values)
    val t = lit(0.7)
    val inferredType = when(rows === nulls, "empty")
      .when(ratio("date_cells") >= t, "date")
      .when(ratio("bool_cells") >= t, "boolean")
      .when(ratio("int_cells") >= t, "integer")
      .when(ratio("float_cells") >= t, "float")
      .when(distinct > 0 && distinct <= lit(20) && uniqueRatio <= lit(0.1), "categorical")
      .otherwise("string")
    Seq(col("table"), col("column"), rows.as("row_count"), nulls.as("null_count"),
      (nulls.cast(DoubleType) / rows.cast(DoubleType)).as("null_ratio"),
      distinct.as("distinct_count"), uniqueRatio.as("unique_ratio")) ++
    charCols.map(c => n(c).as(c)) ++ Seq(
      charCols.map(n).foldLeft(n("total_chars"))(_ - _).as("misc_chars"),
      n("word_count").as("word_count")) ++
    wordCols.map(c => n(c).as(c)) ++ Seq(
      wordCols.map(n).foldLeft(n("word_count"))(_ - _).as("misc_words"),
      safeDiv((n("total_chars") - n("space_chars")).cast(DoubleType),
        n("word_count").cast(DoubleType), lit(0.0)).as("avg_word_len"),
      n("numeric_cells").as("numeric_cells"),
      n("alpha_cells").as("alpha_cells"),
      nulls.as("empty_cells"),
      (nnCnt - n("numeric_cells") - n("alpha_cells")).as("other_cells"),
      // long, not int: DuckDB LENGTH() is BIGINT and the driver's hash
      // compare is dtype-sensitive (CORRECTNESS_r02 p1)
      coalesce(col("min_len"), lit(0)).cast(LongType).as("min_len"),
      coalesce(col("max_len"), lit(0)).cast(LongType).as("max_len"),
      safeDiv(n("total_chars").cast(DoubleType), nnCnt.cast(DoubleType), lit(0.0))
        .as("avg_len"),
      n("num_count").as("num_count"),
      coalesce(col("num_min"), lit(Double.NaN)).as("num_min"),
      coalesce(col("num_max"), lit(Double.NaN)).as("num_max"),
      safeDiv(col("num_sum").cast(DoubleType), n("num_count"), lit(Double.NaN))
        .as("num_mean")) ++
    Seq("num_q1", "num_median", "num_q3").map(q =>
      feature("quartiles", col(q), lit(Double.NaN)).as(q)) ++ Seq(
      coalesce(col("max_digits"), lit(0)).as("max_digits"),
      coalesce(col("max_decimals"), lit(0)).as("max_decimals"),
      ratio("int_cells").as("ratio_int"),
      ratio("float_cells").as("ratio_float"),
      ratio("bool_cells").as("ratio_bool"),
      ratio("date_cells").as("ratio_date"),
      inferredType.as("inferred_type"),
      feature("pattern", col("pattern_key").getField("v"), lit("")).as("dominant_pattern"),
      feature("pattern", col("dominant_pattern_ratio"), lit(0.0)).as("dominant_pattern_ratio"),
      feature("mode", col("mode_key").getField("v"), lit("")).as("mode_value"),
      feature("mode", col("mode_max").cast(DoubleType) / col("mode_sum").cast(DoubleType),
        lit(0.0)).as("mode_ratio"),
      feature("digits", col("first_digit_mode"), lit(0)).as("first_digit_mode"),
      feature("chars", col("distinct_chars"), lit(0L)).as("distinct_chars"),
      (if (cfg.features("keywords")) coalesce(col("top_keywords"), array())
       else array().cast("array<string>")).as("top_keywords"))
  }

  /** Quartiles in their own job: exact mode sorts (ExactPercentiles —
    * the builtin exact `percentile`'s value-map buffers degrade on
    * high-cardinality doubles); approx mode is one sketch aggregate. */
  private def quartilesFrame(present: DataFrame, cfg: ProfilerConfig): DataFrame =
    if (cfg.exact)
      ExactPercentiles.byGroups(
        present.select(col("table"), col("column"),
          col("value").try_cast(DoubleType).as("num")),
        Seq("table", "column"), "num",
        Seq("num_q1" -> 0.25, "num_median" -> 0.5, "num_q3" -> 0.75),
        maxGroupRows = cfg.maxGroupRows)
    else {
      val d = col("value").try_cast(DoubleType)
      val pcts = percentile_approx(d, array(lit(0.25), lit(0.5), lit(0.75)), lit(10000))
      present.groupBy("table", "column").agg(
        coalesce(pcts.getItem(0), lit(Double.NaN)).as("num_q1"),
        coalesce(pcts.getItem(1), lit(Double.NaN)).as("num_median"),
        coalesce(pcts.getItem(2), lit(Double.NaN)).as("num_q3"))
    }

  /** Generalize a value to its character-class pattern: digits→9,
    * letters→A, whitespace→space, punctuation kept
    * (reference: profiling/profiler.py:134-165). One fused byte pass
    * ([[graft.functions.PatternGeneralize]]); regex formulation kept
    * below as the parity-spec reference. */
  def patternOf(v: Column): Column = graft.functions.PatternGeneralize(v)

  /** The original three-rewrite formulation ([[patternOf]] must match
    * it byte for byte — spec-checked). */
  def patternOfRegex(v: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(v, "[0-9]", "9"), "[A-Za-z]", "A"), "\\s", " ")

  /** Frequency features. ALL of them are functions of the
    * (table, column, value) → count histogram, so that histogram is the
    * ONLY data-cardinality shuffle: mode, distinct count and dominant
    * pattern fold into the Pass-A aggregation over it ([[assemble]]),
    * the branches below consume the same frame, and the per-value work
    * (pattern generalization, tokenization, char explode) runs once per
    * DISTINCT value instead of once per row. Downstream shuffles carry
    * keyspace-sized data only. */
  private def valueHist(long: DataFrame): DataFrame =
    long.groupBy("table", "column", "value").agg(count(lit(1)).as("cnt"))

  /** Feature groups read from the histogram: all but quartiles. */
  private def histNeeded(cfg: ProfilerConfig): Boolean =
    Seq("mode", "pattern", "digits", "chars", "keywords").exists(cfg.features)

  /** Feature groups that read the histogram a SECOND time, as a branch
    * of their own beside the Pass-A fold. */
  private def histBranches(cfg: ProfilerConfig): Boolean =
    Seq("digits", "chars", "keywords").exists(cfg.features)

  private def firstDigitFrame(hist: DataFrame): DataFrame =
    hist.select(col("table"), col("column"), col("cnt"),
        regexp_extract(col("value"), "[1-9]", 0).as("fd"))
      .filter(col("fd") =!= "")
      .groupBy("table", "column", "fd").agg(sum("cnt").as("cnt"))
      .groupBy("table", "column").agg(
        min_by(col("fd"), struct((-col("cnt")).as("n"), col("fd")))
          .cast(IntegerType).as("first_digit_mode"))

  private def charsFrame(hist: DataFrame, cfg: ProfilerConfig): DataFrame =
    hist.select(col("table"), col("column"),
        explode(split(col("value"), "")).as("ch"))
      .groupBy("table", "column")
      .agg((if (cfg.exact) countDistinct(col("ch"))
            else approx_count_distinct(col("ch"))).cast(LongType).as("distinct_chars"))

  private def keywordsFrame(hist: DataFrame, cfg: ProfilerConfig): DataFrame = {
    val words = hist
      .select(col("table"), col("column"), col("cnt"),
        explode(split(lower(col("value")), "[^a-z0-9]+")).as("word"))
      .filter(length(col("word")) > 1 && !col("word").isin(StopWords.english: _*))
      .groupBy("table", "column", "word").agg(sum("cnt").as("cnt"))
    // salted two-phase top-k: a per-(column) window alone would buffer
    // a column's whole vocabulary in one task (ops/Scale.saltedTopK
    // documents the subset argument)
    graft.ops.Scale.saltedTopK(words, Seq(col("table"), col("column")),
        Seq(desc("cnt"), asc("word")), cfg.topK,
        saltOn = col("word"), rankCol = "rk")
      .groupBy("table", "column")
      .agg(collect_list(struct(col("rk"), col("word"))).as("kw"))
      .select(col("table"), col("column"),
        transform(array_sort(col("kw")), x => x.getField("word")).as("top_keywords"))
  }

  /** Like [[profile]] but picks exact vs sketch statistics from the
    * data size: exact quartiles/distinct-chars below `exactThreshold`
    * rows (small data, oracle-comparable), HLL + percentile_approx
    * above (exact `percentile` materializes a value→count map per
    * partition — measured 400 s on 600 k×11 values vs ~2 s for the
    * sketch; at 100 TB only sketches are viable). */
  /** The exact/sketch flag only reaches the quartiles and
    * distinct-chars branches; when neither feature is requested the
    * sizing counts (a full job per table — through the rebalance
    * repartition they shuffle every row just to count) are pure waste. */
  private def exactnessMatters(features: Set[String]): Boolean =
    features("quartiles") || features("chars")

  /** Row count with ROOT repartition/rebalance nodes unwrapped from the
    * plan: they are row-preserving, so the count is identical, but
    * counting THROUGH them shuffles every row just to size the job
    * (BENCH_r02 p2: a 600k-row full shuffle per sizing decision). The
    * stripped count stays a pure scan aggregate — parquet count(*)
    * reads row-group metadata, no column decode.
    *
    * Only the root chain is unwrapped (not a full-tree transform): a
    * repartition deeper in the plan may feed partition-dependent
    * expressions (spark_partition_id, monotonically_increasing_id in a
    * filter), where removing it would change the count. */
  private[graft] def cheapCount(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RebalancePartitions, Repartition, RepartitionByExpression}
    @scala.annotation.tailrec
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case Repartition(_, _, child) => unwrap(child)
      case r: RepartitionByExpression => unwrap(r.child)
      case r: RebalancePartitions => unwrap(r.child)
      case other => other
    }
    val stripped = unwrap(df.queryExecution.analyzed)
    org.apache.spark.sql.GraftSqlBridge.ofRows(df.sparkSession, stripped).count()
  }

  def profileAuto(df: DataFrame, table: String,
      exactThreshold: Long = 200000L,
      features: Set[String] = AllFeatures): DataFrame = {
    val n = if (exactnessMatters(features)) Some(cheapCount(df)) else None
    val exact = n.forall(_ <= exactThreshold)
    profile(df, table,
      ProfilerConfig(exact = exact, features = features, maxGroupRows = n))
  }

  /** [[profileMany]] with the exact/sketch switch of [[profileAuto]],
    * decided by the largest table in the set. */
  def profileManyAuto(tables: Seq[(String, DataFrame)],
      exactThreshold: Long = 200000L,
      features: Set[String] = AllFeatures): DataFrame = {
    val n = if (exactnessMatters(features))
      Some(tables.map(t => cheapCount(t._2)).max) else None
    val exact = n.forall(_ <= exactThreshold)
    profileMany(tables,
      ProfilerConfig(exact = exact, features = features, maxGroupRows = n))
  }

  /** Profile every column of `df`. Returns one row per column, schema
    * matching [[graft.model.ColumnProfile]]. */
  def profile(df: DataFrame, table: String, cfg: ProfilerConfig = ProfilerConfig()): DataFrame =
    profileMany(Seq(table -> df), cfg)

  /** Profile a whole set of tables in ONE query: the long formats union
    * into one frame keyed by (table, column), so every aggregation pass
    * shuffles once for all tables. The job count depends on the
    * requested feature groups only — never on #tables or #columns.
    * Lazy, so narrow gate queries keep Catalyst's column pruning. */
  def profileMany(tables: Seq[(String, DataFrame)],
      cfg: ProfilerConfig = ProfilerConfig()): DataFrame = {
    val long = longFormatMany(tables)
    assemble(long, if (histNeeded(cfg)) Some(valueHist(long)) else None, cfg)
  }

  /** [[profileMany]] collected on the driver, for callers that consume
    * the O(#columns) profile there (the multi-table pipeline, the
    * cluster queries). `columns` narrows the result inside the plan, so
    * Catalyst prunes the unrequested aggregates. When a branch reads
    * the value histogram beside the Pass-A fold, the histogram is
    * persisted for the duration: exchange reuse does not fire across
    * the branch subtrees, so the data scan and histogram shuffle would
    * otherwise run once per consumer. */
  def profileManyRows(tables: Seq[(String, DataFrame)],
      cfg: ProfilerConfig = ProfilerConfig(),
      columns: Seq[String] = Nil): Seq[org.apache.spark.sql.Row] = {
    val long = longFormatMany(tables)
    val hist = if (histNeeded(cfg)) Some(valueHist(long)) else None
    val shared = hist.filter(_ => histBranches(cfg))
    shared.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val prof = assemble(long, hist, cfg)
    try (if (columns.isEmpty) prof else prof.select(columns.map(col): _*))
      .collect().toSeq
    finally shared.foreach(_.unpersist(false))
  }

  /** [[profileManyRows]] with [[profileManyAuto]]'s exact/sketch
    * switch. */
  def profileManyAutoRows(tables: Seq[(String, DataFrame)],
      exactThreshold: Long = 200000L,
      features: Set[String] = AllFeatures,
      columns: Seq[String] = Nil): Seq[org.apache.spark.sql.Row] = {
    val n = if (exactnessMatters(features))
      Some(tables.map(t => cheapCount(t._2)).max) else None
    val exact = n.forall(_ <= exactThreshold)
    profileManyRows(tables,
      ProfilerConfig(exact = exact, features = features, maxGroupRows = n),
      columns)
  }

  // ---- incremental (mergeable) profiling --------------------------------

  /** Mergeable profile STATE of one data increment: the exact value
    * histogram (table, column, value) → cnt, missing values kept. The
    * histogram is a sufficient statistic for every profile feature
    * except quartiles (those need row-grain values), and it merges
    * exactly: state(A ∪ B) = re-aggregated union of state(A) and
    * state(B). At 100 TB this is THE profile-maintenance shape —
    * profile each daily increment once (one linear, partially-
    * aggregated shuffle bounded by the increment's distinct values),
    * store the state, and fold new increments in without ever
    * re-scanning the lake. The reference re-profiles from scratch per
    * run (`profiling/profiler.py` loops the full frame per column);
    * this is the same result, incrementally.
    *
    * The reference's profile store keeps derived stats, which do NOT
    * merge (distinct counts are not additive); the histogram state is
    * strictly more informative and linear in distinct values. */
  def incrementState(tables: Seq[(String, DataFrame)]): DataFrame =
    valueHist(longFormatMany(tables))

  /** State of the union of increments: re-aggregate the unioned
    * histograms. Associative and commutative — fold in any order,
    * e.g. a tree-merge of per-day states. One partially-aggregated
    * shuffle over the combined distinct values. */
  def mergeStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_.unionByName(_))
      .groupBy("table", "column", "value").agg(sum("cnt").as("cnt"))

  /** Full profile from a (merged) state alone — no data re-scan. All
    * Pass-A features and every frequency branch aggregate from the
    * histogram weighted by cnt, bit-identical to profiling the unioned
    * data directly (counts and sums are linear in the multiplicity;
    * min/max are multiplicity-blind; the decimal mean is exact under
    * any grouping of its terms). Quartiles are the one feature that
    * needs row-grain values — request them on the increments directly
    * instead. */
  def profileFromState(state: DataFrame,
      cfg: ProfilerConfig = ProfilerConfig(features = AllFeatures - "quartiles"))
      : DataFrame = {
    require(!cfg.features("quartiles"),
      "quartiles need row-grain values, not the histogram state — " +
        "profile the increments directly or drop the feature")
    // `long` is only consumed by the quartiles branch, which is
    // excluded above; hand assemble an empty row-grain frame.
    val emptyLong = state.select(col("table"), col("column"), col("value"))
      .filter(lit(false))
    assemble(emptyLong, Some(state), cfg)
  }

  /** Per-column distribution DRIFT between two profile states
    * ([[incrementState]] of two snapshots — e.g. yesterday's crawl vs
    * today's): row/null/distinct deltas plus an exact total-variation
    * distance over the value histograms. "Did the new dump change
    * shape?" is the data-ops question profiles exist to answer; the
    * reference re-profiles and eyeballs, this diffs algebraically.
    *
    * All comparisons are INTEGER-exact: the value-frequency L1 is
    * computed cross-multiplied — Σ|cnt_a·n_b − cnt_b·n_a| — so there
    * is no per-value float division whose summation order could drift
    * between engines; the single closing division (TV distance =
    * l1 / (2·n_a·n_b)) is one exact IEEE op on exact integers.
    * Missing values count as one histogram bucket (null-rate drift is
    * also reported separately). A (table, column) present in only ONE
    * state — empty snapshot, or a column added/removed between crawls —
    * reports with the other side's totals at 0 and tv_distance = 1.0
    * (total drift), never silently vanishes.
    *
    * Scale shape: one full-outer equi-join of the two states on
    * (table, column, value) — linear in distinct values, partially
    * aggregated into O(#columns) rows. The Long cross-products are
    * exact while 2·n_a·n_b < 2⁶³ (~2·10⁹ rows per side); beyond that
    * cast the products to DecimalType(38,0) — same plan, wider
    * buffers. */
  def stateDrift(aState: DataFrame, bState: DataFrame): DataFrame = {
    // each state feeds three consumers (the value join + its totals
    // twice): persist so the state aggregation runs once per side —
    // the trigramFamiliarity convention; StagePersists release
    // contract applies
    val a = graft.ops.StagePersists.track(aState)
    val b = graft.ops.StagePersists.track(bState)
    def totals(s: DataFrame, suffix: String): DataFrame =
      s.groupBy("table", "column").agg(
        sum("cnt").as(s"n_$suffix"),
        coalesce(sum(when(isMissing(col("value")), col("cnt"))), lit(0L))
          .as(s"null_$suffix"),
        count(when(!isMissing(col("value")), lit(1)))
          .as(s"distinct_$suffix"))
    // null-safe on value: a plain using-column join would NOT match the
    // two snapshots' null buckets (null ≠ null under EqualTo), splitting
    // one histogram cell into two phantom drift cells
    val aS = a.select(col("table").as("ta_t"), col("column").as("ta_c"),
      col("value").as("va"), col("cnt").as("cnt_a"))
    val bS = b.select(col("table").as("tb_t"), col("column").as("tb_c"),
      col("value").as("vb"), col("cnt").as("cnt_b"))
    val joined = aS.join(bS,
        aS("ta_t") === bS("tb_t") && aS("ta_c") === bS("tb_c") &&
          aS("va") <=> bS("vb"), "full_outer")
      .select(coalesce(col("ta_t"), col("tb_t")).as("table"),
        coalesce(col("ta_c"), col("tb_c")).as("column"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    // left joins + coalesce-to-0: a column present in only ONE state
    // (snapshot empty, column added/removed between crawls) must still
    // report — that is the most drastic drift, not a row to drop
    val l1 = joined
      .join(broadcast(totals(a, "a").select(col("table"), col("column"),
        col("n_a"))), Seq("table", "column"), "left_outer")
      .join(broadcast(totals(b, "b").select(col("table"), col("column"),
        col("n_b"))), Seq("table", "column"), "left_outer")
      .groupBy("table", "column")
      .agg(sum(abs(col("cnt_a") * coalesce(col("n_b"), lit(0L)) -
          col("cnt_b") * coalesce(col("n_a"), lit(0L))))
        .as("l1_scaled"))
    totals(a, "a").join(totals(b, "b"), Seq("table", "column"), "full_outer")
      .join(l1, Seq("table", "column"))
      .select(col("table"), col("column"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("null_a"), lit(0L)).as("null_a"),
        coalesce(col("null_b"), lit(0L)).as("null_b"),
        coalesce(col("distinct_a"), lit(0L)).as("distinct_a"),
        coalesce(col("distinct_b"), lit(0L)).as("distinct_b"),
        col("l1_scaled"))
      .withColumn("tv_distance",
        when(col("n_a") === 0L || col("n_b") === 0L, lit(1.0))
          .otherwise(col("l1_scaled").cast(DoubleType) /
            (lit(2.0) * col("n_a").cast(DoubleType) *
              col("n_b").cast(DoubleType))))
  }

  /** Per-column value CONCENTRATION from a profile state
    * ([[incrementState]]): the Herfindahl–Hirschman index
    * HHI = Σ (cnt_v / n)² — 1/distinct for uniform columns, → 1 as one
    * value dominates. The log-free concentration measure (entropy's
    * transcendental terms are not portable across engines; HHI is a
    * ratio of two exact integers — Σ cnt² and n² — with ONE closing
    * IEEE division, so engines agree bit-for-bit). The data-ops use:
    * a key column whose HHI jumps stopped being a key; a categorical
    * whose HHI → 1 collapsed to a constant.
    *
    * Missing values count as one bucket (the stateDrift convention).
    * Scale shape: one partially-aggregated groupBy over the
    * distinct-value-sized state. Σ cnt² ≤ n², so the Long sum is
    * exact while the column's TOTAL row count n < 3·10⁹ (a single
    * bucket below that bound does NOT make the sum safe); beyond
    * that cast cnt to DecimalType(38,0) — same plan, wider
    * buffers. */
  def stateConcentration(state: DataFrame): DataFrame =
    state.groupBy("table", "column").agg(
        sum("cnt").as("n"),
        count(lit(1)).as("n_buckets"),
        sum(col("cnt") * col("cnt")).as("sum_sq"))
      .withColumn("hhi", col("sum_sq").cast(DoubleType) /
        (col("n").cast(DoubleType) * col("n").cast(DoubleType)))

  /** Folds Pass-A and joins the requested feature branches into the
    * final profile frame.
    *
    * When the value histogram is available (any frequency feature
    * requested), Pass-A aggregates FROM it, weighted by cnt: the
    * per-value expressions (census, type votes, word splits, regex
    * scans) evaluate once per DISTINCT value instead of once per row,
    * and no second scan of the data is needed. Mode and distinct count
    * fold into the same aggregation. With `pattern` requested the fold
    * has two levels: level 1 groups by (table, column, pattern of the
    * value), level 2 combines the partials by (table, column) and picks
    * the dominant pattern on the way — no separate pattern branch.
    * Without the histogram Pass-A is a direct map-side partial
    * aggregation over rows — no data-cardinality shuffle at all. */
  private def assemble(long: DataFrame, histOpt: Option[DataFrame],
      cfg: ProfilerConfig): DataFrame = {
    val keys = Seq(col("table"), col("column"))
    def agg(df: DataFrame, by: Seq[Column], aggs: Seq[Column]): DataFrame =
      df.groupBy(by: _*).agg(aggs.head, aggs.tail: _*)
    val passA = histOpt match {
      case Some(fullHist) =>
        val accs = passAAccs(cfg, col("cnt")) ++
          (if (cfg.features("mode")) modeAccs else Nil)
        if (cfg.features("pattern"))
          agg(agg(fullHist, keys :+ patternOf(col("value")).as("pattern"),
              accs.map(_.part)),
            keys, accs.map(_.combine) ++ patternAggs)
        else agg(fullHist, keys, accs.map(_.part))
      case None => agg(long, keys, passAAccs(cfg, lit(1L)).map(_.part))
    }
    lazy val hist = histOpt.get.filter(!isMissing(col("value")))
    val branches = Seq.newBuilder[DataFrame]
    if (cfg.features("quartiles"))
      branches += quartilesFrame(long.filter(!isMissing(col("value"))), cfg)
    if (cfg.features("digits")) branches += firstDigitFrame(hist)
    if (cfg.features("chars")) branches += charsFrame(hist, cfg)
    if (cfg.features("keywords")) branches += keywordsFrame(hist, cfg)
    branches.result()
      .foldLeft(passA)((acc, b) =>
        acc.join(broadcast(b), Seq("table", "column"), "left_outer"))
      .select(profileColumns(cfg): _*)
  }

  def profileTyped(df: DataFrame, table: String,
      cfg: ProfilerConfig = ProfilerConfig()): Dataset[ColumnProfile] = {
    val spark = df.sparkSession
    import spark.implicits._
    profile(df, table, cfg).as[ColumnProfile]
  }

  /** Dataset-level rollup (A17; reference: profiling/profiler.py:581-630). */
  def datasetProfile(profiles: DataFrame): DataFrame =
    profiles.groupBy("table").agg(
      count(lit(1)).as("n_columns"),
      max("row_count").as("n_rows"),
      avg("null_ratio").as("avg_null_ratio"),
      coalesce(var_pop("null_ratio"), lit(0.0)).as("var_null_ratio"),
      avg("unique_ratio").as("avg_unique_ratio"),
      coalesce(var_pop("unique_ratio"), lit(0.0)).as("var_unique_ratio"),
      avg("avg_len").as("avg_len_mean"),
      avg(when(col("inferred_type").isin("integer", "float"), 1.0).otherwise(0.0))
        .as("numeric_column_ratio"),
      avg(when(col("inferred_type") === "string", 1.0).otherwise(0.0))
        .as("string_column_ratio"))
}

/** Minimal bundled English stopword list (public-domain word list;
  * replaces the reference's NLTK dependency —
  * reference: profiling/profiler.py:178-221). */
object StopWords {
  val english: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "had", "has", "have", "he", "her", "his", "if", "in", "is", "it", "its",
    "no", "not", "of", "on", "or", "our", "she", "that", "the", "their",
    "them", "then", "there", "these", "they", "this", "to", "was", "we",
    "were", "which", "will", "with", "you", "your")
}
