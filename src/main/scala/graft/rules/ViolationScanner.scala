package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Compiles [[RuleSpec]]s to Catalyst predicates and evaluates them in
  * as few passes as possible (SURVEY.md §3.2 "Spark shape").
  *
  * Scale design: ALL scalar rules for a table evaluate in ONE scan —
  * each rule becomes a boolean column, violations unpivot to the long
  * Violation layout only for flagged cells (violations are sparse;
  * exploding them is cheap). Relational rules add: one duplicate-key
  * semi-join for ALL single-column unique rules, one per composite key
  * and FD rule, and a broadcast/shuffle anti-join per inclusion rule.
  * Nothing collects to the driver.
  */
object ViolationScanner {

  /** True when the cell VIOLATES the rule. Scalar rules only.
    *
    * The rule model is stringly-typed (CSV lake semantics: missing =
    * NULL or blank, numbers parsed from text). When the actual column
    * is already numeric the string round-trip is the identity —
    * `cast(d as string)` is never blank and `try_cast` back returns
    * the same value — so `schema` lets the hot predicates (presence,
    * range) compile to direct numeric comparisons. That matters
    * because the predicate runs over EVERY row pre-filter, while the
    * string `value` in the output is only built for flagged rows. */
  def violationPredicate(rule: RuleSpec,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Column = {
    import org.apache.spark.sql.types.{NumericType, FloatType}
    // FloatType is excluded: cast(float as double) widens 0.1f to
    // 0.10000000149…, while the string round-trip parses the shortest
    // decimal "0.1" to 0.1 — band-edge verdicts would flip. Floats take
    // the string path, which IS the documented semantics.
    def numericField(c: String): Boolean =
      schema.flatMap(_.find(_.name == c)).exists(f =>
        f.dataType.isInstanceOf[NumericType] && f.dataType != FloatType)
    def s(c: String): Column = col(s"`$c`").cast(StringType)
    def present(c: String): Column =
      if (numericField(c)) col(s"`$c`").isNotNull
      else s(c).isNotNull && trim(s(c)) =!= ""
    rule match {
      case NotNullRule(c, _) => !present(c)
      case RegexRule(c, p, _) => present(c) && !s(c).rlike(p)
      case RangeRule(c, lo, hi, _) =>
        val d =
          if (numericField(c)) col(s"`$c`").cast("double")
          else s(c).try_cast("double")
        present(c) && (d.isNull || d < lo || d > hi)
      case EnumRule(c, allowed, _) =>
        present(c) && !s(c).isin(allowed: _*)
      case DateFormatRule(c, f, _) =>
        // DSL call, not an interpolated expr(): a quote in the format or
        // a backtick in the column name must stay data, not SQL
        present(c) && try_to_timestamp(s(c), lit(f)).isNull
      case DecimalPrecisionRule(c, k, _) =>
        present(c) &&
          length(regexp_extract(s(c), "^[+-]?\\d+\\.(\\d*?)0*$", 1)) > k
      case LengthRule(c, lo, hi, _) =>
        present(c) && (length(s(c)) < lo || length(s(c)) > hi)
      case SingleValueRule(c, expected, _) =>
        present(c) && s(c) =!= expected
      case CrossFieldRule(_, pred, _) => !expr(pred)
      case r => throw new IllegalArgumentException(
        s"${r.name} is relational; handled by scan(), not a row predicate")
    }
  }

  /** Scalar rules compile to per-row predicates (streamable); the rest
    * need bounded input (windows/joins). */
  def scalarRule(r: RuleSpec): Boolean = r match {
    case _: UniqueRule | _: CompositeUniqueRule | _: FunctionalDependencyRule |
         _: InclusionRule => false
    case _ => true
  }
  private def isScalar(r: RuleSpec): Boolean = scalarRule(r)

  /** Evaluate `rules` against `df`. `keyCol` provides the stable row
    * identity (a primary-key-ish column; cell addressing per SURVEY.md
    * §1.1). `parents` supplies lookup tables for [[InclusionRule]]s.
    * Returns the Violation layout: (table, column, row_id, value, rule,
    * severity). */
  def scan(df: DataFrame, table: String, rules: Seq[RuleSpec], keyCol: String,
      parents: Map[String, DataFrame] = Map.empty): DataFrame = {
    val key = col(s"`$keyCol`").cast("long")

    // --- scalar rules: one scan, one struct per rule, explode sparse hits
    val scalarRules = rules.filter(isScalar)
    val scalarViolations: Option[DataFrame] =
      if (scalarRules.isEmpty) None
      else {
        val schemaOpt = Some(df.schema)
        val hits = scalarRules.map { r =>
          val valueCol = r match {
            case cf: CrossFieldRule => lit(cf.predicate)
            case _ => coalesce(col(s"`${r.column}`").cast(StringType), lit(""))
          }
          when(violationPredicate(r, schemaOpt),
            struct(lit(r.column).as("column"), valueCol.as("value"),
              lit(r.name).as("rule"), lit(r.severity).as("severity")))
        }
        // Pre-filter on "any rule violated" BEFORE building/exploding
        // the hit structs: violations are sparse, so the explode then
        // touches only flagged rows. The predicates are evaluated twice
        // for flagged rows only — the clean-row majority pays one
        // codegen'd boolean OR and never allocates a struct.
        val anyHit = scalarRules.map(violationPredicate(_, schemaOpt)).reduce(_ || _)
        Some(df
          .filter(anyHit)
          .select(key.as("row_id"), array(hits: _*).as("hits"))
          .select(col("row_id"), explode(col("hits")).as("h"))
          .filter(col("h").isNotNull)
          .select(col("h.column"), col("row_id"), col("h.value"),
            col("h.rule"), col("h.severity")))
      }

    // --- unique rules: ONE duplicate-key semi-join for all of them. The
    // rules' columns unpivot to a long (row_id, rule_idx, value) frame;
    // one groupBy finds every rule's duplicated values (keyed by rule
    // index, so two rules on one column count apart, as they flag
    // apart) and one semi-join flags their rows. groupBy, not a window
    // `count().over(partitionBy(value))`: it partial-aggregates
    // map-side, so a hot key (a mostly-constant column a uniqueness
    // rule got mis-assigned to) is no unsplittable straggler, and the
    // semi-join back is AQE-broadcastable/skew-splittable. Null-safe
    // equality keeps NULL keys grouped together.
    val uniqueRules = rules.collect { case r: UniqueRule => r }
    val uniqueViolations: Option[DataFrame] =
      if (uniqueRules.isEmpty) None
      else {
        val cells = uniqueRules.zipWithIndex.map { case (r, i) =>
          struct(lit(i).as("rule_idx"), lit(r.column).as("column"),
            col(s"`${r.column}`").cast(StringType).as("value"),
            lit(r.name).as("rule"), lit(r.severity).as("severity"))
        }
        val long = df.select(key.as("row_id"), explode(array(cells: _*)).as("u"))
          .select(col("row_id"), col("u.*"))
        val dup = long.groupBy(col("rule_idx").as("__dup_idx"), col("value").as("__dup_v"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1)
        Some(long.join(dup,
            col("rule_idx") === col("__dup_idx") && col("value") <=> col("__dup_v"),
            "left_semi")
          .select(col("column"), col("row_id"), col("value"), col("rule"),
            col("severity")))
      }

    // --- composite-key rules: same duplicate semi-join over the
    // multi-column tuple. Grouping is by the ACTUAL columns (not a
    // concatenation — "a,b"+"c" and "a"+"b,c" must not collide); the key
    // columns are aliased to positional __k0.. so a table column named
    // row_id/n/value cannot collide with the scan's working columns. The
    // joined string in the output is display-only.
    val compositeViolations = rules.collect { case r @ CompositeUniqueRule(cols, sev) =>
      val aliased = cols.zipWithIndex.map { case (c, i) => col(s"`$c`").as(s"__k$i") }
      val dup = df.groupBy(aliased: _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).drop("__n")
      val joinCond = cols.zipWithIndex
        .map { case (c, i) => col(s"`$c`") <=> dup(s"__k$i") }
        .reduce(_ && _)
      df.join(dup, joinCond, "left_semi")
        .select(lit(r.column).as("column"), key.as("row_id"),
          concat_ws(",", cols.map(c =>
            coalesce(col(s"`$c`").cast(StringType), lit(""))): _*).as("value"),
          lit(r.name).as("rule"), lit(sev).as("severity"))
    }

    // --- FD rules: flag all rows of lhs groups with >1 distinct rhs
    val fdViolations = rules.collect { case r @ FunctionalDependencyRule(lhs, rhs, sev) =>
      val bad = df.groupBy(col(s"`$lhs`").as("__lhs"))
        .agg(countDistinct(col(s"`$rhs`")).as("__n"))
        .filter(col("__n") > 1)
        .select(col("__lhs"))
      df.join(bad, col(s"`$lhs`") === col("__lhs"), "left_semi")
        .select(lit(rhs).as("column"), key.as("row_id"),
          col(s"`$rhs`").cast(StringType).as("value"),
          lit(r.name).as("rule"), lit(sev).as("severity"))
    }

    // --- inclusion rules: anti-join against parent
    val inclViolations = rules.collect { case r @ InclusionRule(c, pt, pc, sev) =>
      val parent = parents.getOrElse(pt, sys.error(s"missing parent table $pt"))
        .select(col(s"`$pc`").as("__pv")).distinct()
      df.join(parent, col(s"`$c`") === col("__pv"), "left_anti")
        .select(lit(c).as("column"), key.as("row_id"),
          col(s"`$c`").cast(StringType).as("value"),
          lit(r.name).as("rule"), lit(sev).as("severity"))
    }

    val parts = scalarViolations.toSeq ++ uniqueViolations.toSeq ++
      compositeViolations ++ fdViolations ++ inclViolations
    val all = parts.reduceLeft(_.unionByName(_))
    all.select(lit(table).as("table"), col("column"), col("row_id"),
      col("value"), col("rule"), col("severity"))
  }

  /** Precision guard P11 (reference: rules/evaluation.py:637-647): drop
    * (column, rule) groups that flag every row — the rule was
    * mis-assigned. `rowCount` is the table's row count.
    *
    * groupBy + broadcast join, not `count().over(Window.partitionBy(...))`:
    * a mis-assigned rule's violations are O(rows) BY DEFINITION — the
    * exact case this guard exists for — and a window would buffer all of
    * them in one task. The per-rule count frame is O(#rules) rows. */
  def allRowsGuard(violations: DataFrame, rowCount: Long): DataFrame = {
    val keep = violations.groupBy("table", "column", "rule")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") < rowCount)
      .drop("__n")
    violations.join(broadcast(keep), Seq("table", "column", "rule"), "left_semi")
  }
}
